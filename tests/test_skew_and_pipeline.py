"""Skew-handling evidence (north_rule) + checkpointed pipeline e2e."""

import pyspark.sql.functions as F
import pytest


def test_hot_tile_exists_and_salting_balances(spark):
    """The pages fixture plants ~50% of bbox points in one z18 tile
    (SURVEY.md §7 'deliberately skewed fixture'); the salted repartition
    must spread that tile across many tasks."""
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages

    pts = geotagged_points(pages(spark, 20000), 18)
    top = (
        pts.groupBy("tile_id").count().orderBy(F.col("count").desc()).limit(1).collect()[0]
    )
    total = pts.count()
    # the planted hot window concentrates ~36% of points over 1-2 z18 tiles
    assert top["count"] / total > 0.2

    salt = 16
    salted = pts.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salt)).cast("int")
    ).repartition(salt * 2, F.col("tile_id"), F.col("salt"))
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    # without salting the hot tile would put >25% of rows in ONE partition;
    # with salting the max partition holds a small multiple of the mean
    assert max(counts) < 4 * (sum(counts) / len(counts))
    assert max(counts) / total < 0.15


def test_pages_table_catalog_path(spark):
    from robosat_spark.operators.spatial_join import assign
    from robosat_spark.sources.fixtures import features
    from robosat_spark.sources.pages import pages, pages_table

    pages(spark, 2000).createOrReplaceTempView("pages_v")
    pg = pages_table(spark, "pages_v")
    assert pg.columns == ["url", "warc_ts", "html", "text", "lang"]
    out = assign(spark, pg, features(spark), zoom=16)
    assert out.count() > 0


def test_checkpointed_mask_pipeline_resume(spark, tmp_path):
    """cover -> rasterize -> synth-probs -> vectorize through the Pipeline
    runner: rerun after losing the last stage reuses the earlier stages."""
    from robosat_spark.operators.cover import cover
    from robosat_spark.operators.features import extract_features
    from robosat_spark.operators.rasterize import (
        probs_to_masks,
        rasterize_masks,
        synthesize_probs,
    )
    from robosat_spark.plans import Pipeline, stage_metrics
    from robosat_spark.sources.oracle_features import oracle_rect_features

    root = str(tmp_path / "job")
    ft = oracle_rect_features(spark).limit(1)

    def run():
        p = Pipeline(spark, root)
        tiles = p.stage(
            "tiles", lambda: cover(ft, zoom=12).select("x", "y").limit(8), upstream=[]
        )
        masks = p.stage(
            "masks",
            lambda: rasterize_masks(spark, tiles, ft, zoom=12, size=128),
            upstream=["tiles"],
        )
        pred = p.stage(
            "pred",
            lambda: probs_to_masks(synthesize_probs(masks, noise=0.01)),
            upstream=["masks"],
        )
        feats = p.stage(
            "features",
            lambda: extract_features(pred, denoise_px=8, grow_px=8).drop("rings"),
            upstream=["pred"],
        )
        return p, feats

    p1, feats1 = run()
    n1 = feats1.count()
    assert n1 > 0
    assert all(p1.ran.values())

    p1.invalidate("features")
    p2, feats2 = run()
    assert p2.ran == {"tiles": False, "masks": False, "pred": False, "features": True}
    assert feats2.count() == n1

    m = stage_metrics(spark, root)
    per_stage = {r["stage"]: r["rows"] for r in m.groupBy("stage").agg(
        F.sum("rows").alias("rows")).select(F.col("stage"), F.col("rows")).collect()}
    assert per_stage["tiles"] == 8 and per_stage["masks"] == 8 and per_stage["pred"] == 8
    assert per_stage["features"] == n1


def test_assign_auto_forces_both_paths_identical(spark):
    """The two physical plans of the flagship join — broadcast index +
    Arrow refine (``assign``) and JVM cover join + codegen refine
    (``assign_cover_join``) — must return identical row sets."""
    from robosat_spark.operators.spatial_join import assign, assign_cover_join
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, "/root/testdata/sf0.001")
    ft = oracle_rect_features(spark)

    cols = ["url", "feature_id"]
    got_bc = sorted(map(tuple, assign(spark, pg, ft, zoom=7).select(*cols).collect()))
    got_jvm = sorted(
        map(tuple, assign_cover_join(spark, pg, ft, zoom=7).select(*cols).collect())
    )
    assert got_bc == got_jvm and len(got_bc) > 0


def test_flagship_scan_prunes_payload_columns(spark, tmp_path):
    """Plan audit: the flagship prep must prune the parquet scan to
    (url, warc_ts, text) — the html payload and lang columns never leave
    the scan (at 100 TB the html column is ~90% of the bytes)."""
    from robosat_spark.operators.spatial_join import geotagged_points
    from robosat_spark.sources.pages import pages

    path = str(tmp_path / "pages")
    pages(spark, 500).write.parquet(path)
    pts = geotagged_points(spark.read.parquet(path), zoom=12)
    plan = pts._jdf.queryExecution().executedPlan().toString()
    scan_line = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "html" not in scan_line and "lang" not in scan_line, scan_line
    assert "url" in scan_line and "text" in scan_line


def test_assign_count_variants_identical(spark):
    """The fused (no-shuffle) and salted-repartition count readouts must
    produce identical (tile, feature, n) rows — the plan choice is pure
    physics, never semantics."""
    from robosat_spark.operators.spatial_join import assign_count_by_feature
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, "/root/testdata/sf0.001")
    ft = oracle_rect_features(spark)
    fused = assign_count_by_feature(spark, pg, ft, zoom=7)
    salted = assign_count_by_feature(spark, pg, ft, zoom=7, cluster_by_cell=True)
    a = sorted(map(tuple, fused.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0
    # fused plan's only exchange is the tiny final groupBy; the salted
    # variant adds the full point repartition before the refine
    plan_f = fused._jdf.queryExecution().executedPlan().toString()
    plan_s = salted._jdf.queryExecution().executedPlan().toString()
    assert plan_f.count("Exchange") < plan_s.count("Exchange"), (plan_f, plan_s)


def test_gate_plans_have_no_pathological_joins(spark):
    """Plan guard over representative relational gates: no
    BroadcastNestedLoopJoin and no CartesianProduct may appear (the two
    shapes that silently turn a 100 TB join into a full cross of the
    inputs). The two declared exactness baselines (embedding_neardup's
    all-pairs, knn_label_accuracy's brute candidates) are exempt by
    design and not listed here."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ["market_join", "semi_join", "url_curation", "pricing_summary",
                 "iceberg_deletes", "cms_tokens", "value_quantiles",
                 "top_tokens", "fingerprint", "text_metrics", "sample_split"]:
        plan = qs[name](spark, "/root/testdata/sf0.001")._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_unsplittable_scan_with_unreadable_footer_adds_no_exchange(spark, tmp_path):
    """A truncated parquet file has no readable footer, so its split units
    are unknown: the fan-out treats it as splittable and returns the input
    unchanged instead of adding an unconditional repartition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from robosat_spark.sources.scan import fan_out_unsplittable_scan

    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"v": list(range(5000))}), good)
    data = good.read_bytes()
    (tmp_path / "part-0.parquet").write_bytes(data[: len(data) // 2])
    good.unlink()
    df = spark.range(100)
    out = fan_out_unsplittable_scan(spark, df, str(tmp_path), min_bytes=1)
    assert out is df
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_unsplittable_scan_propagates_unexpected_errors(spark, tmp_path, monkeypatch):
    """Only unreadable files are tolerated; a programming error inside the
    footer read propagates instead of silently disabling the gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from robosat_spark.sources.scan import fan_out_unsplittable_scan

    pq.write_table(pa.table({"v": list(range(5000))}), tmp_path / "part-0.parquet")

    def broken(*args, **kwargs):
        raise TypeError("boom")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    with pytest.raises(TypeError, match="boom"):
        fan_out_unsplittable_scan(spark, spark.range(100), str(tmp_path), min_bytes=1)


def test_feature_index_matches_row_collect_on_chunked_arrow(spark):
    """The Arrow-built driver index equals a collect()-row reference on a
    multi-partition feature table (so ``toArrow`` returns several chunks),
    holes included; and the cover-tile side of the candidate plan is a
    job-free LocalRelation, not an RDD."""
    import numpy as np

    from robosat_spark.functions.tiles import pack_tile_id_py
    from robosat_spark.kernels.geometry import as_ring
    from robosat_spark.kernels.raster import cover_rings
    from robosat_spark.operators.spatial_join import _candidates, _collect_feature_index
    from robosat_spark.sources.fixtures import features
    from robosat_spark.sources.pages import pages

    zoom = 16
    ft = features(spark).select("feature_id", "rings").repartition(3).localCheckpoint()
    assert ft.rdd.getNumPartitions() >= 3
    assert len(ft.toArrow().column("rings").chunks) >= 2
    rows = ft.collect()
    assert any(len(r["rings"]) > 1 for r in rows), "fixture needs a polygon with a hole"

    want_tiles: dict = {}
    want_rings: dict = {}
    for row in rows:
        rings = [as_ring(r) for r in row["rings"]]
        want_rings[row["feature_id"]] = rings
        for x, y in cover_rings(rings, zoom):
            want_tiles.setdefault(pack_tile_id_py(zoom, int(x), int(y)), []).append(
                row["feature_id"]
            )
    tile_map, rings_map = _collect_feature_index(ft, zoom)
    assert tile_map == want_tiles
    assert rings_map.keys() == want_rings.keys()
    for fid, rings in want_rings.items():
        got = rings_map[fid]
        assert len(got) == len(rings)
        for a, b in zip(got, rings):
            assert a.dtype == b.dtype and a.shape == b.shape and np.array_equal(a, b), fid

    _, pts = _candidates(spark, pages(spark, 200), ft, zoom, ["lon", "lat", "tile_id"], False)
    plan = pts._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
