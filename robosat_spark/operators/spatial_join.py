"""Point-in-polygon page->feature assignment: the flagship spatial join (J2/J3).

Three entry points over two physical plans (Catalyst can't know spatial
semantics, so the plan is explicit — SURVEY.md §4):

``assign``
    The row readout. Filter-refine against a *broadcast* per-tile feature
    index: pages keep their scan partitioning (zero shuffle of the big
    side), a broadcast semi-join on the covered tiles drops every point
    whose cell holds no feature, and the exact PIP refine is a vectorized
    Arrow batch pass (``kernels.geometry.points_in_edges``).
    ``cluster_by_cell=True`` adds a salted repartition by cell before the
    refine (BASELINE.json north_rule): pages are hashed into salt buckets
    *within* each cell, so one hot tile spreads over many tasks and the
    output comes out cell-clustered.

``assign_count_by_feature``
    The count readout of the same plan, with the aggregation pushed
    through the refine (map-side combine in the Arrow pass).

``assign_cover_join``
    All-JVM: broadcast hash join of the points against the exploded
    (tile, feature, rings) cover table with the codegen crossing-number
    ``point_in_rings`` in the join condition. No driver-collected index and
    no Python workers, so it also runs on a stream (streaming.ingest).

All three return identical rows; the polygon side must fit a broadcast.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tiles import geotag_lat_fast, geotag_lon_fast, pack_tile_id, tile_x, tile_y
from ..kernels.geometry import points_in_edges, ring_edges


def geotagged_points(pages: DataFrame, zoom: int) -> DataFrame:
    """pages -> (url, warc_ts, lon, lat, tile_id): the scan-side prep.

    Geotag extraction is pure regex+cast (G27) and tile encode is pure
    arithmetic — both JVM-side; column pruning still reaches the scan,
    while the geotag filter deliberately does NOT push below the
    projection (see the barrier comment below: pushing it re-evaluates
    the extraction per reference)."""
    lon = geotag_lon_fast(F.col("text"))
    lat = geotag_lat_fast(F.col("text"))
    # Evaluation barrier (r7, guide §4.4 applied to built-in exprs): with
    # plain projection fields, Catalyst pushes the isNotNull filter
    # through the projection AND through the scan-parallelism fan
    # exchange (sources/scan.fan_out_unsplittable_scan) back onto the
    # unsplittable single-task scan, where its condition re-inlines the
    # whole text build + geotag parse — the exact single-threaded wall
    # the fan exists to remove, plus a duplicated evaluation above.
    # Filters only push through a Project whose fields are ALL
    # deterministic, so wrapping lon/lat in an always-true
    # non-deterministic WHEN pins every downstream filter above this
    # projection, evaluating attribute references: the parse runs once,
    # on the fanned (parallel) side. spark_partition_id() >= 0 is true
    # by construction on every task attempt (retry-safe, and legal in
    # Structured Streaming, unlike monotonically_increasing_id), so the
    # value is identical — verified exceptAll-both-ways empty on an
    # 800k-row 10x points stage and by all 50 oracle gates at two SFs.
    # Measured on the 10x set at 32 cores (noop sink): 8.0 s plain ->
    # 2.0-2.4 s with a filter-side WHEN -> 1.4-2.0 s with this shape.
    # tests/test_streaming.py pins the Filter-above-Project shape.
    nd = F.spark_partition_id() >= 0
    pts = pages.select(
        "url",
        "warc_ts",
        F.when(nd, lon).alias("lon"),
        F.when(nd, lat).alias("lat"),
    ).filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    return pts.withColumn(
        "tile_id", pack_tile_id(zoom, tile_x(F.col("lon"), zoom), tile_y(F.col("lat"), zoom))
    )


def _ring_arrays(rings) -> list[list[np.ndarray]]:
    """Arrow ``list<list<list<double>>>`` (one polygon per row) -> per row,
    a list of dense (N, d) float64 rings cut out of the flattened
    coordinate buffer — no per-point Python objects.

    Lengths come from ``list_value_length`` and values from ``flatten``,
    both of which honour an array's slice offset (raw ``.offsets`` would
    not), so sliced or chunked arrays are safe."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(rings, pa.ChunkedArray):
        rings = rings.combine_chunks()
    n_rings = pc.list_value_length(rings).fill_null(0).to_numpy()
    ring_lists = rings.flatten()
    n_pts = pc.list_value_length(ring_lists).fill_null(0).to_numpy()
    points = ring_lists.flatten()
    n_coords = pc.list_value_length(points).to_numpy(zero_copy_only=False)
    dims = np.unique(n_coords)
    if dims.size > 1 or (dims.size and dims[0] < 2):
        raise ValueError(f"ring points must share one dimension >= 2, got {dims.tolist()}")
    d = int(dims[0]) if dims.size else 2
    xy = points.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, d)
    pt_off = np.concatenate([[0], np.cumsum(n_pts)]).tolist()
    ring_off = np.concatenate([[0], np.cumsum(n_rings)]).tolist()
    return [
        [xy[pt_off[r] : pt_off[r + 1]] for r in range(ring_off[i], ring_off[i + 1])]
        for i in range(len(n_rings))
    ]


def _collect_feature_index(features: DataFrame, zoom: int):
    """Driver-side build of {tile_id: [feature_id]} + {feature_id: rings}.

    The 'R-tree' of the reference (/root/reference/robosat/spatial/core.py:80-100)
    becomes a tile-bucketed index: the cover expansion IS the spatial index,
    and equi-join on tile_id replaces the bbox probe. One Arrow collect of
    the (small) feature table (``toArrow``: columnar end to end, no
    per-point ``Row`` objects), rings cut out of its coordinate buffer with
    NumPy (:func:`_ring_arrays`), then the cover kernel runs IN the driver
    — no Python-worker spin-up, ~ms instead of seconds of fixed cost per
    query."""
    from ..functions.tiles import pack_tile_id_py
    from ..kernels.raster import cover_rings

    table = features.select("feature_id", "rings").toArrow()
    fids = table.column("feature_id").to_pylist()
    tile_map: dict[int, list[int]] = {}
    rings_map: dict[int, list] = {}
    for fid, rings in zip(fids, _ring_arrays(table.column("rings"))):
        rings_map[fid] = rings
        for x, y in cover_rings(rings, zoom):
            tile_map.setdefault(pack_tile_id_py(zoom, int(x), int(y)), []).append(fid)
    return tile_map, rings_map


def _candidates(
    spark: SparkSession,
    pages: DataFrame,
    features: DataFrame,
    zoom: int,
    cols: list[str],
    cluster_by_cell: bool,
):
    """-> (broadcast index, candidate points projected to ``cols``): the
    filter half of filter-refine, shared by both broadcast readouts.

    Index collect -> broadcast -> JVM-side broadcast semi-join on the
    covered-tile set, which kills every point whose cell can't contain a
    feature BEFORE any shuffle or Arrow transfer (at web scale most points
    are elsewhere, so this is the biggest data-volume cut in the plan, kept
    inside whole-stage codegen) -> projection to the columns the refine
    reads (Catalyst cannot prune into a UDF) -> optionally a salted
    repartition by cell. The covered-tile side is built from an Arrow table,
    which Spark plans as a ``LocalRelation``: its rows already sit in the
    JVM, so the broadcast build is a short JVM-only collect. A list-built
    side is a ``PythonRDD`` whose broadcast job first starts a Python
    worker to unpickle the rows (noop semi-join of 1M rows against 603
    tiles, 4 cores: 0.58 s -> 0.27 s median). The salt is a hash of the
    candidate row; the partition count is explicit because AQE would
    otherwise coalesce the byte-light exchange and strand the compute-heavy
    refine on a handful of tasks."""
    import pyarrow as pa

    index = _collect_feature_index(features, zoom)
    bc = spark.sparkContext.broadcast(index)
    cover_tiles = spark.createDataFrame(
        pa.table({"tile_id": pa.array(list(index[0]), type=pa.int64())})
    )
    pts = geotagged_points(pages, zoom).join(F.broadcast(cover_tiles), "tile_id", "left_semi")
    pts = pts.select(*cols)
    if cluster_by_cell:
        salt = max(32, 2 * spark.sparkContext.defaultParallelism)
        pts = (
            pts.withColumn("salt", F.pmod(F.hash(*cols), F.lit(salt)).cast("int"))
            .repartition(salt, F.col("tile_id"), F.col("salt"))
            .drop("salt")
        )
    return bc, pts


def _rows_by_feature(tids, tile_map):
    """Bucket batch rows by candidate FEATURE (via their tile): one PIP
    call per feature per batch instead of one per (tile, feature) —
    fewer, larger vectorized calls (a feature's cover spans several
    tiles, and per-call fixed cost dominated small per-tile groups)."""
    order = np.argsort(tids, kind="stable")
    sorted_tids = tids[order]
    uniq = np.unique(sorted_tids)
    starts = np.searchsorted(sorted_tids, uniq, side="left")
    ends = np.searchsorted(sorted_tids, uniq, side="right")
    per_fid = {}
    for t, s, e in zip(uniq.tolist(), starts.tolist(), ends.tolist()):
        fids = tile_map.get(t)
        if not fids:
            continue
        rows = order[s:e]
        for fid in fids:
            per_fid.setdefault(fid, []).append(rows)
    for fid, row_lists in per_fid.items():
        yield fid, row_lists[0] if len(row_lists) == 1 else np.concatenate(row_lists)


_ROW_COLS = ["url", "warc_ts", "lon", "lat", "tile_id"]
_ASSIGN_SCHEMA = (
    "url STRING, warc_ts TIMESTAMP, lon DOUBLE, lat DOUBLE, tile_id LONG, feature_id LONG"
)
_COUNT_COLS = ["lon", "lat", "tile_id"]
_COUNT_SCHEMA = "tile_id LONG, feature_id LONG, n LONG"


def _refine_factory(bc_index, counts: bool):
    """Arrow-native PIP refine for ``mapInArrow``: numeric columns are read
    zero-copy into NumPy and each candidate feature is tested once per
    batch against edge tables prepared once per task (guide §4.5).

    Row readout (``counts=False``): hits are materialized with
    ``RecordBatch.take`` (Arrow C++), so the url/warc_ts payload NEVER
    becomes Python objects — the earlier pandas form turned every url
    into a Python string and back, which saturated memory bandwidth (32
    workers ran no faster than 8).

    Count readout (``counts=True``): MAP-SIDE COMBINE — each batch emits
    one (tile_id, feature_id, n) row per hit group instead of one row per
    hit, so output bytes drop from O(hits) to O(groups per batch)."""

    def refine(batches):
        import pyarrow as pa

        tile_map, rings_map = bc_index.value
        edges = {fid: [ring_edges(r) for r in rings] for fid, rings in rings_map.items()}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            lon = batch.column("lon").to_numpy(zero_copy_only=False)
            lat = batch.column("lat").to_numpy(zero_copy_only=False)
            tids = batch.column("tile_id").to_numpy(zero_copy_only=False).astype(np.int64)
            hits = []
            for fid, rows in _rows_by_feature(tids, tile_map):
                hit = rows[points_in_edges(lon[rows], lat[rows], edges[fid])]
                if hit.size:
                    hits.append((fid, hit))
            if not hits:
                continue
            # mapInArrow binds output columns POSITIONALLY to the declared
            # schema — emit exactly the schema's order
            if counts:
                groups = [(fid, *np.unique(tids[hit], return_counts=True)) for fid, hit in hits]
                columns = [
                    np.concatenate([t for _, t, _ in groups]),
                    np.concatenate([np.full(t.size, fid) for fid, t, _ in groups]),
                    np.concatenate([n for _, _, n in groups]),
                ]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=pa.int64()) for c in columns],
                    names=["tile_id", "feature_id", "n"],
                )
            else:
                take = pa.array(np.concatenate([hit for _, hit in hits]))
                fids = np.concatenate([np.full(hit.size, fid) for fid, hit in hits])
                yield pa.RecordBatch.from_arrays(
                    [batch.column(name).take(take) for name in _ROW_COLS]
                    + [pa.array(fids, type=pa.int64())],
                    names=_ROW_COLS + ["feature_id"],
                )

    return refine


def assign(
    spark: SparkSession,
    pages: DataFrame,
    features: DataFrame,
    zoom: int,
    cluster_by_cell: bool = False,
) -> DataFrame:
    """-> (url, warc_ts, lon, lat, tile_id, feature_id): one row per
    (page, containing feature).

    Plan: scan -> geotag/tile-encode (codegen) -> broadcast semi-join tile
    prefilter -> Arrow exact refine against the broadcast index. Without
    ``cluster_by_cell`` candidate rows never hit a shuffle; with it they
    are salted and repartitioned by cell first — for downstream consumers
    that benefit from cell-clustered output (e.g. a groupBy(tile) then
    shares the exchange) or per-tile sinks."""
    bc, pts = _candidates(spark, pages, features, zoom, _ROW_COLS, cluster_by_cell)
    return pts.mapInArrow(_refine_factory(bc, counts=False), _ASSIGN_SCHEMA)


def assign_count_by_feature(
    spark: SparkSession,
    pages: DataFrame,
    features: DataFrame,
    zoom: int,
    cluster_by_cell: bool = False,
) -> DataFrame:
    """-> (tile_id, feature_id, n_pages): the count readout of the flagship
    join with aggregation pushed THROUGH the spatial refine.

    Default plan (no shuffle of points at all): scan -> geotag/encode
    (codegen) -> broadcast semi-join prefilter -> project to the 3 numeric
    columns the count needs -> Arrow count-refine FUSED onto the scan
    partitions with map-side combine -> tiny final groupBy. With a
    broadcast index the refine is embarrassingly parallel and scan order
    already spreads any hot cell across every partition — repartitioning
    by cell would CREATE the skew the salt then has to fix, and at cluster
    scale the avoided candidate shuffle is network traffic, not page-cache
    I/O. Measured 2->8-core scaling efficiency rose from 0.77 (salted
    shuffle) to 0.87 (fused) on the 60M-row north-rule job at equal 8-core
    wall time.

    ``cluster_by_cell=True`` restores the salted repartition for consumers
    that need cell-clustered output partitioning."""
    bc, pts = _candidates(spark, pages, features, zoom, _COUNT_COLS, cluster_by_cell)
    partial = pts.mapInArrow(_refine_factory(bc, counts=True), _COUNT_SCHEMA)
    return partial.groupBy("tile_id", "feature_id").agg(F.sum("n").alias("n_pages"))


def point_in_rings(px, py, rings):
    """Even-odd point-in-polygon as a PURE COLUMN EXPRESSION: fold the
    crossing-number test over every edge of every ring (holes included —
    crossing parity over all rings IS the even-odd rule). Same convention
    as kernels.geometry.points_in_polygon, but evaluated by whole-stage
    codegen — no Python, no Arrow, vectorized by Tungsten."""

    def ring_crossings(acc_r, ring):
        idx = F.sequence(F.lit(0), F.size(ring) - F.lit(2))

        def edge(acc, i):
            p1 = F.element_at(ring, i + F.lit(1))
            p2 = F.element_at(ring, i + F.lit(2))
            xi, yi = p1.getItem(0), p1.getItem(1)
            xj, yj = p2.getItem(0), p2.getItem(1)
            crosses = ((yi > py) != (yj > py)) & (
                px < (xj - xi) * (py - yi) / (yj - yi) + xi
            )
            return acc + F.when(crosses, F.lit(1)).otherwise(F.lit(0))

        return acc_r + F.aggregate(idx, F.lit(0), edge)

    total = F.aggregate(rings, F.lit(0), ring_crossings)
    return total % 2 == 1


def assign_cover_join(
    spark: SparkSession, pages: DataFrame, features: DataFrame, zoom: int
) -> DataFrame:
    """All-JVM PIP assignment: cover equi-join + codegen crossing-number.

    Plan: scan -> geotag/tile-encode (codegen) -> broadcast hash join on
    tile_id against the exploded (tile, feature, rings) cover table ->
    ``point_in_rings`` inside the join condition — one JVM pipeline end to
    end, no shuffle of pages, no Python workers, no driver collect. The
    fastest path when per-tile candidate counts are modest (each candidate
    costs O(vertices) in codegen); it is stateless, so it also runs
    unchanged under Structured Streaming."""
    from .cover import cover_tile_ids

    cand_feats = cover_tile_ids(features, zoom).join(
        F.broadcast(features.select("feature_id", "rings")), "feature_id"
    )
    pts = geotagged_points(pages, zoom)
    # PIP inside the join condition + explicit broadcast hint on the small
    # side: one BroadcastHashJoin with the exact predicate, never a
    # sort-merge of the big point side
    cand = pts.join(
        cand_feats.hint("broadcast"),
        (pts["tile_id"] == cand_feats["tile_id"])
        & point_in_rings(pts["lon"], pts["lat"], cand_feats["rings"]),
    )
    return cand.select(
        "url", "warc_ts", "lon", "lat", pts["tile_id"].alias("tile_id"), "feature_id"
    )


def assign_counts_per_tile(assigned: DataFrame) -> DataFrame:
    """Aggregate: pages per (tile, feature) — the flagship readout."""
    return assigned.groupBy("tile_id", "feature_id").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
    )
