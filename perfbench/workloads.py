"""The two workloads, each driven through the engine's public operators.

A workload object has four phases:

``prepare(cache, run_dir, seed)``
    generate (or reuse) the seeded inputs and the reference answer;
``register(spark)``
    read the inputs into DataFrames (part of set-up);
``warm(spark)``
    run the same plan once on a small slice (part of set-up);
``run(spark)``
    one timed iteration, from the first engine call to the result in
    hand; ``check(result)`` then compares the result with the reference,
    outside the timed region.

``staged(spark, tracer)`` runs extra, traced-only passes that time single
layers (the geotag scan alone; each raster->vector stage materialized on
its own).

Operators are always looked up through their module (``sj.assign_...``)
so the traced run can wrap them from outside.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import gen

ZOOM = gen.ZOOM


class PipCountsHot:
    """~600k pages, half the in-bbox points in one hot z18 tile, against 441
    features; fused count readout, collected to the driver."""

    name = "pip_counts_hot"
    item = "joined row"
    n_pages = 600_000

    def prepare(self, cache, run_dir, seed):
        self.dir, self.generated = gen.pip_inputs(cache, seed, self.n_pages)
        with open(os.path.join(self.dir, "reference.json")) as f:
            self.ref = json.load(f)
        self.items = self.ref["joined_rows"]

    def _read(self, spark, files=None):
        from robosat_spark.sources import scan

        path = os.path.join(self.dir, "pages")
        pages = spark.read.parquet(*(files or [path]))
        return scan.fan_out_unsplittable_scan(spark, pages, path)

    def register(self, spark):
        # point rows are tiny: the same Arrow batch size bench.py uses for
        # the flagship count
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        self.pages = self._read(spark)
        self.features = spark.read.parquet(os.path.join(self.dir, "features.parquet"))

    def warm(self, spark):
        """The same plan over the first 4 of the 16 page files."""
        files = sorted(glob.glob(os.path.join(self.dir, "pages", "*.parquet")))
        self.finish(self.run(spark, self._read(spark, files[:4])))

    def run(self, spark, pages=None):
        from robosat_spark.operators import spatial_join as sj

        pages = self.pages if pages is None else pages
        return sj.assign_count_by_feature(spark, pages, self.features, ZOOM).collect()

    def check(self, rows):
        per = [0] * len(self.ref["per_feature"])
        for r in rows:
            per[r["feature_id"]] += r["n_pages"]
        if per != self.ref["per_feature"]:
            bad = sum(a != b for a, b in zip(per, self.ref["per_feature"]))
            return False, f"{bad} features with wrong counts"
        return True, ""

    def finish(self, result):
        pass

    def staged(self, spark, tracer):
        """Time the scan + geotag parse + tile encode alone (noop sink)."""
        from robosat_spark.operators import spatial_join as sj

        with tracer.span("geotag_encode"):
            sj.geotagged_points(self.pages, ZOOM).write.format("noop").mode("overwrite").save()


class MaskToFeatures:
    """Seeded rectangle clusters through cover -> rasterize -> predict ->
    features -> merge -> dedupe; components and verdicts are known by
    construction (see ``gen.cluster_features``)."""

    name = "mask_to_features"
    item = "tile"
    n_clusters = 2
    size = gen.MASK_SIZE
    zoom = gen.MASK_ZOOM
    union_resolution = 128

    def prepare(self, cache, run_dir, seed):
        self.dir, self.generated = gen.mask_inputs(cache, seed, self.n_clusters)
        with open(os.path.join(self.dir, "reference.json")) as f:
            self.ref = json.load(f)
        self.items = self.ref["tiles"]
        self.out_base = os.path.join(run_dir, "pipeline")
        self.n_out = 0

    def register(self, spark):
        src = spark.read.parquet(os.path.join(self.dir, "features.parquet"))
        self.features = src.filter("source").select("feature_id", "rings")
        self.osm = src.filter("osm").select("feature_id", "rings")

    def warm(self, spark):
        """The chain up to feature extraction, on the first cluster."""
        from pyspark.sql import functions as F

        df = None
        for name, step in self.stages(spark, self.features.filter(F.col("feature_id") < 3))[:4]:
            df = step(df)
        df.collect()

    def stages(self, spark, features):
        """-> ordered [(stage name, thunk(prev) -> DataFrame)] of the chain."""
        from robosat_spark.operators import cover, dedupe, features as feat, merge, rasterize

        z, size = self.zoom, self.size
        return [
            ("cover", lambda _: cover.cover(features, z, keep_feature_id=False)),
            ("rasterize", lambda tiles: rasterize.rasterize_masks(spark, tiles, features, z, size=size)),
            # noise-free predictions and 1-px (identity) denoise/grow keep every
            # extracted piece an exact pixel rectangle: see README, "Known
            # engine defects", for why the chain avoids ragged shapes
            ("predict", lambda masks: rasterize.probs_to_masks(rasterize.synthesize_probs(masks, noise=0.0))),
            ("features", lambda pred: feat.to_feature_table(
                feat.extract_features(pred, denoise_px=1, grow_px=1, simplify_threshold=0.005))),
            ("merge", lambda table: merge.merge_features(
                spark, table, gen.MERGE_THRESHOLD_M, union_resolution=self.union_resolution)),
            ("dedupe", lambda merged: self._verdicts(spark, merged, dedupe)),
        ]

    def _verdicts(self, spark, merged, dedupe_mod):
        from pyspark.sql import functions as F

        pred = merged.select(F.col("component").alias("feature_id"), "rings")
        verdicts = dedupe_mod.dedupe(spark, pred, self.osm, threshold=0.5)
        ext = F.element_at("rings", 1)
        centers = merged.select(
            F.col("component").alias("pred_id"),
            F.aggregate(ext, F.lit(0.0), lambda a, p: a + p[0]) / F.size(ext),
            F.aggregate(ext, F.lit(0.0), lambda a, p: a + p[1]) / F.size(ext),
        ).toDF("pred_id", "cx", "cy")
        return verdicts.join(centers, "pred_id")

    def run(self, spark):
        """The chain, committing merge and dedupe through ``Pipeline.stage``
        (parquet + lineage metrics) to a fresh root. -> (root, verdict rows)."""
        from robosat_spark.plans import pipeline

        self.n_out += 1
        root = os.path.join(self.out_base, f"run-{self.n_out}")
        p = pipeline.Pipeline(spark, root)
        df = None
        for name, step in self.stages(spark, self.features):
            if name in ("merge", "dedupe"):
                df = p.stage(name, lambda step=step, prev=df: step(prev))
            else:
                df = step(df)
        return root, df.collect()

    def output_stats(self, result):
        """-> (data bytes, data files, rows) the pipeline committed."""
        import pyarrow.parquet as pq

        files = [f for stage in ("merge", "dedupe")
                 for f in glob.glob(os.path.join(result[0], stage, "part-*.parquet"))]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return sum(os.path.getsize(f) for f in files), len(files), rows

    def check(self, result):
        rows = result[1]
        boxes = {int(c): b for c, b in self.ref["cluster_bbox"].items()}
        pad = 3e-4  # degrees: wider than the merge buffer
        seen = {}
        for r in rows:
            hit = [c for c, b in boxes.items()
                   if b[0] - pad <= r["cx"] <= b[2] + pad and b[1] - pad <= r["cy"] <= b[3] + pad]
            if len(hit) != 1:
                return False, f"component {r['pred_id']} matches clusters {hit}"
            c = hit[0]
            if c in seen:
                return False, f"cluster {c} split into several components"
            seen[c] = r["keep"]
        if len(seen) != self.ref["clusters"]:
            return False, f"{len(seen)} components, expected {self.ref['clusters']}"
        for c, keep in seen.items():
            if keep == self.ref["cluster_in_osm"][str(c)]:
                return False, f"cluster {c}: dedupe keep={keep}"
        return True, ""

    def finish(self, result):
        shutil.rmtree(result[0], ignore_errors=True)

    def staged(self, spark, tracer):
        """Each stage materialized on its own, in a span, with its rows out."""
        df = None
        rows = {}
        for name, step in self.stages(spark, self.features):
            with tracer.span(f"stage.{name}"):
                df = step(df).localCheckpoint(eager=True)
            rows[name] = df.count()
        return rows


WORKLOADS = {w.name: w for w in (PipCountsHot, MaskToFeatures)}
