"""Benchmark-side spans and the per-layer ledger of a traced run.

Spans are recorded from outside the engine: around the benchmark's own
calls, and around calls into the engine's public functions, which the
traced run wraps in their modules for its duration. Each span has an id,
a parent id, a name and wall-clock bounds (epoch seconds, so they line up
with the event log's job times). Spans stay in memory.

``ledger`` joins the spans with the event log (``eventlog.EventLog``) and
returns the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import importlib
import statistics
import time

from eventlog import union_length

# (module, function) pairs wrapped in the traced run: one span per call.
WRAPPED = [
    ("robosat_spark.operators.spatial_join", "assign_count_by_feature"),
    ("robosat_spark.operators.spatial_join", "geotagged_points"),
    ("robosat_spark.sources.scan", "fan_out_unsplittable_scan"),
    ("robosat_spark.plans.pipeline", "Pipeline.stage"),
    ("robosat_spark.operators.merge", "connected_components"),
    ("robosat_spark.operators.merge", "merge_features"),
    ("robosat_spark.operators.dedupe", "dedupe"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "t0": time.time(), "t1": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.time()

    def _patch(self, owner, attr, name):
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self):
        """Wrap the functions in ``WRAPPED`` and the Python broadcast (to
        record the pickled size of each broadcast value)."""
        from pyspark import SparkContext

        for mod, qual in WRAPPED:
            owner = importlib.import_module(mod)
            *path, attr = qual.split(".")
            for p in path:
                owner = getattr(owner, p)
            self._patch(owner, attr, qual)
        orig = SparkContext.broadcast

        def broadcast(sc, value):
            import os

            with self.span("broadcast") as rec:
                bc = orig(sc, value)
                path = getattr(bc, "_path", None)
                rec["bytes"] = os.path.getsize(path) if path and os.path.exists(path) else 0
            return bc

        SparkContext.broadcast = broadcast
        self._undo.append((SparkContext, "broadcast", orig))

    def uninstall(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def named(self, name, within=None):
        return [s for s in self.spans if s["name"] == name
                and (within is None or within["t0"] <= s["t0"] <= within["t1"])]

    def self_time(self, span) -> float:
        """Duration minus the part covered by direct children."""
        kids = [(c["t0"], c["t1"]) for c in self.spans if c["parent"] == span["id"]]
        return (span["t1"] - span["t0"]) - union_length(kids)

    def summary(self) -> dict:
        """-> {span name: {calls, total_s, self_s}} over all spans."""
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s["t1"] - s["t0"]
            row["self_s"] += self.self_time(s)
        return out


def _med(values):
    return statistics.median(values) if values else 0.0


def _iteration_engine(log, it, cores):
    """Engine-layer numbers for one traced iteration span."""
    jobs = log.jobs_in(it["t0"], it["t1"])
    wall = it["t1"] - it["t0"]
    job_union = union_length(
        (max(log.jobs[j]["start"], it["t0"]), min(log.jobs[j]["end"], it["t1"])) for j in jobs
    )
    stages = sorted({s for j in jobs for s in log.jobs[j]["stages"] if log.stages.get(s, {}).get("tasks")})
    tasks = [t for s in stages for t in log.stages[s]["tasks"]]
    heavy = max(stages, key=lambda s: sum(t["run_s"] for t in log.stages[s]["tasks"]), default=None)
    skew = 0.0
    if heavy is not None:
        runs = [t["run_s"] for t in log.stages[heavy]["tasks"]]
        skew = max(runs) / max(statistics.median(runs), 1e-3)
    run_s = sum(t["run_s"] for t in tasks)
    return {
        "wall": wall,
        "job_union": job_union,
        "exec_ids": {log.jobs[j]["exec_id"] for j in jobs} - {None},
        "jvm.jobs": len(jobs),
        "jvm.stages": len(stages),
        "jvm.tasks": len(tasks),
        "jvm.executor_run_s": run_s,
        "jvm.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "jvm.gc_s": sum(t["gc_s"] for t in tasks),
        "jvm.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "jvm.shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "jvm.task_skew": skew,
        "jvm.busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
    }


ENGINE_KEYS = [
    "jvm.jobs", "jvm.stages", "jvm.tasks", "jvm.executor_run_s", "jvm.executor_cpu_s",
    "jvm.gc_s", "jvm.shuffle_write_bytes", "jvm.shuffle_read_bytes",
    "jvm.task_skew", "jvm.busy_ratio",
]
ARROW = {
    "arrow.bytes_to_python": ("data sent to Python workers", 1.0),
    "arrow.bytes_from_python": ("data returned from Python workers", 1.0),
    "arrow.rows_from_python": ("number of output rows", 1.0),
    "arrow.python_run_s": ("time to run Python workers", 1e-3),
    "arrow.python_boot_s": ("time to start Python workers", 1e-3),
    "arrow.python_init_s": ("time to initialize Python workers", 1e-3),
}
STAGES = ["cover", "rasterize", "predict", "features", "merge", "dedupe"]


def ledger(tracer: Tracer, log, cores: int, untraced_wall: float, workload) -> dict:
    """-> per-layer metrics (medians over traced iterations where a metric
    is per iteration)."""
    its = tracer.named("iteration")
    per_it = [_iteration_engine(log, it, cores) for it in its]
    out = {k: _med([p[k] for p in per_it]) for k in ENGINE_KEYS}
    wall = _med([p["wall"] for p in per_it])
    job_union = _med([p["job_union"] for p in per_it])
    driver_only = _med([p["wall"] - p["job_union"] for p in per_it])
    out.update({
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
        "driver.only_s": driver_only,
        "jvm.job_union_s": job_union,
        "trace.ledger_error": abs(driver_only + job_union - untraced_wall) / untraced_wall,
    })

    def per_iteration(fn):
        return _med([fn(it, p) for it, p in zip(its, per_it)])

    # file bytes behind the parquet scans (Spark's task-level 'Bytes Read'
    # only counts what the Hadoop filesystem statistics see)
    out["jvm.input_bytes"] = per_iteration(lambda it, p: log.sql_metric(
        p["exec_ids"], "size of files read", node="Scan"))
    for key, (metric, scale) in ARROW.items():
        out[key] = per_iteration(lambda it, p: log.sql_metric(p["exec_ids"], metric, python=True)) * scale

    pip = workload.name.startswith("pip")
    geotagged = per_iteration(lambda it, p: log.sql_metric(
        p["exec_ids"], "number of output rows", node="Filter", contains="isnotnull(lon"))
    candidates = per_iteration(lambda it, p: log.sql_metric(
        p["exec_ids"], "number of output rows", node="BroadcastHashJoin"))
    hits = workload.items if pip else 0  # the checked result's joined rows
    out.update({
        "join.geotagged_rows": geotagged if pip else 0,
        "join.candidates": candidates if pip else 0,
        "join.hits": hits,
        "join.hit_ratio": hits / candidates if pip and candidates else 0.0,
        # the assign call returns its DataFrame once the driver has
        # collected the features, built the tile index and broadcast it
        "span.index_build_s": per_iteration(lambda it, p: sum(
            s["t1"] - s["t0"] for s in tracer.named("assign_count_by_feature", within=it))),
        "broadcast.bytes": per_iteration(lambda it, p: sum(
            s["bytes"] for s in tracer.named("broadcast", within=it))
            + log.sql_metric(p["exec_ids"], "data size", node="BroadcastExchange")),
        "span.connected_components_s": per_iteration(lambda it, p: sum(
            s["t1"] - s["t0"] for s in tracer.named("connected_components", within=it))),
    })

    # plans.pipeline: job time (interval union) inside Pipeline.stage,
    # split into the lineage-metrics write (plans writing under _metrics)
    # and the stage's own compute + write
    lineage_execs = {ex for ex, plan in log.plans.items() if "/_metrics/" in plan}

    def pipeline_jobs(it, lineage):
        return union_length(
            (log.jobs[j]["start"], log.jobs[j]["end"])
            for st in tracer.named("Pipeline.stage", within=it)
            for j in log.jobs_in(st["t0"], st["t1"])
            if (log.jobs[j]["exec_id"] in lineage_execs) == lineage
        )

    out["pipeline.write_job_s"] = per_iteration(lambda it, p: pipeline_jobs(it, False))
    out["pipeline.lineage_job_s"] = per_iteration(lambda it, p: pipeline_jobs(it, True))

    # staged passes
    geo = tracer.named("geotag_encode")
    out["span.geotag_encode_s"] = geo[0]["t1"] - geo[0]["t0"] if geo else 0.0
    for name in STAGES:
        st = tracer.named(f"stage.{name}")
        out[f"span.{name}_s"] = st[0]["t1"] - st[0]["t0"] if st else 0.0
    merge = tracer.named("stage.merge")
    out["merge.union_tasks"] = 0
    if merge:
        jobs = log.jobs_in(merge[0]["t0"], merge[0]["t1"])
        ran = [s for s in (log.jobs[jobs[-1]]["stages"] if jobs else [])
               if log.stages.get(s, {}).get("tasks")]
        if ran:  # the union runs in the result stage of the last job
            out["merge.union_tasks"] = len(log.stages[max(ran)]["tasks"])
    return out
