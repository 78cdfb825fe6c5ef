"""Spatial-join and raster->vector benchmark for robosat_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pip_counts_hot --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ledger of a traced run (see README.md). The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The host record and a readable summary go to standard error.

Everything the benchmark writes stays under ``.perfbench_work/`` in the
repository root; the per-invocation part is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per untraced run; setup_s is their median (see setup)
MIN_ITERATIONS = 2
# The Spark driver heap is pinned (initial = max, pre-touched) so that peak RSS
# does not swing with the collector's heap sizing from run to run.
DRIVER_MEM = "2g"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: str, cores: int) -> None:
    """Session settings, through the session's own environment knobs:
    local[cores], a pinned heap, and every scratch file in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_SPARK_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            "spark.eventLog.compress=false",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        ]),
    })
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


def setup(w, cores, running=None):
    """Session start + input registration + warm-up. -> (spark, seconds).

    Without ``running`` this launches the JVM and the SparkContext through
    the engine's ``get_spark``. With it, the new session shares the running
    context (its JVM and Python workers) and has its own SQL conf."""
    from robosat_spark.session import get_spark

    t0 = time.perf_counter()
    if running is None:
        spark = get_spark(app=f"perfbench_{w.name}", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = running.newSession()
    w.register(spark)
    w.warm(spark)
    return spark, time.perf_counter() - t0


def _iterate(w, spark, span):
    """One checked iteration. -> (wall seconds, ok, result or None)."""
    result, t0 = None, time.perf_counter()
    try:
        with span:
            result = w.run(spark)
        wall = time.perf_counter() - t0
        ok, why = w.check(result)
    except Exception:  # a failed run counts against failed_frac
        wall, ok, why = time.perf_counter() - t0, False, traceback.format_exc()
    if not ok:
        print(f"[perfbench] {w.name}: iteration failed: {why}", file=sys.stderr)
    return wall, ok, result


def measure(w, spark, seconds, tracer=None):
    """One priming iteration (checked, not timed), then timed iterations
    until ``seconds`` have passed (at least MIN_ITERATIONS). Results are
    checked outside the timed region."""
    import contextlib

    _, ok, result = _iterate(w, spark, contextlib.nullcontext())
    if result is not None:
        w.finish(result)
    walls, ok_walls, failed, out_bytes, out_rows, out_files = [], [], int(not ok), 0, 0, []
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_ITERATIONS or time.perf_counter() < t_end:
        span = tracer.span("iteration") if tracer else contextlib.nullcontext()
        wall, ok, result = _iterate(w, spark, span)
        walls.append(wall)
        if ok:
            ok_walls.append(wall)
            if hasattr(w, "output_stats"):
                nbytes, nfiles, nrows = w.output_stats(result)
                out_bytes, out_rows = out_bytes + nbytes, out_rows + nrows
                out_files.append(nfiles)
        else:
            failed += 1
        if result is not None:
            w.finish(result)
    return {
        "walls": ok_walls or walls,
        "attempted": len(walls) + 1,
        "failed": failed,
        "bytes_written_per_row": out_bytes / out_rows if out_rows else 0.0,
        "files_written": statistics.median(out_files) if out_files else 0,
    }


def shutdown_jvm() -> list[int]:
    """Stop the session, then the JVM the gateway launched; wait for the
    whole process tree (JVM, Python daemon and workers) to end.
    -> pids that had to be killed."""
    import host
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    kids = host.descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    left = host.wait_gone(kids)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    host.wait_gone(left)
    return left


def run_untraced(w, cores, seconds, rss):
    """The first set-up starts the JVM; the others start sessions on the
    running context, so their median leaves JVM launch out (the traced run
    reports it as setup.first_s)."""
    spark, dt = setup(w, cores)
    setup_times = [dt]
    for _ in range(SETUPS - 1):
        spark, dt = setup(w, cores, running=spark)
        setup_times.append(dt)
    rss.reset()
    res = measure(w, spark, seconds)
    wall = statistics.median(res["walls"])
    metrics = {
        "setup_s": statistics.median(setup_times),
        "wall_s": wall,
        "items_per_s": w.items / wall,
        "peak_rss_mb": rss.peak / 2**20,
    }
    extra = {
        "samples": len(res["walls"]),
        "setup_samples_s": setup_times,
        "walls_s": res["walls"],
        f"{w.item.replace(' ', '_')}s_per_iteration": w.items,
        "bytes_written_per_row": res["bytes_written_per_row"],
    }
    return metrics, res, extra


def run_traced(w, cores, seconds, run_dir):
    """Untraced iterations, then the same iterations in a session with the
    event log on and the engine's public functions wrapped in spans, then
    single-layer passes and the kernel microbenchmarks."""
    import kernelbench
    from eventlog import EventLog
    from ledger import Tracer, ledger

    spark, first_setup = setup(w, cores)
    for _ in range(SETUPS - 1):  # the same set-ups as an untraced run
        spark, _ = setup(w, cores, running=spark)
    res_u = measure(w, spark, seconds / 2)
    spark.stop()

    evdir = os.path.join(run_dir, "eventlog")
    os.environ["SPARK_GRAFT_EVENTLOG"] = evdir
    spark, _ = setup(w, cores)
    tracer = Tracer()
    tracer.install()
    try:
        res_t = measure(w, spark, seconds / 2, tracer=tracer)
        rows = w.staged(spark, tracer) or {}
    finally:
        tracer.uninstall()
    spark.stop()
    os.environ.pop("SPARK_GRAFT_EVENTLOG")

    untraced_wall = statistics.median(res_u["walls"])
    metrics = ledger(tracer, EventLog(evdir), cores, untraced_wall, w)
    from ledger import STAGES

    for name in STAGES:
        metrics[f"rows.{name}"] = rows.get(name, 0)
    metrics["pipeline.files_written"] = res_t["files_written"]
    metrics["pipeline.bytes_written_per_row"] = res_t["bytes_written_per_row"]
    metrics["setup.first_s"] = first_setup
    metrics.update(kernelbench.run())
    res = {
        "attempted": res_u["attempted"] + res_t["attempted"],
        "failed": res_u["failed"] + res_t["failed"],
    }
    metrics["run.failed_frac"] = res["failed"] / res["attempted"]
    return metrics, res, {"spans": tracer.summary()}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path.insert(0, ROOT)
        import robosat_spark  # noqa: F401  the engine under test, from this checkout
    except ImportError as exc:
        print(f"[perfbench] cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import host
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, cores)
    record = host.host_record(ROOT, args.seed, cores)
    cpu0 = host.cpu_stat()

    w = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    w.prepare(os.path.join(work, "cache"), run_dir, args.seed)
    record["inputs"] = {
        "generate_s": time.perf_counter() - t0,
        "source": "generated in this invocation" if w.generated
        else f"reused from the input cache ({os.path.relpath(w.dir, ROOT)})",
    }
    try:
        with host.RssSampler() as rss:
            try:
                if args.trace:
                    metrics, res, extra = run_traced(w, cores, args.seconds, run_dir)
                else:
                    metrics, res, extra = run_untraced(w, cores, args.seconds, rss)
            finally:
                killed = shutdown_jvm()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record["steal_pct"] = host.steal_pct(cpu0, host.cpu_stat())
    record["killed_pids"] = killed
    if args.trace:
        metrics["run.steal_pct"] = record["steal_pct"]
    units = metric_units("per_layer" if args.trace else "end_to_end")
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    summary = {"workload": w.name, "failed_frac": res["failed"] / res["attempted"], **extra}
    print("[perfbench] host " + json.dumps(record), file=sys.stderr)
    print("[perfbench] summary " + json.dumps(summary), file=sys.stderr)
    print(json.dumps(out))
    return 0


def metric_units(kind: str) -> dict:
    """-> {name: unit} of the metrics BENCHMARK.json lists under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
