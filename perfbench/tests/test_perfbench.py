"""Tests of the benchmark's own code: the generator and reference against
the engine on a tiny seed, the event-log parser and ledger on a small
recorded log, and BENCHMARK.json against the naming rules."""

import json
import os
import re

import numpy as np
import pytest

import gen
import reference
from eventlog import EventLog, union_length
from ledger import STAGES, Tracer, ledger
from workloads import WORKLOADS, MaskToFeatures

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
DATA = os.path.join(HERE, "data")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# the recorded log: one pip_counts_hot iteration, 20k pages, seed 5, local[2]
SMALL_SEED, SMALL_PAGES = 5, 20_000


def test_benchmark_json_names_units_and_bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def _exact_in_polygon(px, py, rings):
    inside, tie = reference.polygon_hits(px, py, rings)
    assert not tie.any()
    return inside


def test_reference_exact_edges_and_holes():
    square = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=np.int64)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=np.int64)
    px = np.array([5, 1, 11, 5, -1], dtype=np.int64)
    py = np.array([5, 1, 5, 11, 5], dtype=np.int64)
    assert _exact_in_polygon(px, py, [square, hole]).tolist() == [False, True, False, False, False]
    slope = np.array([[0, 0], [10, 10], [0, 10], [0, 0]], dtype=np.int64)
    _, tie = reference.polygon_hits(np.array([3]), np.array([3]), [slope])
    assert tie.tolist() == [True]  # exactly on the sloped edge


def test_generator_is_seeded():
    a = gen.make_points(3, 1000)
    b = gen.make_points(3, 1000)
    c = gen.make_points(4, 1000)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[1], c[1])
    assert np.array_equal(gen.cluster_features(3, 2)[0][0][0], gen.cluster_features(3, 2)[0][0][0])


def test_reference_matches_engine_kernel():
    """The exact int reference and the engine's float kernel agree on the
    generated hot-tile polygons (no point lies on an edge)."""
    from robosat_spark.kernels.geometry import points_in_polygon

    tagged, lon_u, lat_u = gen.make_points(SMALL_SEED, SMALL_PAGES)
    for rings in gen.dense_features(SMALL_SEED)[:8] + gen.dense_features(SMALL_SEED)[-17:]:
        exact = _exact_in_polygon(lon_u[tagged], lat_u[tagged], rings)
        floats = points_in_polygon(lon_u[tagged] / gen.SCALE, lat_u[tagged] / gen.SCALE,
                                   [r / gen.SCALE for r in rings])
        assert np.array_equal(exact, floats)


def test_reference_matches_engine_join(spark, tmp_path):
    w = WORKLOADS["pip_counts_hot"]()
    w.n_pages = SMALL_PAGES
    w.prepare(str(tmp_path / "cache"), str(tmp_path), SMALL_SEED)
    assert w.generated and w.items > 0
    w.register(spark)
    rows = w.run(spark)
    assert w.check(rows) == (True, "")
    assert sum(r["n_pages"] for r in rows) == w.ref["joined_rows"]
    rows[0] = rows[0].asDict()
    rows[0]["n_pages"] += 1
    assert not w.check(rows)[0]


def test_mask_check_by_construction(tmp_path):
    w = MaskToFeatures()
    w.prepare(str(tmp_path / "cache"), str(tmp_path), 7)
    centers = {c: ((b[0] + b[2]) / 2, (b[1] + b[3]) / 2) for c, b in w.ref["cluster_bbox"].items()}
    good = [{"pred_id": i, "cx": centers[c][0], "cy": centers[c][1],
             "keep": not w.ref["cluster_in_osm"][c]} for i, c in enumerate(centers)]
    assert w.check((None, good)) == (True, "")
    flipped = [dict(good[0], keep=not good[0]["keep"])] + good[1:]
    assert not w.check((None, flipped))[0]
    assert not w.check((None, good[:1]))[0]
    assert not w.check((None, good + [dict(good[0], pred_id=99)]))[0]


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_eventlog_parser_on_recorded_log():
    log = EventLog(os.path.join(DATA, "pip_counts_small.eventlog.jsonl"))
    assert log.jobs and all(j["end"] >= j["start"] for j in log.jobs.values())
    tasks = [t for s in log.stages.values() for t in s["tasks"]]
    assert tasks and all(t["run_s"] >= 0 and t["cpu_s"] >= 0 for t in tasks)
    execs = {j["exec_id"] for j in log.jobs.values()} - {None}
    tagged, _, _ = gen.make_points(SMALL_SEED, SMALL_PAGES)
    geotagged = log.sql_metric(execs, "number of output rows", node="Filter", contains="isnotnull(lon")
    # the warm-up over 4 of 16 files plus one full iteration
    assert geotagged == int(tagged[: SMALL_PAGES // 4].sum() + tagged.sum())
    assert log.sql_metric(execs, "data sent to Python workers", python=True) > 0
    assert log.sql_metric(execs, "number of output rows", python=True) > 0


def test_ledger_on_recorded_log():
    log = EventLog(os.path.join(DATA, "pip_counts_small.eventlog.jsonl"))
    tracer = Tracer()
    with open(os.path.join(DATA, "pip_counts_small.spans.json")) as f:
        tracer.spans = json.load(f)
    w = WORKLOADS["pip_counts_hot"]()
    w.items = 1000
    it = tracer.named("iteration")[0]
    wall = it["t1"] - it["t0"]
    out = ledger(tracer, log, cores=2, untraced_wall=wall, workload=w)
    assert out["driver.only_s"] + out["jvm.job_union_s"] == pytest.approx(wall)
    spans = tracer.summary()
    children = sum(s["t1"] - s["t0"] for s in tracer.spans if s["parent"] == it["id"])
    assert spans["iteration"]["self_s"] == pytest.approx(wall - children)
    assert out["trace.ledger_error"] == pytest.approx(0.0, abs=1e-9)
    tagged, _, _ = gen.make_points(SMALL_SEED, SMALL_PAGES)
    assert out["join.geotagged_rows"] == int(tagged.sum())
    assert 0 < out["join.candidates"] <= out["join.geotagged_rows"]
    assert out["span.index_build_s"] > 0 and out["broadcast.bytes"] > 0
    assert out["arrow.bytes_to_python"] > out["arrow.bytes_from_python"] > 0
    assert 0 < out["jvm.busy_ratio"] <= 1
    assert all(out[f"span.{s}_s"] == 0 for s in STAGES)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(out) <= per_layer
