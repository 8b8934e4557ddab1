"""Checks of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

import argparse
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def rollup():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 5000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 5000)))
    lang = pa.array(rng.choice(["en", "de", "fr"], 5000))
    exp = inputs.expected_rollup(lon, lat, lang)
    pdf = pd.DataFrame(
        [(t, n, k) for t, (n, k) in exp["tiles"].items()],
        columns=["tile_id", "n_pages", "n_langs"])
    return exp, pdf


def test_rollup_expectation_covers_every_tile_and_point(rollup):
    exp, pdf = rollup
    assert len(exp["tiles"]) == 486
    assert pdf["n_pages"].sum() == exp["geotagged"] == 5000
    assert inputs.check_rollup(pdf, exp) == []


def test_corrupted_rollup_expectation_is_rejected(rollup):
    exp, pdf = rollup
    tile = next(t for t, (n, _) in exp["tiles"].items() if n > 0)
    bad = {"tiles": dict(exp["tiles"]), "geotagged": exp["geotagged"]}
    bad["tiles"][tile] = [exp["tiles"][tile][0] + 1, exp["tiles"][tile][1]]
    problems = inputs.check_rollup(pdf, bad)
    assert any(tile in p for p in problems)
    assert inputs.check_rollup(pdf.iloc[1:], exp)


def test_fleet_pairs_match_and_corruption_is_rejected():
    fleet = inputs.make_fleet(3)
    assert len(fleet) == 8 * (inputs.MOSAIC**2 + 1) + 3 == len({z for z, _, _ in fleet})
    # one point at each polygon's vertex mean, which lies inside it
    pts = np.array([np.mean(ext, axis=0) for _, ext, _ in fleet])
    pts[:, 0] = np.where(pts[:, 0] >= 180, pts[:, 0] - 360, pts[:, 0])
    pid = np.arange(len(pts), dtype=np.int64)
    exp = inputs.expected_fleet_pairs(pid, pts[:, 0], pts[:, 1], fleet)
    zones = exp["zones"]
    got = [(p, z) for k in exp["keys"] for p, z in [(k // len(zones), zones[k % len(zones)])]]
    # every mosaic centre also falls in its metro quad unless in the hole
    assert len(got) >= len(fleet)
    g_pid = np.array([p for p, _ in got])
    g_zone = np.array([z for _, z in got], dtype=object)
    assert inputs.check_pairs(g_pid, g_zone, zones, exp["keys"]) == []
    corrupted = exp["keys"].copy()
    corrupted[0] += 1
    assert inputs.check_pairs(g_pid, g_zone, zones, corrupted)
    assert inputs.check_pairs(g_pid[1:], g_zone[1:], zones, exp["keys"])


def test_geotag_parse_matches_extract_grammar():
    html = pa.array([
        b'<html><head><meta name="geo.position" content="-33.868800;151.209300"></head>',
        b"<html><head></head><body>no tag</body></html>",
        b'<meta name="geo.position" content="1,234.500000;-0.127800">',
    ])
    has, lon, lat = inputs.parse_geotags(html)
    assert has.to_pylist() == [True, False, True]
    assert lon.tolist() == [151.2093, -0.1278]
    assert lat.tolist() == [-33.8688, 1234.5]


def _stage(sid, accs, t0=0, t1=10):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Submission Time": t0, "Completion Time": t1,
        "Accumulables": [{"ID": i, "Value": str(v), "Metadata": "sql"} for i, v in accs]}}


def _task(sid, run_ms, launch=0, finish=10):
    zero_read = {"Remote Bytes Read": 0, "Local Bytes Read": 5, "Fetch Wait Time": 0}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 10**9,
                             "JVM GC Time": 0, "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 0, "Shuffle Read Metrics": zero_read,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}


def test_eventlog_attributes_jobs_stages_and_sql_metrics_to_runs():
    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "BroadcastHashJoin",
            "simpleString": "BroadcastHashJoin [_idx#1L], [_idx#2L], Inner, BuildRight",
            "metrics": [{"accumulatorId": 100, "name": "number of output rows"}],
            "children": [{"nodeName": "ArrowEvalPython", "simpleString": "ArrowEvalPython",
                          "metrics": [{"accumulatorId": 101,
                                       "name": "time to run Python workers"}]}]}
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"perfbench.run": "r1", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"perfbench.run": "probe"}},
        _task(0, 1000), _task(0, 3000, finish=30), _task(1, 500), _task(2, 9000),
        _stage(0, [(101, 250)], 0, 40), _stage(1, [(100, 42), (101, 1500)]), _stage(2, []),
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[100, 40]]},
    ]
    m = eventlog.EventLog(events).run_metrics("r1", wall_s=2.0, cores=4)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 2, 3)
    assert m["spark.executor_run_s"] == pytest.approx(4.5)
    assert m["spark.cores_busy_frac"] == pytest.approx(4.5 / 8)
    assert m["spark.shuffle_read_bytes"] == 15
    assert m["spark.task_skew"] == pytest.approx(30 / 20)
    assert m["functions.python_worker_s"] == pytest.approx(1.5)
    assert m["joins.candidate_pairs"] == 42


def _bench(workload, trace):
    b = run.Bench(argparse.Namespace(workload=workload, seed=1, seconds=10, trace=trace))
    b.meta = {"rows": 100}
    b.peak_rss = 2**30
    b.samples["setup"] = [{"start_s": 1.0, "warmup_s": 2.0, "total_s": 3.0}]
    return b


def test_metrics_without_a_successful_run_are_left_off_the_line():
    b = _bench("fleet_join", 0)
    assert set(b.metrics()) == {"setup_s", "peak_rss_mb"}
    b.samples["cold"] = 4.0
    b.samples["warm"] = [2.0, 1.0, 3.0]
    m = b.metrics()
    assert m["cold_run_s"] == (4.0, "s")
    assert m["run_s"] == (2.0, "s")


def test_traced_line_derives_refine_selectivity_from_the_joins_probe():
    b = _bench("pages_rollup", 1)
    b.samples["warm"] = [2.0]
    b.samples["traced_warm"] = [2.5]
    b.samples["plan_s"] = [0.5, 0.1]
    # candidate pairs of the joins probe, matches it returned
    b.layers = {"sources.extract_s": 0.9, "joins.candidate_pairs": 400,
                "joins.matches": 100, "spark.jobs": 4.0}
    m = b.metrics()
    assert m["sources.extract_s"] == (0.9, "s")
    assert m["spark.jobs"] == (4, "count")
    assert m["trace.overhead_s"] == (0.5, "s")
    assert m["joins.refine_selectivity"] == (0.25, "ratio")
    assert "joins.matches" not in m and "joins.matches" in b.all_layers


def test_full_traced_line_fits_a_2000_character_tail():
    b = _bench("fleet_join", 1)
    b.samples["warm"] = [2.0 / 3]
    b.samples["traced_warm"] = [2.5 / 7]
    b.samples["plan_s"] = [0.5, 1 / 3]
    b.samples["setup"] = [{"start_s": 1 / 3, "warmup_s": 2 / 3, "total_s": 1.0}]
    b.layers = {k: 123456789 if unit in ("count", "bytes") else 1234.0 / 7
                for k, (unit, _) in run.PER_LAYER.items()}
    m = b.metrics()
    assert set(m) == set(run.PER_LAYER) - run.DETAIL_ONLY
    line = json.dumps({"correct": True, "attempted": 1000, "failed": 0,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}},
                      separators=(",", ":"))
    assert len(line) < 2000


def test_benchmark_json_names_every_printed_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"] for m in bench["per_layer"]} == set(run.PER_LAYER) - run.DETAIL_ONLY
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert all(units[k] == unit for k, (unit, _) in run.PER_LAYER.items() if k in units)
