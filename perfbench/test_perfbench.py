"""The benchmark's own tests: names match BENCHMARK.json, every gate
passes on a tiny correct run and fails on a corrupted output, and the
command prints the contract line.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench import observe, reference, run, workloads as W  # noqa: E402

TINY = 2_000


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == W.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == W.PER_LAYER_UNITS
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    xs = [float(i) for i in range(1, 21)]  # 20 samples: 10 beyond the 10th
    assert run.tail(xs) == (10.0, 50.0, 10)


def test_seed_ranges_are_disjoint_and_bounded():
    n = W.WORKLOADS["geo_tiling"].n_docs
    starts = {W.first_id(s, n) for s in range(50)}
    assert len(starts) == 50
    assert max(W.first_id(s, n) for s in (0, 10**9, 2**31 - 1)) + n <= W.MAX_ID


def test_event_log_ops(tmp_path):
    d = tmp_path / "eventlog_v2_x"
    d.mkdir()

    def task(stage, run_ms, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason}, "Task Info": {"Failed": False},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                          "Local Bytes Read": 2},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {observe.OP_PROPERTY: "op-0"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(0, 100), task(0, 100), task(0, 400, reason="ExceptionFailure"),
        task(1, 50), task(2, 999),
    ]
    (d / "events_1_x").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_x").write_text("")
    ops = observe.event_log_ops(str(tmp_path))
    assert set(ops) == {"op-0"}
    o = ops["op-0"]
    assert o["tasks"] == 4 and o["failed_tasks"] == 1
    assert o["executor_run_s"] == pytest.approx(0.65)
    assert o["shuffle_read_bytes"] == 12 and o["shuffle_write_bytes"] == 28
    assert o["spill_bytes"] == 12 and o["task_skew"] == pytest.approx(4.0)


def test_tracer_self_time():
    tr = observe.Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["run"] == "r"
    st = tr.self_times()
    assert st["outer"] == pytest.approx(
        outer["end"] - outer["start"] - (inner["end"] - inner["start"]))


# ---------------------------------------------------------------------------
# Gates on tiny inputs, in one shared session
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(W)
    work = str(tmp_path_factory.mktemp("perfbench"))
    s = run.start_session(work)
    yield s, work
    s.stop()
    observe.stop_jvm()


def _inputs(spark, name: str, seed: int = 3) -> W.Inputs:
    s, work = spark
    d = os.path.join(work, name)
    x = W.Inputs(spark=s, tr=observe.Tracer("t", enabled=False), work=d,
                 n_docs=TINY, first_id=W.first_id(seed, TINY),
                 docs=os.path.join(d, "docs"), points=os.path.join(d, "points"))
    wl = W.WORKLOADS[name]
    wl.materialize(x, everything=True)
    x.ref = wl.reference(x)
    return x


def test_geo_tiling_gate(spark):
    wl = W.WORKLOADS["geo_tiling"]
    x = _inputs(spark, "geo_tiling")
    out = wl.op(x)
    assert sum(out.values()) > 0
    assert wl.check(out, x.ref) == []
    zone = next(iter(out))
    assert wl.check({**out, zone: out[zone] + 1}, x.ref)  # a wrong count
    assert wl.check({k: v for k, v in out.items() if k != zone}, x.ref)  # a lost zone


def test_join_rows_gate(spark):
    wl = W.WORKLOADS["join_rows"]
    x = _inputs(spark, "join_rows")
    out = wl.op(x)
    assert out["bcast"][0] > 0 and out["knn"][0] % reference.KNN_K == 0
    assert wl.check(out, x.ref) == []

    def corrupt(key, i, delta):
        bad = copy.deepcopy(out)
        v = list(bad[key])
        v[i] += delta
        bad[key] = tuple(v)
        return wl.check(bad, x.ref)

    for key in ("bcast", "cells"):
        assert corrupt(key, 0, -1)  # a lost pair
        assert corrupt(key, 1, 1)  # a pair with another zone
    assert corrupt("knn", 1, 1)  # another nearest site or rank
    assert corrupt("knn", 2, 1)  # a distance off by 1e-9


def test_digest_matches_reference(spark):
    s, _ = spark
    rows = [("https://site1.example/page/1", 3, 0.25), ("https://a/b", 7, 1.5)]
    df = s.createDataFrame(rows, "url string, k long, d double")
    urls, keys, dist = zip(*rows)
    assert W.digest(df, F.col("k")) == reference.digest(urls, keys)
    assert W.digest(df, F.col("k"), F.col("d")) == reference.digest(urls, keys, dist)


def test_checkpoint_gate(spark):
    x = _inputs(spark, "join_rows", seed=4)
    metrics, errors = W.checkpoint_probes(x)
    assert errors == []
    assert metrics["checkpoint.overhead_ratio"] > 0
    ref = W.checkpoint_reference(x)
    fp = {"docs": ref["text_fp"], "geocoded": ref["text_fp"], "pairs": ref["pairs_rows"]}
    good = {"fp": fp, "resumed_fp": ref["pairs_rows"], "skipped": ["docs", "geocoded"]}
    assert W.check_checkpoint(good, ref) == []
    changed_text = copy.deepcopy(good)
    changed_text["fp"]["geocoded"] = "sum=1,n=1"
    assert W.check_checkpoint(changed_text, ref)
    lost_rows = copy.deepcopy(good)
    lost_rows["resumed_fp"] = "rows=0"
    assert W.check_checkpoint(lost_rows, ref)
    no_skip = copy.deepcopy(good)
    no_skip["skipped"] = []
    assert W.check_checkpoint(no_skip, ref)


# ---------------------------------------------------------------------------
# The command itself, end to end, with a one-second window
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload,trace", [("geo_tiling", 0), ("join_rows", 1)])
def test_command_prints_contract_line(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["errors"]
    units = W.PER_LAYER_UNITS if trace else W.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert record["seed"] == 5 and record["host"]["nproc"] >= 1
    if trace:
        assert result["metrics"]["geocode.regex_in_plan"]["value"] == 17
