"""Closed-loop benchmark of spapy_spark: one job at a time from one
driver process on ``local[4]`` with the ``session.get_spark`` config.

    python3 perfbench/run.py --workload geo_tiling --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same operations with spans and Spark's event log on, then probes each
layer alone, and prints the per-layer metrics. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full record (host, seed, samples, errors), also written under
``.perfbench/records/``. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench and spapy_spark from the checkout

from perfbench import observe, workloads as W  # noqa: E402
MASTER_CORES = 4
SETUP_REPS = 3
WARMUP_OPS = 2
SCALING_PAIRS = 2
HEAP = "2g"


def _set_dirs(work: str) -> None:
    """Keep every temp file of Python, PySpark and the JVM in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver): temp files in ``work``, and
    # no hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # takes precedence over spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None


def start_session(work: str, event_log: str | None = None):
    from spapy_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed heap: when the JVM grows its heap mid-run, wall time,
        # RSS and the 1-core time all depend on when that happened
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    spark = get_spark("perfbench", master=f"local[{MASTER_CORES}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_facts(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    cores = len(os.sched_getaffinity(0))
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or None
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "spapy_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    src.update(f.read())
    return {
        "nproc": os.cpu_count(),
        "cores_usable": cores,
        "ram_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
        "source_sha256": src.hexdigest(),
        # records from another core count measure another machine shape
        "comparable": cores == MASTER_CORES and os.cpu_count() == MASTER_CORES,
    }


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, samples beyond); the maximum when n < 11."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, 0
    r = n - 11
    return xs[r], 100.0 * (r + 1) / n, n - 1 - r


class Runner:
    """Runs checked operations and keeps the attempted/failed tally."""

    def __init__(self, wl, x):
        self.wl, self.x = wl, x
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, tag: str | None = None) -> float | None:
        """One operation; its wall time if the output checked correct."""
        x = self.x
        sc = x.spark.sparkContext
        if tag:
            sc.setLocalProperty(observe.OP_PROPERTY, tag)
        try:
            t0 = time.perf_counter()
            out = self.wl.op(x)
            wall = time.perf_counter() - t0
            errs = self.wl.check(out, x.ref)
        except Exception:  # a failed operation is counted, not fatal
            errs = [traceback.format_exc(limit=3)]
        finally:
            if tag:
                sc.setLocalProperty(observe.OP_PROPERTY, None)
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])
            return None
        return wall

    def loop(self, seconds: float, tag_prefix: str | None = None,
             rss=None) -> list[float]:
        """Operations back to back while one more fits in ``seconds``;
        ``rss`` samples the process tree's peak RSS of each."""
        walls = []
        start = time.perf_counter()
        for i in itertools.count():
            tag = f"{tag_prefix}{i}" if tag_prefix else None
            t0 = time.perf_counter()
            with rss.active() if rss else contextlib.nullcontext():
                w = self.op(tag=tag)
            if w is not None:
                walls.append(w)
            now = time.perf_counter()
            if now - start + (now - t0) > seconds:
                return walls

    def scaling(self, before: float) -> float:
        """wall(1 core) ÷ (4 · wall(4 cores)) for one operation pinned to
        one core; the 4-core side is the mean of the operations just
        before and after it, so a slower minute moves both sides."""
        all_cpus = os.sched_getaffinity(0)
        observe.pin_tree({min(all_cpus)})
        try:
            one = self.op()
        finally:
            observe.pin_tree(all_cpus)
        after = self.op()
        if one is None or after is None:
            raise RuntimeError("an operation of the scaling pair failed")
        return one / (MASTER_CORES * (before + after) / 2)

    def warm_up(self) -> None:
        """Checked operations that are not samples: the first two of a
        run are consistently the slowest (JIT)."""
        for _ in range(WARMUP_OPS):
            self.op()


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One benchmark run; returns (contract result, full record)."""
    from pyspark import cloudpickle

    # executors get the benchmark's own UDFs by value, not by import
    cloudpickle.register_pickle_by_value(W)
    wl = W.WORKLOADS[workload]
    n = wl.n_docs
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", run_id)
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    _set_dirs(work)
    tr = observe.Tracer(run_id, enabled=trace)
    x = W.Inputs(spark=None, tr=tr, work=work, n_docs=n,
                 first_id=W.first_id(seed, n),
                 docs=os.path.join(work, "docs"), points=os.path.join(work, "points"))
    rss = observe.PeakRss()
    record: dict = {"workload": workload, "seed": seed, "first_id": x.first_id,
                    "n_docs": n, "seconds": seconds, "trace": int(trace),
                    "closed_loop": "1 client, 1 job at a time",
                    "master": f"local[{MASTER_CORES}]"}
    metrics: dict[str, tuple[float, str]] = {}
    r = Runner(wl, x)
    try:
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            x.spark = start_session(work)
        session_s = time.perf_counter() - t0
        record["host"] = host_facts(x.spark)
        setups = [wl.materialize(x, everything=trace) for _ in range(SETUP_REPS)]
        t1 = time.perf_counter()
        with tr.span("reference"):
            x.ref = wl.reference(x)
        ref_s = time.perf_counter() - t1
        record["setup"] = {"session_s": session_s, "materialize": setups,
                           "reference_s": ref_s}
        record["input_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(x.docs) for f in fs if f.endswith(".parquet")
        )
        r.warm_up()
        if not trace:
            walls = r.loop(seconds, rss=rss)
            wall = statistics.median(walls)
            tv, tp, tb = tail(walls)
            metrics = {
                "setup_s": (session_s + ref_s + statistics.median(
                    s["docs_s"] + s["points_s"] for s in setups), "s"),
                "wall_s": (wall, "s"),
                "wall_tail_s": (tv, "s"),
                "docs_per_s": (n / wall, "1/s"),
                "peak_rss_mb": (statistics.median(rss.peaks), "MB"),
            }
            record.update(samples=walls, rss_peaks_mb=rss.peaks,
                          wall_tail={"percentile": tp, "beyond": tb, "n": len(walls)})
        else:
            tr.enabled = False
            walls_a = r.loop(seconds / 2)
            tr.enabled = True
            x.spark.stop()
            log_dir = os.path.join(work, "eventlog")
            x.spark = start_session(work, event_log=log_dir)
            r.warm_up()  # a new context starts cold again
            walls_b = r.loop(seconds / 2, tag_prefix="op-")
            effs = [r.scaling(walls_b[-1]) for _ in range(SCALING_PAIRS)]
            lay, probe_errors = W.layer_probes(x, wl)
            r.attempted += 1  # the checkpoint probe's gate
            if probe_errors:
                r.failed += 1
                r.errors.extend(probe_errors)
            x.spark.stop()
            x.spark = None
            ops = observe.event_log_ops(log_dir)
            wall_b = statistics.median(walls_b)
            lay.update({
                "session.start_s": session_s,
                "synth.materialize_s": statistics.median(s["docs_s"] for s in setups),
                "fused_gap_s": wall_b - wl.fused_layers(lay),
                "trace_overhead": wall_b / statistics.median(walls_a),
                "scaling_eff": statistics.median(effs),
            })
            for k in ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                      "shuffle_read_bytes", "spill_bytes", "task_skew"):
                lay[f"spark.{k}"] = statistics.median(o[k] for o in ops.values())
            lay["spark.failed_tasks"] = sum(o["failed_tasks"] for o in ops.values())
            metrics = {k: (lay[k], u) for k, u in W.PER_LAYER_UNITS.items()}
            record.update(samples_untraced=walls_a, samples_traced=walls_b,
                          scaling_effs=effs, event_log_ops=ops)
            spans_path = os.path.join(records, f"{run_id}.spans.json")
            tr.dump(spans_path)
            record["spans"] = spans_path
            record["span_self_s"] = tr.self_times()
    except Exception:
        r.attempted = max(r.attempted, 1)
        r.failed += 1
        r.errors.append(traceback.format_exc(limit=5))
        metrics = {}
    finally:
        if x.spark is not None:
            x.spark.stop()
        rss.close()
        observe.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record.update(attempted=r.attempted, failed=r.failed,
                  error_rate=r.failed / max(r.attempted, 1), errors=r.errors[:10])
    result = {
        "correct": r.failed == 0 and r.attempted > 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(records, f"{run_id}.json"), "w") as f:
        json.dump({**record, "result": result}, f, indent=1, default=str)
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    result, record = run(a.workload, a.seed, a.seconds, bool(a.trace))
    line = json.dumps(record, default=str)
    if not result["metrics"]:  # the run itself broke: no result to report
        print(line, file=sys.stderr)
        return 1
    print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
