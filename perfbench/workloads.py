"""The workloads: inputs from a seed, the timed operation, the
output it is checked against, and the layer probes of the traced run.

Every operation is one closed-loop job of the public ``spapy_spark``
API on the materialized inputs; every output is checked against
``reference`` before its time counts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

from spapy_spark.operators import geocode, knn, pip
from spapy_spark.plans.checkpoint import CheckpointRunner, Stage
from spapy_spark.sources import synth

from . import reference
from .observe import Tracer

CELL_RES = 8  # pip_join_cells' default covering resolution
INPUT_FILES = 8  # parquet files per materialized input
# ids stay below 4e7 so synth's warc_ts (137 s per id) fits pandas' ns range
MAX_ID = 40_000_000
PROBE_REPS = 3  # median of 3 for the cheap layer probes


@dataclass
class Inputs:
    spark: object
    tr: Tracer
    work: str
    n_docs: int
    first_id: int
    docs: str
    points: str
    ref: dict = field(default_factory=dict)


def first_id(seed: int, n_docs: int) -> int:
    """Seed → start of a disjoint id range; synth.webpages' splitmix
    makes each range a distinct set of pages."""
    return (seed % (MAX_ID // n_docs)) * n_docs


def _pages(batches):
    for pdf in batches:
        yield synth.webpages_pdf(pdf["id"].to_numpy())


def write_docs(spark, path: str, first: int, n: int) -> None:
    """``synth.webpages`` over ids [first, first + n) to parquet."""
    spark.range(first, first + n, numPartitions=INPUT_FILES).mapInPandas(
        _pages, schema=synth.WEBPAGES_SCHEMA
    ).write.mode("overwrite").parquet(path)


def write_points(path: str, first: int, n: int) -> None:
    """The geocoded ``(url, lat, lon)`` points of pages [first, first + n),
    written with pyarrow from ``synth.doc_coords``: the coordinates each
    page's text mentions, bit for bit what ``geocode_coords`` recovers
    (the geo_tiling gate checks the geocoder itself)."""
    ids, lat, lon = reference.geo_points(first, n)
    table = pa.table({"url": reference.urls(ids), "lat": lat, "lon": lon})
    os.makedirs(path, exist_ok=True)
    step = -(-len(ids) // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def noop(df: DataFrame) -> None:
    """Materialize every row and column, write nothing."""
    df.write.format("noop").mode("overwrite").save()


def digest(df: DataFrame, key, dist=None) -> tuple[int, ...]:
    """Spark twin of ``reference.digest``: every row is computed, only
    the row count and sums reach the driver."""
    h = (
        F.crc32(F.col("url").cast("binary")) * F.lit(reference.DIGEST_MUL)
        + key.cast("long")
    ) % F.lit(reference.DIGEST_MOD)
    aggs = [F.count(F.lit(1)), F.sum(h)]
    if dist is not None:
        aggs.append(F.sum(F.floor(dist * F.lit(reference.DIST_SCALE)).cast("long")))
    return tuple(int(v or 0) for v in df.agg(*aggs).collect()[0])


def _identity_arrow(batches):
    yield from batches


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    """One named workload: inputs, the timed operation, and the check
    of its output against the reference."""

    name = ""
    why = ""
    n_docs = 0
    inputs: tuple[str, ...] = ()  # "docs" and/or "points"

    def materialize(self, x: Inputs, everything: bool) -> dict[str, float]:
        """Write this workload's inputs, or all of them for the layer
        probes; returns the seconds each write took."""
        t = {"docs_s": 0.0, "points_s": 0.0}
        if everything or "docs" in self.inputs:
            t0 = time.perf_counter()
            with x.tr.span("synth.webpages"):
                write_docs(x.spark, x.docs, x.first_id, x.n_docs)
            t["docs_s"] = time.perf_counter() - t0
        if everything or "points" in self.inputs:
            t0 = time.perf_counter()
            with x.tr.span("synth.doc_coords"):
                write_points(x.points, x.first_id, x.n_docs)
            t["points_s"] = time.perf_counter() - t0
        return t

    def reference(self, x: Inputs) -> dict:
        raise NotImplementedError

    def op(self, x: Inputs):
        """One operation; returns what ``check`` compares."""
        raise NotImplementedError

    def check(self, out, ref: dict) -> list[str]:
        raise NotImplementedError

    def scan(self, x: Inputs) -> DataFrame:
        """The input columns the operation reads."""
        raise NotImplementedError

    def fused_layers(self, lay: dict) -> float:
        """Σ self time of the layers one operation is made of."""
        raise NotImplementedError


def _pairs_reference(x: Inputs) -> dict:
    ids, lat, lon = reference.geo_points(x.first_id, x.n_docs)
    p, z = reference.covered_pairs(lat, lon)
    url = reference.urls(ids)
    return {"lat": lat, "lon": lon, "url": url, "pair_p": p, "pair_z": z}


def _diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: {got} != reference {want}"]


class GeoTiling(Workload):
    name = "geo_tiling"
    why = (
        "flagship scan -> regex geocode -> broadcast PIP counts per zone; "
        "JVM regex bound, almost no shuffle, Arrow payload or kNN"
    )
    n_docs = 100_000
    inputs = ("docs",)

    def reference(self, x):
        r = _pairs_reference(x)
        return {"zone_counts": reference.zone_counts(r["pair_z"])}

    def op(self, x):
        tr = x.tr
        with tr.span("scan"):
            docs = x.spark.read.parquet(x.docs)
        with tr.span("geocode.geocode_coords"):
            geo = geocode.geocode_coords(docs).where(F.col("lat").isNotNull())
        with tr.span("pip.pip_count_by_zone"):
            agg = pip.pip_count_by_zone(
                geo.select("lat", "lon"), synth.zones(x.spark), x="lon", y="lat"
            )
        with tr.span("collect"):
            rows = agg.collect()
        return {int(r["zone_id"]): int(r["n_docs"]) for r in rows}

    def check(self, out, ref):
        want = ref["zone_counts"]
        bad = sorted(set(out.items()) ^ set(want.items()))[:5]
        return [f"zone counts differ from brute force, e.g. {bad}"] if bad else []

    def scan(self, x):
        return x.spark.read.parquet(x.docs).select("text")

    def fused_layers(self, lay):
        return lay["scan.text_s"] + lay["geocode.s"] + lay["pip.probe_s"]


class JoinRows(Workload):
    name = "join_rows"
    why = (
        "pre-geocoded points -> broadcast PIP rows, salted cell join and "
        "kNN k=3: payload through Arrow, Zipf-skewed shuffle, no regex"
    )
    n_docs = 20_000
    inputs = ("points",)

    def reference(self, x):
        r = _pairs_reference(x)
        url = r["url"]
        kp, ks, kr, kd = reference.knn_topk(r["lat"], r["lon"])
        return {
            "pairs": reference.digest(url[r["pair_p"]], r["pair_z"]),
            "knn": reference.digest(url[kp], ks * 4 + kr, kd),
        }

    def op(self, x):
        tr, spark = x.tr, x.spark
        pts = spark.read.parquet(x.points)
        zones = synth.zones(spark)
        out = {}
        with tr.span("pip.pip_join_broadcast"):
            b = pip.pip_join_broadcast(pts, zones, point_cols=["url"])
            out["bcast"] = digest(b, F.col("zone_id"))
        with tr.span("pip.auto_salt"):
            salt = pip.auto_salt(pts, CELL_RES)
        with tr.span("pip.pip_join_cells"):
            c = pip.pip_join_cells(
                pts, zones, res=CELL_RES, point_cols=["url"], salt=salt
            )
            out["cells"] = digest(c, F.col("zone_id"))
        with tr.span("knn.knn_join_broadcast"):
            k = knn.knn_join_broadcast(
                pts, synth.sites(spark), k=reference.KNN_K, point_cols=["url"]
            )
            out["knn"] = digest(k, F.col("site_id") * 4 + F.col("rank"), F.col("dist"))
        # the cell join caches its covering and never releases it; drop
        # it so every operation starts from the same cache state
        spark.catalog.clearCache()
        return out

    def check(self, out, ref):
        return (
            _diff("broadcast pairs", out["bcast"], ref["pairs"])
            + _diff("cell-join pairs", out["cells"], ref["pairs"])
            + _diff("knn rows", out["knn"], ref["knn"])
        )

    def scan(self, x):
        return x.spark.read.parquet(x.points).select("url", "lat", "lon")

    def fused_layers(self, lay):
        return lay["pip.bcast_join_s"] + lay["cells.join_s"] + lay["knn.s"]


def checkpoint_stages(x: Inputs) -> list[Stage]:
    """docs (text invariant) → geocoded (text invariant) → zone pairs."""

    def docs(spark):
        return spark.read.parquet(x.docs)

    def geocoded(spark, d):
        return geocode.geocode_coords(d)

    def pairs(spark, g):
        pts = g.where(F.col("lat").isNotNull()).select("url", "lat", "lon")
        return pip.pip_join_broadcast(pts, synth.zones(spark), point_cols=["url"])

    return [
        Stage("docs", docs, [], invariant_col="text"),
        Stage("geocoded", geocoded, ["docs"], invariant_col="text"),
        Stage("pairs", pairs, ["geocoded"]),
    ]


WORKLOADS = {w.name: w for w in (GeoTiling(), JoinRows())}


# ---------------------------------------------------------------------------
# Layer probes (traced run): each public entry point timed on its own
# ---------------------------------------------------------------------------


def _timed(tr: Tracer, name: str, fn, reps: int = 1):
    """(median seconds of ``reps`` calls of ``fn``, its last result)."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tr.span(name):
            out = fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts), out


def _noop_rows(df: DataFrame) -> int:
    """``noop`` that also counts the rows, with no extra job."""
    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def layer_probes(x: Inputs, wl: Workload):
    """Per-layer metrics on this run's inputs (see README.md); returns
    (metrics, errors of the checkpoint gate)."""
    spark, tr = x.spark, x.tr
    docs = lambda: spark.read.parquet(x.docs)  # noqa: E731
    pts = lambda: spark.read.parquet(x.points)  # noqa: E731
    zones = synth.zones(spark)
    m: dict[str, float] = {}

    # scan: the operation's own columns, and the text column geocode reads
    m["scan.s"], _ = _timed(tr, "scan", lambda: noop(wl.scan(x)), PROBE_REPS)
    m["scan.text_s"], _ = _timed(
        tr, "scan.text", lambda: noop(docs().select("text")), PROBE_REPS
    )

    # geocode: self time = geocode job minus the scan of its column
    def geo_job():
        df = geocode.geocode_coords(docs()).where(F.col("lat").isNotNull())
        df = df.select("lat", "lon")
        return _noop_rows(df), df._jdf.queryExecution().executedPlan().toString()

    geo_s, (rows, plan) = _timed(tr, "geocode.geocode_coords", geo_job, PROBE_REPS)
    m["geocode.s"] = geo_s - m["scan.text_s"]
    m["geocode.regex_in_plan"] = plan.count("regexp_")
    m["geocode.hit_ratio"] = rows / x.n_docs

    # pip: index build on the driver, probe, Arrow hop, broadcast join
    zrows = [(r["zone_id"], bytes(r["geometry"])) for r in zones.collect()]
    m["pip.index_build_s"], idx = _timed(
        tr, "pip.ZoneIndex", lambda: pip.ZoneIndex(zrows), PROBE_REPS
    )
    m["pip.index_cells"] = sum(len(lev[1]) for lev in idx.levels)
    m["pip.probe_s"], _ = _timed(
        tr,
        "pip.pip_count_by_zone",
        lambda: pip.pip_count_by_zone(pts().select("lat", "lon"), zones).collect(),
        PROBE_REPS,
    )
    m["pip.arrow_hop_s"], _ = _timed(
        tr,
        "arrow_hop",
        lambda: noop(
            pts().select("lat", "lon").mapInArrow(_identity_arrow, "lat double, lon double")
        ),
        PROBE_REPS,
    )
    m["pip.bcast_join_s"], m["pip.pairs_out"] = _timed(
        tr,
        "pip.pip_join_broadcast",
        lambda: _noop_rows(pip.pip_join_broadcast(pts(), zones, point_cols=["url"])),
    )

    # cells: covering size, salt, and the salted cell join end to end
    cov = pip.zone_cell_covering(zones, CELL_RES).agg(
        F.count(F.lit(1)).alias("rows"), F.sum(F.length("geometry")).alias("bytes")
    ).collect()[0]
    m["cells.covering_rows"] = int(cov["rows"])
    m["cells.covering_bytes"] = int(cov["bytes"])

    def cell_join():
        salt = pip.auto_salt(pts(), CELL_RES)
        noop(pip.pip_join_cells(pts(), zones, res=CELL_RES, point_cols=["url"],
                                salt=salt))
        spark.catalog.clearCache()
        return salt

    m["cells.join_s"], m["cells.salt"] = _timed(tr, "pip.pip_join_cells", cell_join)
    m["cells.over_bcast"] = m["cells.join_s"] / m["pip.bcast_join_s"]

    m["knn.s"], m["knn.rows_out"] = _timed(
        tr,
        "knn.knn_join_broadcast",
        lambda: _noop_rows(knn.knn_join_broadcast(
            pts(), synth.sites(spark), k=reference.KNN_K, point_cols=["url"])),
    )

    ck, errors = checkpoint_probes(x)
    m.update(ck)
    return m, errors


def check_checkpoint(out: dict, ref: dict) -> list[str]:
    """``text`` fingerprints equal stage over stage and to the reference;
    resume reruns only the stage whose manifest is gone."""
    err = []
    fp = out["fp"]
    if not (fp["docs"] == fp["geocoded"] == ref["text_fp"]):
        err.append(f"text fingerprints differ stage over stage: {fp}")
    if not (fp["pairs"] == out["resumed_fp"] == ref["pairs_rows"]):
        err.append(f"pairs {fp['pairs']}/{out['resumed_fp']} != {ref['pairs_rows']}")
    if out["skipped"] != ["docs", "geocoded"]:
        err.append(f"resume skipped {out['skipped']}, expected docs and geocoded")
    return err


def checkpoint_reference(x: Inputs) -> dict:
    texts = synth.webpages_pdf(reference.doc_ids(x.first_id, x.n_docs))["text"]
    _, lat, lon = reference.geo_points(x.first_id, x.n_docs)
    return {
        "text_fp": reference.text_fingerprint(texts.tolist()),
        "pairs_rows": f"rows={len(reference.covered_pairs(lat, lon)[0])}",
    }


def checkpoint_probes(x: Inputs) -> tuple[dict[str, float], list[str]]:
    """``plans.checkpoint`` on this run's docs: a fresh run, the same
    DataFrames written plain, lineage, a full skip and a resume of the
    last stage; returns (metrics, gate errors)."""
    spark, tr = x.spark, x.tr
    ref = checkpoint_reference(x)
    base = os.path.join(x.work, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    stages = checkpoint_stages(x)
    runner = CheckpointRunner(spark, base)
    with tr.span("checkpoint.run_fresh"):
        runner.run(stages)
    m = {}
    fp = {}
    for s in stages:
        man = runner.manifest(s.name)
        m[f"checkpoint.stage_{s.name}_s"] = man["wall_s"]
        fp[s.name] = man["output_fingerprint"]

    # the same DataFrames written plain, each from its plain parent
    plain = os.path.join(x.work, "plain")
    outs, plain_t = {}, {}
    for s in stages:
        t0 = time.perf_counter()
        with tr.span(f"plain_write.{s.name}"):
            df = s.fn(spark, *[outs[p] for p in s.parents])
            df.write.mode("overwrite").parquet(os.path.join(plain, s.name))
        plain_t[s.name] = time.perf_counter() - t0
        outs[s.name] = spark.read.parquet(os.path.join(plain, s.name))
    m["checkpoint.plain_write_s"] = sum(plain_t.values())
    m["checkpoint.plain_pairs_s"] = plain_t["pairs"]
    m["checkpoint.overhead_ratio"] = (
        sum(m[f"checkpoint.stage_{s.name}_s"] for s in stages)
        / m["checkpoint.plain_write_s"]
    )

    t0 = time.perf_counter()
    with tr.span("checkpoint.lineage"):
        lin = [runner.lineage(s.name) for s in stages]
    m["checkpoint.lineage_s"] = time.perf_counter() - t0
    m["checkpoint.lineage_partitions"] = sum(len(df) for df in lin)

    t0 = time.perf_counter()
    with tr.span("checkpoint.run_skip"):
        runner.run(stages)
    m["checkpoint.skip_s"] = time.perf_counter() - t0

    os.remove(os.path.join(base, "pairs", "manifest.json"))
    t0 = time.perf_counter()
    with tr.span("checkpoint.run_resume"):
        runner.run(stages)
    m["checkpoint.resume_s"] = time.perf_counter() - t0
    out = {
        "fp": fp,
        "resumed_fp": runner.manifest("pairs")["output_fingerprint"],
        "skipped": sorted(runner.skipped),
    }
    return m, check_checkpoint(out, ref)


# metric name → unit; BENCHMARK.json lists the same names (tested)
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "wall_tail_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "synth.materialize_s": "s",
    "scan.s": "s",
    "scan.text_s": "s",
    "geocode.s": "s",
    "geocode.regex_in_plan": "count",
    "geocode.hit_ratio": "ratio",
    "pip.index_build_s": "s",
    "pip.index_cells": "count",
    "pip.probe_s": "s",
    "pip.arrow_hop_s": "s",
    "pip.bcast_join_s": "s",
    "pip.pairs_out": "count",
    "cells.covering_rows": "count",
    "cells.covering_bytes": "bytes",
    "cells.salt": "count",
    "cells.join_s": "s",
    "cells.over_bcast": "ratio",
    "knn.s": "s",
    "knn.rows_out": "count",
    "checkpoint.stage_docs_s": "s",
    "checkpoint.stage_geocoded_s": "s",
    "checkpoint.stage_pairs_s": "s",
    "checkpoint.plain_write_s": "s",
    "checkpoint.plain_pairs_s": "s",
    "checkpoint.overhead_ratio": "ratio",
    "checkpoint.lineage_s": "s",
    "checkpoint.lineage_partitions": "count",
    "checkpoint.skip_s": "s",
    "checkpoint.resume_s": "s",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "fused_gap_s": "s",
    "trace_overhead": "ratio",
    "scaling_eff": "ratio",
}
