"""Cosine nearest-neighbor search over embedding columns.

Two exact top-k plans with one answer (the ``ann_cosine`` and
``ann_cosine_arrow`` contract queries check both against the same
oracle):

- ``cosine_topk``       — broadcast the query set, dot products via
  posexplode + decimal-exact sums (JVM-side, no Python;
  bit-reproducible in the DuckDB oracle).
- ``cosine_topk_arrow`` — the production plan: broadcast the query
  block, one float64 matmul per Arrow batch with a per-batch top-k, so
  no row inflation and no wide shuffle.

``add_lsh_bucket`` appends a deterministic random-hyperplane sign-bit
bucket (splitmix-generated planes); ``dedup.embedding_near_dup_pairs``
uses it to limit candidate pairs to bucket collisions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType

from ..sources.synth import _mix


def _norms(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Decimal-exact L2 norms (deterministic across engines)."""
    e = df.select(id_col, F.posexplode(vec_col).alias("pos", "v"))
    return e.groupBy(id_col).agg(
        F.sqrt(
            F.sum(
                (F.col("v").cast("double") * F.col("v").cast("double")).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
        ).alias("norm")
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    Dot products via position join + decimal-exact sum; ties broken by
    (cosine desc, vec_id).  Output: (query_id, vec_id, rank, cosine).
    """
    qe = queries.select(
        F.col(query_id), F.posexplode(vec_col).alias("pos", "qv")
    )
    ve = vectors.select(
        F.col(id_col), F.posexplode(vec_col).alias("pos", "vv")
    )
    dots = (
        ve.join(F.broadcast(qe), "pos")
        .groupBy(query_id, id_col)
        .agg(
            F.sum(
                (F.col("qv").cast("double") * F.col("vv").cast("double"))
                .cast("decimal(28,12)")
            ).cast("double").alias("dot")
        )
    )
    qn = _norms(queries, query_id, vec_col).withColumnRenamed("norm", "qn")
    vn = _norms(vectors, id_col, vec_col).withColumnRenamed("norm", "vn")
    cos = (
        dots.join(F.broadcast(qn), query_id)
        .join(vn, id_col)
        .withColumn("cosine", F.col("dot") / (F.col("qn") * F.col("vn")))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cos.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "rank", "cosine")
    )


def cosine_topk_arrow(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact brute-force cosine top-k — the PRODUCTION brute plan.

    ``cosine_topk`` is the decimal-exact oracle twin but posexplodes
    every vector into ``dim`` rows (dim× shuffle inflation — the r1
    perf audit's finding).  This variant broadcasts the small query
    block and does one float64 matmul per Arrow batch with a per-batch
    (cosine desc, vec_id) top-k, so only ``batches × q × k`` candidate
    rows ever leave the scan — no row inflation, no wide shuffle.
    Results are identical up to float64-vs-decimal summation order
    (≤1 ulp); ties (duplicate vectors) break identically by vec_id.
    """
    spark = vectors.sparkSession
    qrows = queries.select(query_id, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.sqrt((Q * Q).sum(axis=1))
    bc = spark.sparkContext.broadcast((qids, Q, qn))
    src = vectors.select(id_col, vec_col)

    def probe(batches):
        import pyarrow as pa

        qids_, Q_, qn_ = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            flat = batch.column(vec_col).flatten().to_numpy(
                zero_copy_only=False
            )
            E = flat.reshape(n, -1).astype(np.float64)
            vn = np.sqrt((E * E).sum(axis=1))
            cos = (E @ Q_.T) / (vn[:, None] * qn_[None, :])
            kk = min(k, n)
            out_q, out_v, out_c = [], [], []
            for j in range(len(qids_)):
                order = np.lexsort((ids, -cos[:, j]))[:kk]
                out_q.append(np.full(kk, qids_[j], dtype=np.int64))
                out_v.append(ids[order].astype(np.int64))
                out_c.append(cos[order, j])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_v), type=pa.int64()),
                    pa.array(np.concatenate(out_c), type=pa.float64()),
                ],
                [query_id, id_col, "cosine"],
            )

    cand = src.mapInArrow(
        probe, schema=f"{query_id} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# LSH bucketing (candidate generation for dedup.embedding_near_dup_pairs)
# ---------------------------------------------------------------------------


def _planes(dim: int, n_planes: int, seed: int = 1234) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes via splitmix64 →
    uniform(-1, 1) (platform-stable, no RNG state)."""
    idx = np.arange(dim * n_planes, dtype=np.uint64) + np.uint64(
        seed * 1_000_003
    )
    u = (_mix(idx) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    return (u * 2.0 - 1.0).reshape(n_planes, dim)


def add_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "bucket",
    seed: int = 1234,
) -> DataFrame:
    """Append the sign-bit hyperplane bucket (vectorized matmul UDF)."""
    planes = _planes(dim, n_planes, seed)

    @F.pandas_udf(LongType())
    def enc(vs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if len(m) == 0:
            return pd.Series([], dtype="int64")
        signs = (m @ planes.T) > 0
        weights = (1 << np.arange(planes.shape[0], dtype=np.int64))
        return pd.Series(signs @ weights)

    return df.withColumn(out, enc(F.col(vec_col)))
