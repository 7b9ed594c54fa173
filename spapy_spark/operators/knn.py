"""kNN nearest-feature lookup and the distance-within join (north-rule
operators).

The reference has no kNN at all (its only "nearest" is raster
resampling, /root/reference/SpaRasters.py:1390); this operator is new
engine surface mandated by BASELINE.json's north_star ("STRtree-per-
partition kNN").

Two kNN plans, one answer (the ``knn_sites`` and ``knn_sites_grid``
contract queries check both against the same oracle):

- ``knn_join_broadcast`` — the site layer is collected and broadcast;
  each point batch is resolved with a vectorized distance matrix and a
  site-axis-chunked running top-k.  No shuffle of the point side.
- ``knn_join_grid_exact`` — pure Catalyst, no Python and no collect:
  per grid cell the site side keeps only the sites not dominated by k
  others for every point in the cell; points join their one cell's
  list and a window takes the top-k.  One shuffle of the point stream.

``within_distance`` is the range join on the same grid: sites bucket
to one cell, points explode to the cells a radius-``d`` disc touches.

Tie-break is deterministic everywhere: order by (distance, site_id) —
the DuckDB oracle mirrors it with ``ORDER BY dist, site_id``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def _out_schema(points: DataFrame, point_cols: list[str]) -> StructType:
    fields = [f for f in points.schema.fields if f.name in point_cols]
    return StructType(
        fields
        + [
            StructField("site_id", LongType(), False),
            StructField("rank", LongType(), False),
            StructField("dist", DoubleType(), False),
        ]
    )


# soft cap on the transient distance-matrix footprint per task (the
# r1 audit flagged the unchunked N×S matrix: 10k-row Arrow batches ×
# 10^5 sites = 8 GB; chunking the site axis bounds it at ~64 MB)
_TOPK_BLOCK_BYTES = 64 * 1024 * 1024


def _dist_block(px, py, sx, sy, metric):
    from ..geometry.kernels import haversine_m

    if metric == "haversine":
        return haversine_m(py[:, None], px[:, None], sy[None, :], sx[None, :])
    return (px[:, None] - sx[None, :]) ** 2 + (py[:, None] - sy[None, :]) ** 2


def _topk_block(
    px: np.ndarray,
    py: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    sid: np.ndarray,
    k: int,
    metric: str = "planar",
):
    """Vectorized brute-force k nearest of each point among (sx, sy).

    Returns (point_row_idx, site_id, rank, dist) arrays; ties broken by
    (dist, site_id).  metric='planar' ranks by squared euclidean in
    degree space (dist output = sqrt); metric='haversine' ranks by
    great-circle meters (kernels.haversine_m) — the geodesic-correct
    variant for geographic coordinates.

    The site axis is processed in chunks with a running per-point
    top-k fold, so memory is O(n·chunk), not O(n·S) — the 10^5-site
    broadcast plan stays within task memory.
    """
    n, s = len(px), len(sx)
    kk = min(k, s)
    if n == 0 or kk == 0:
        e = np.empty(0, np.int64)
        return e, e, e, np.empty(0, np.float64)
    chunk = max(kk, min(s, int(_TOPK_BLOCK_BYTES / (8 * max(n, 1)))))
    best_d = np.full((n, kk), np.inf)
    best_s = np.full((n, kk), np.iinfo(np.int64).max, dtype=np.int64)
    for lo in range(0, s, chunk):
        hi = min(lo + chunk, s)
        d2 = _dist_block(px, py, sx[lo:hi], sy[lo:hi], metric)
        c = hi - lo
        kc = min(kk, c)
        if kc < c:
            part = np.argpartition(d2, kc - 1, axis=1)[:, :kc]
            cd = np.take_along_axis(d2, part, axis=1)
            cs = sid[lo:hi][part]
        else:
            cd = d2
            cs = np.broadcast_to(sid[lo:hi], (n, c))
        alld = np.concatenate([best_d, cd], axis=1)
        alls = np.concatenate([best_s, cs], axis=1)
        order = np.lexsort((alls, alld), axis=1)[:, :kk]
        best_d = np.take_along_axis(alld, order, axis=1)
        best_s = np.take_along_axis(alls, order, axis=1)
    rows = np.repeat(np.arange(n), kk)
    ranks = np.tile(np.arange(1, kk + 1, dtype=np.int64), n)
    dist = best_d.ravel() if metric == "haversine" else np.sqrt(best_d.ravel())
    return rows, best_s.ravel(), ranks, dist


def knn_join_broadcast(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    x: str = "lon",
    y: str = "lat",
    point_cols: list[str] | None = None,
    site_id: str = "site_id",
    sx: str = "x",
    sy: str = "y",
    metric: str = "planar",
) -> DataFrame:
    """Broadcast kNN: each point gets its ``k`` nearest sites.

    Output: ``point_cols + [site_id, rank, dist]`` (rank 1 = nearest;
    planar euclidean distance in degrees, matching the SQL oracle).
    """
    if point_cols is None:
        point_cols = [c for c in points.columns if c not in (x, y)]
    rows = sites.select(site_id, sx, sy).collect()
    arr_id = np.array([r[0] for r in rows], dtype=np.int64)
    arr_x = np.array([r[1] for r in rows], dtype=np.float64)
    arr_y = np.array([r[2] for r in rows], dtype=np.float64)
    bc = points.sparkSession.sparkContext.broadcast((arr_id, arr_x, arr_y))
    schema = _out_schema(points, point_cols)
    src = points.select(*point_cols, x, y).where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    )

    def probe(batches):
        sid, sxa, sya = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf[x].to_numpy(np.float64)
            py = pdf[y].to_numpy(np.float64)
            rows_, out_sid, ranks, dist = _topk_block(px, py, sxa, sya, sid, k, metric)
            out = pdf.iloc[rows_][point_cols].reset_index(drop=True)
            out["site_id"] = out_sid
            out["rank"] = ranks
            out["dist"] = dist
            yield out

    return src.mapInPandas(probe, schema=schema)


def _cell_ij(n: int, lon_c, lat_c):
    """(ix, iy) of the n×n lon/lat grid cell holding each point, clamped
    to the grid; callers key cells as ``ix·n + iy``."""
    ix = F.least(
        F.greatest(F.floor((lon_c + 180.0) / 360.0 * n), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    iy = F.least(
        F.greatest(F.floor((lat_c + 90.0) / 180.0 * n), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    return ix, iy


def within_distance(
    points: DataFrame,
    sites: DataFrame,
    d: float,
    res: int = 6,
    x: str = "lon",
    y: str = "lat",
    point_id: str = "point_id",
    site_id: str = "site_id",
    sx: str = "x",
    sy: str = "y",
) -> DataFrame:
    """Distance-within (range/theta) join — every (point, site) pair
    with planar distance ≤ ``d``, via the buffered cell covering named
    in SURVEY §2.4: sites bucket at one cell each; points explode to
    the (2·rx+1)×(2·ry+1) cell neighborhood that provably covers a
    radius-``d`` disc; equi-join on the cell + exact distance filter.

    Pure Catalyst (no Python, no broadcast): both sides can be
    arbitrarily large; the shuffle key is the cell, and the explosion
    factor is fixed by d/cell size, so the plan scales linearly.
    The reference has no range join (nearest-neighbor gap, SURVEY
    §2.4); this is new engine surface.
    """
    import math

    n = 1 << res
    cell_w, cell_h = 360.0 / n, 180.0 / n
    rx = int(math.ceil(d / cell_w))
    ry = int(math.ceil(d / cell_h))

    s_ix, s_iy = _cell_ij(n, F.col(sx), F.col(sy))
    s = sites.select(
        F.col(site_id).alias("__sid"), F.col(sx).alias("__sx"),
        F.col(sy).alias("__sy"), (s_ix * n + s_iy).alias("__cell"),
    )
    p_ix, p_iy = _cell_ij(n, F.col(x), F.col(y))
    offs = [(dy, dx) for dy in range(-ry, ry + 1) for dx in range(-rx, rx + 1)]
    cells_arr = F.array(*[
        F.when(
            ((p_iy + dy) >= 0) & ((p_iy + dy) < n),
            F.pmod(p_ix + dx, F.lit(n)) * n + (p_iy + dy),
        )
        for dy, dx in offs
    ])
    p = points.select(
        F.col(point_id), F.col(x).alias("__px"), F.col(y).alias("__py"),
        F.explode(cells_arr).alias("__cell"),
    ).where(F.col("__cell").isNotNull())
    j = p.join(s, "__cell")
    dx = F.col("__px") - F.col("__sx")
    dy = F.col("__py") - F.col("__sy")
    d2 = dx * dx + dy * dy
    return (
        j.where(d2 <= F.lit(float(d) * float(d)))
        .select(point_id, F.col("__sid").alias("site_id"),
                F.sqrt(d2).alias("dist"))
    )


def knn_join_grid_exact(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    res: int = 5,
    x: str = "lon",
    y: str = "lat",
    point_id: str = "point_id",
    site_id: str = "site_id",
    sx: str = "x",
    sy: str = "y",
) -> DataFrame:
    """Single-pass grid kNN — exact answer, no Python, no collect of
    the site side.

    A fixed search neighborhood cannot promise that a point's k-th
    neighbor is inside it.  But the promise is computable wholly on the
    SITE side: for every grid cell, rank all sites by their max distance
    to the cell rectangle (``ud2``) and keep exactly the sites whose min distance (``ld2``) does not exceed
    the k-th smallest ``ud2`` — any dropped site is strictly dominated
    by k others for EVERY point in the cell, so the per-cell candidate
    list provably contains each point's true top-k.  Points then join
    their single cell's pruned list and a ``(__cell, point_id)`` window
    takes the top-k.  When Catalyst broadcasts the pruned site list, the
    point shuffle by cell satisfies both the join and the window; when
    it broadcasts the point side instead (a small point side, as in the
    contract query), the window shuffles again.

    Site-side cost is O(4^res · |sites|) rows through two tiny window
    passes — the right plan whenever the site table is the small one
    (the broadcast regime, but with zero Python and no collect).
    Output: (point_id, site_id, rank, dist), the same rows and
    tie-break as :func:`knn_join_broadcast`.
    """
    from pyspark.sql import Window

    n = 1 << res
    cell_w, cell_h = 360.0 / n, 180.0 / n

    spark = points.sparkSession
    cells_df = spark.range(n * n).select(F.col("id").alias("__cell"))
    s0 = sites.select(
        F.col(site_id).alias("__sid"), F.col(sx).alias("__sx"),
        F.col(sy).alias("__sy"),
    )
    pairs = cells_df.crossJoin(s0)
    # cell rect from the id (__cell = ix·n + iy, _cell_ij encoding)
    x0 = (F.floor(F.col("__cell") / n) * cell_w - 180.0)
    y0 = (F.pmod(F.col("__cell"), F.lit(n)) * cell_h - 90.0)
    ldx = F.greatest(x0 - F.col("__sx"), F.col("__sx") - (x0 + cell_w), F.lit(0.0))
    ldy = F.greatest(y0 - F.col("__sy"), F.col("__sy") - (y0 + cell_h), F.lit(0.0))
    udx = F.greatest(F.col("__sx") - x0, (x0 + cell_w) - F.col("__sx"))
    udy = F.greatest(F.col("__sy") - y0, (y0 + cell_h) - F.col("__sy"))
    pairs = pairs.select(
        "__cell", "__sid", "__sx", "__sy",
        (ldx * ldx + ldy * ldy).alias("__ld2"),
        (udx * udx + udy * udy).alias("__ud2"),
    )
    wrank = Window.partitionBy("__cell").orderBy(
        F.col("__ud2").asc(), F.col("__sid").asc()
    )
    wcell = Window.partitionBy("__cell")
    s = (
        pairs.withColumn("__rn", F.row_number().over(wrank))
        .withColumn(
            "__thresh",
            F.max(F.when(F.col("__rn") <= k, F.col("__ud2"))).over(wcell),
        )
        .where(F.col("__ld2") <= F.col("__thresh"))
        .select("__cell", "__sid", "__sx", "__sy")
    )

    p_ix, p_iy = _cell_ij(n, F.col(x), F.col(y))
    p = points.select(
        F.col(point_id), F.col(x).alias("__px"), F.col(y).alias("__py"),
        (p_ix * n + p_iy).alias("__cell"),
    ).where(F.col("__cell").isNotNull())
    p = p.repartition(F.col("__cell"))
    j = p.join(s, "__cell")
    dx = F.col("__px") - F.col("__sx")
    dy = F.col("__py") - F.col("__sy")
    d2 = dx * dx + dy * dy
    w = Window.partitionBy("__cell", point_id).orderBy(
        F.col("__d2").asc(), F.col("__sid").asc()
    )
    return (
        j.select("__cell", point_id, F.col("__sid"), d2.alias("__d2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col(point_id),
            F.col("__sid").alias("site_id"),
            F.col("rank"),
            F.sqrt(F.col("__d2")).alias("dist"),
        )
    )
