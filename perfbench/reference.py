"""Driver-side references the benchmark checks every output against.

Everything here is numpy over the generator's own per-id formulas
(``synth.doc_coords``) and the brute-force point-in-polygon kernel
(``kernels.points_covered_by``): no Spark, no index, no cell covering,
so a bug in the engine's join paths cannot hide in its own reference.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np

from spapy_spark.geometry import kernels, wkb
from spapy_spark.sources import synth

# digest of a (url, key) row set: count plus a sum of per-row hashes,
# computed identically here and in Spark (``workloads.digest``)
DIGEST_MUL = 1_000_003
DIGEST_MOD = 2_147_483_647
DIST_SCALE = 1e9
KNN_K = 3


def doc_ids(first_id: int, n: int) -> np.ndarray:
    return np.arange(first_id, first_id + n, dtype=np.int64)


def urls(ids: np.ndarray) -> np.ndarray:
    """The ``url`` column ``synth.webpages_pdf`` gives each id."""
    return np.array(
        [f"https://site{i % 1000}.example/page/{i}" for i in ids.tolist()],
        dtype=object,
    )


def geo_points(first_id: int, n: int):
    """(ids, lat, lon) of the docs that carry a coordinate mention."""
    ids = doc_ids(first_id, n)
    has_geo, lat, lon = synth.doc_coords(ids)
    return ids[has_geo], lat[has_geo], lon[has_geo]


def covered_pairs(lat: np.ndarray, lon: np.ndarray):
    """All (point index, zone_id) with the point covered by the zone:
    every point against every zone, bbox-prefiltered."""
    out_p, out_z = [], []
    for zid, geom in synth.zones_pdf()[["zone_id", "geometry"]].itertuples(
        index=False
    ):
        g = wkb.loads(bytes(geom))
        x0, y0, x1, y1 = kernels.geom_bounds(g)
        cand = np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0]
        if len(cand) == 0:
            continue
        hit = np.zeros(len(cand), dtype=bool)
        for rings in wkb.polygons_of(g):
            hit |= kernels.points_covered_by(lon[cand], lat[cand], rings)
        out_p.append(cand[hit])
        out_z.append(np.full(int(hit.sum()), int(zid), np.int64))
    if not out_p:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_p), np.concatenate(out_z)


def zone_counts(zone_ids: np.ndarray) -> dict[int, int]:
    z, c = np.unique(zone_ids, return_counts=True)
    return dict(zip(z.tolist(), c.tolist()))


def knn_topk(lat: np.ndarray, lon: np.ndarray, k: int = KNN_K):
    """Exact planar k nearest sites per point, ties by (dist, site_id).

    Returns (point index, site_id, rank, dist) flattened row-major.
    """
    sites = synth.sites_pdf()
    sid = sites["site_id"].to_numpy(np.int64)
    sx = sites["x"].to_numpy(np.float64)
    sy = sites["y"].to_numpy(np.float64)
    n = len(lat)
    best_s = np.empty((n, k), np.int64)
    best_d = np.empty((n, k), np.float64)
    step = 2048
    for lo in range(0, n, step):
        px, py = lon[lo : lo + step, None], lat[lo : lo + step, None]
        d2 = (px - sx[None, :]) ** 2 + (py - sy[None, :]) ** 2
        # k+1 smallest by distance, then an exact (dist, site_id) sort;
        # rows where the (k+1)-th ties the k-th get a full sort
        m = min(k + 1, len(sid))
        part = np.argpartition(d2, m - 1, axis=1)[:, :m]
        pd2 = np.take_along_axis(d2, part, axis=1)
        order = np.lexsort((sid[part], pd2), axis=1)
        ks = np.take_along_axis(part, order, axis=1)
        kd = np.take_along_axis(pd2, order, axis=1)
        tie = kd[:, -1] == kd[:, k - 1] if m > k else np.zeros(len(kd), bool)
        for r in np.nonzero(tie)[0]:
            full = np.lexsort((sid, d2[r]))
            ks[r], kd[r] = full[:m], d2[r][full[:m]]
        best_s[lo : lo + step] = sid[ks[:, :k]]
        best_d[lo : lo + step] = kd[:, :k]
    rows = np.repeat(np.arange(n), k)
    ranks = np.tile(np.arange(1, k + 1, dtype=np.int64), n)
    return rows, best_s.ravel(), ranks, np.sqrt(best_d.ravel())


def digest(url_vals, keys, dist=None) -> tuple[int, ...]:
    """(rows, Σ (crc32(url)·MUL + key) mod MOD[, Σ floor(dist·1e9)]) —
    the Spark twin is ``workloads.digest``. Distances compare exactly:
    the engine parses the same 4-decimal coordinates this reference
    rounds to, and computes the same float64 expression."""
    crc = np.array(
        [zlib.crc32(u.encode("utf-8")) for u in url_vals], dtype=np.int64
    )
    keys = np.asarray(keys, dtype=np.int64)
    out = (len(crc), int(((crc * DIGEST_MUL + keys) % DIGEST_MOD).sum()))
    if dist is not None:
        out += (int(np.floor(np.asarray(dist) * DIST_SCALE).astype(np.int64).sum()),)
    return out


def text_fingerprint(texts) -> str:
    """``plans.checkpoint._content_fingerprint`` of a ``text`` column,
    recomputed with hashlib: Σ int(sha256(text)[:15], 16) and the count."""
    s = sum(int(hashlib.sha256(t.encode("utf-8")).hexdigest()[:15], 16) for t in texts)
    return f"sum={s},n={len(texts)}"
