"""The grid kNN and the distance-within join must agree exactly with
brute force (same tie-break) on clustered + uniform points."""

import numpy as np
import pytest

from spapy_spark.operators import knn
from spapy_spark.sources import synth


def test_knn_haversine_metric(spark):
    """Geodesic ranking differs from planar near the poles: at 80°N a
    1° lon offset is ~6x shorter on the sphere than 1° lat."""
    from spapy_spark.geometry.kernels import haversine_m

    sites = spark.createDataFrame(
        [(1, 1.0, 80.0), (2, 0.0, 79.1)],  # (id, lon, lat)
        "site_id long, x double, y double",
    )
    pts = spark.createDataFrame([(0, 80.0, 0.0)],
                                "point_id long, lat double, lon double")
    planar = knn.knn_join_broadcast(pts, sites, k=1,
                                    point_cols=["point_id"]).collect()
    hav = knn.knn_join_broadcast(pts, sites, k=1, point_cols=["point_id"],
                                 metric="haversine").collect()
    # planar degrees: site2 at dist 0.9 beats site1 at dist 1.0
    assert planar[0]["site_id"] == 2
    # geodesic: 1° lon at 80°N ≈ 19 km, 0.9° lat ≈ 100 km → site1 wins
    assert hav[0]["site_id"] == 1
    d = float(haversine_m(np.array([80.0]), np.array([0.0]),
                          np.array([80.0]), np.array([1.0]))[0])
    assert hav[0]["dist"] == pytest.approx(d, rel=1e-12)


def test_topk_block_chunked_matches_dense():
    """Site-axis chunking (the 10^5-site memory fix) is bit-identical
    to the one-shot dense path, both metrics."""
    rng = np.random.default_rng(11)
    n, s, k = 300, 2500, 4
    px, py = rng.uniform(-180, 180, n), rng.uniform(-80, 80, n)
    sx, sy = rng.uniform(-180, 180, s), rng.uniform(-80, 80, s)
    sid = rng.permutation(s).astype(np.int64)
    import spapy_spark.operators.knn as knn_mod
    save = knn_mod._TOPK_BLOCK_BYTES
    try:
        knn_mod._TOPK_BLOCK_BYTES = 8 * n * 97  # chunk = 97 sites
        ch = knn_mod._topk_block(px, py, sx, sy, sid, k)
        knn_mod._TOPK_BLOCK_BYTES = 8 * n * s  # single chunk
        dn = knn_mod._topk_block(px, py, sx, sy, sid, k)
    finally:
        knn_mod._TOPK_BLOCK_BYTES = save
    for a, b in zip(ch, dn):
        np.testing.assert_array_equal(a, b)


def test_within_distance_matches_bruteforce(spark):
    sites = synth.sites(spark, 200)
    ids = np.arange(800)
    _, lat, lon = synth.doc_coords(ids)
    pts = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in ids],
        "point_id long, lat double, lon double",
    )
    d = 2.5
    got = {(r["point_id"], r["site_id"]): r["dist"]
           for r in knn.within_distance(pts, sites, d, res=6).collect()}
    rows = synth._site_rows(200)
    sx = np.array([r[2] for r in rows])
    sy = np.array([r[3] for r in rows])
    sid = np.array([r[0] for r in rows])
    want = {}
    for i in ids:
        d2 = (lon[i] - sx) ** 2 + (lat[i] - sy) ** 2
        for j in np.nonzero(d2 <= d * d)[0]:
            want[(int(i), int(sid[j]))] = np.sqrt(d2[j])
    assert set(got) == set(want)
    for kk, v in want.items():
        assert got[kk] == pytest.approx(v, rel=1e-12)


def test_knn_grid_exact_matches_broadcast(spark):
    """Single-pass exact grid kNN (per-cell domination pruning) is
    bit-identical to brute force for every point — including clustered
    sites, k > cell occupancy, and points in empty cells — and runs
    wholly JVM-side: no Python node in its plan."""
    sites = synth.sites(spark, 64)
    ids = np.arange(800)
    _, lat, lon = synth.doc_coords(ids)
    pts = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in ids],
        "point_id long, lat double, lon double",
    )
    for res in (2, 4, 6):
        grid = knn.knn_join_grid_exact(pts, sites, k=3, res=res)
        plan = grid._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan
        ex = grid.collect()
        brute = knn.knn_join_broadcast(pts, sites, k=3,
                                       point_cols=["point_id"]).collect()
        assert len(ex) == len(brute) == 800 * 3
        want = {(r["point_id"], r["rank"]): (r["site_id"], r["dist"])
                for r in brute}
        for r in ex:
            ws, wd = want[(r["point_id"], r["rank"])]
            assert r["site_id"] == ws and r["dist"] == wd


def test_knn_grid_exact_k_exceeds_sites(spark):
    """k larger than the site count degrades to |sites| rows/point."""
    sites = synth.sites(spark, 5)
    pts = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, -45.0, 170.0)],
        "point_id long, lat double, lon double",
    )
    rows = knn.knn_join_grid_exact(pts, sites, k=9, res=3).collect()
    assert len(rows) == 2 * 5


def test_sites_is_a_local_relation_of_the_synthesized_rows(spark):
    sdf = synth.sites(spark, 300)
    assert sdf.schema.simpleString() == (
        "struct<site_id:bigint,kind:string,x:double,y:double,"
        "geometry:binary>"
    )
    # collect() (every knn_join_broadcast) reads a local relation on the
    # driver, no Spark job
    assert "LocalRelation" in sdf._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in sdf.collect()] == list(synth._site_rows(300))
