"""Flagship PIP join vs the reference's own algorithm (brute-force
nested loop, /root/reference/SpaVectors.py:939-983) reimplemented over
the synthetic fixtures — exact row-set match (SURVEY.md §5.3)."""

import collections

import numpy as np
import pytest

from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators import geocode, pip
from spapy_spark.sources import synth

N_DOCS = 3000


@pytest.fixture(scope="module")
def world(spark):
    docs = synth.webpages(spark, N_DOCS, partitions=4)
    zdf = synth.zones(spark)
    return docs, zdf


def brute_force_pairs():
    """The reference's nested-loop PIP over the same synthetic world."""
    ids = np.arange(N_DOCS)
    has_geo, lat, lon = synth.doc_coords(ids)
    zpdf = synth.zones_pdf()
    pairs = set()
    for _, zrow in zpdf.iterrows():
        g = wkb.loads(bytes(zrow["geometry"]))
        hit = np.zeros(N_DOCS, dtype=bool)
        for rings in wkb.polygons_of(g):
            hit |= kernels.points_covered_by(lon, lat, rings)
        hit &= has_geo
        for i in np.nonzero(hit)[0]:
            pairs.add((f"https://site{i % 1000}.example/page/{i}", int(zrow["zone_id"])))
    return pairs


@pytest.fixture(scope="module")
def oracle_pairs():
    return brute_force_pairs()


def spark_pairs(df):
    return {(r["url"], r["zone_id"]) for r in df.select("url", "zone_id").collect()}


def test_geocode_recovers_exact_coords(spark, world):
    docs, _ = world
    got = geocode.geocode_coords(docs).where("lat is not null").select(
        "url", "lat", "lon"
    )
    rows = {r["url"]: (r["lat"], r["lon"]) for r in got.collect()}
    ids = np.arange(N_DOCS)
    has_geo, lat, lon = synth.doc_coords(ids)
    want = {
        f"https://site{i % 1000}.example/page/{i}": (lat[i], lon[i])
        for i in np.nonzero(has_geo)[0]
    }
    assert set(rows) == set(want)
    for k in want:
        assert rows[k] == want[k], k  # bit-exact: text embeds 4-decimals


def test_pip_broadcast_matches_brute_force(spark, world, oracle_pairs):
    docs, zdf = world
    pts = geocode.geocode_coords(docs).where("lat is not null")
    out = pip.pip_join_broadcast(pts, zdf, point_cols=["url"])
    assert spark_pairs(out) == oracle_pairs


def test_pip_count_matches_brute_force_across_zone_layers(spark, world, oracle_pairs):
    """Calls over two different zone layers in one session each probe
    their own index: workers cache indexes by zone content, so a
    repeated layer reuses one and a different layer never does."""
    docs, zdf = world
    pts = geocode.geocode_coords(docs).where("lat is not null")
    even = zdf.where("zone_id % 2 = 0")
    for zones, keep in ((zdf, lambda z: True), (even, lambda z: z % 2 == 0),
                        (zdf, lambda z: True)):
        want = collections.Counter(z for _, z in oracle_pairs if keep(z))
        got = {r["zone_id"]: r["n_docs"]
               for r in pip.pip_count_by_zone(pts, zones).collect()}
        assert got == dict(want)


def test_index_token_keys_zone_content():
    zrows = [(r[0], r[4]) for r in synth._zone_rows(20)]
    tok = pip._index_token(zrows, None)
    assert tok == pip._index_token([(z, bytes(g)) for z, g in zrows], None)
    assert tok != pip._index_token(zrows, 6)
    assert tok != pip._index_token(zrows[:-1], None)
    renumbered = zrows[:-1] + [(zrows[-1][0] + 1000, zrows[-1][1])]
    assert tok != pip._index_token(renumbered, None)


def test_zones_is_a_local_relation_of_the_synthesized_rows(spark):
    zdf = synth.zones(spark)
    assert zdf.schema.simpleString() == (
        "struct<zone_id:bigint,name:string,labelrank:bigint,"
        "pop_est:double,geometry:binary>"
    )
    # collect() reads a local relation on the driver, no Spark job
    assert "LocalRelation" in zdf._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in zdf.collect()] == list(synth._zone_rows(200))


def test_pip_cells_matches_brute_force(spark, world, oracle_pairs):
    docs, zdf = world
    pts = geocode.geocode_coords(docs).where("lat is not null")
    out = pip.pip_join_cells(pts, zdf, res=7, point_cols=["url"])
    assert spark_pairs(out) == oracle_pairs


def test_pip_cells_salt_invariance(spark, world, oracle_pairs):
    docs, zdf = world
    pts = geocode.geocode_coords(docs).where("lat is not null")
    out = pip.pip_join_cells(pts, zdf, res=7, point_cols=["url"], salt=4)
    assert spark_pairs(out) == oracle_pairs


def test_text_byte_identity_through_pipeline(spark, world):
    """The invariant: text bytes are untouched by geocode+join stages."""
    docs, zdf = world
    before = {
        r["url"]: r["h"]
        for r in docs.selectExpr("url", "sha2(text, 256) as h").collect()
    }
    pts = geocode.geocode_coords(docs).where("lat is not null")
    out = pip.pip_join_broadcast(pts, zdf, point_cols=["url", "text"])
    after = {
        r["url"]: r["h"]
        for r in out.selectExpr("url", "sha2(text, 256) as h").distinct().collect()
    }
    for url, h in after.items():
        assert before[url] == h


def test_zone_index_res_pick_and_query():
    zpdf = synth.zones_pdf()
    idx = pip.ZoneIndex(
        [(r["zone_id"], r["geometry"]) for _, r in zpdf.iterrows()]
    )
    assert 3 <= idx.res <= 16
    # a point in the middle of the Seattle cluster must hit ≥1 zone
    pi, zi = idx.query(np.array([-122.3331]), np.array([47.6097]))
    assert len(pi) >= 1


def test_hole_semantics(spark):
    """Point inside the hole of zone 208 must NOT match it."""
    zpdf = synth.zones_pdf()
    hole_zone = zpdf.iloc[-1]
    g = wkb.loads(bytes(hole_zone["geometry"]))
    rings = g["coordinates"]
    inside_hole = kernels.points_covered_by(
        np.array([139.7]), np.array([35.65]), rings
    )
    assert not inside_hole[0]
    in_shell = kernels.points_covered_by(np.array([139.2]), np.array([35.2]), rings)
    assert in_shell[0]


def test_geocode_gazetteer_broadcast(spark):
    from spapy_spark.operators import geocode

    docs = spark.createDataFrame(
        [(0, "visited Seattle yesterday"), (1, "flying to tokyo then home"),
         (2, "no places here")],
        "doc_id long, text string",
    )
    gaz = spark.createDataFrame(
        [("seattle", 47.6062, -122.3321), ("tokyo", 35.6762, 139.6503)],
        "place string, lat double, lon double",
    )
    out = geocode.geocode_gazetteer(docs, gaz).collect()
    got = {r["doc_id"]: (r["gaz_lat"], r["gaz_lon"]) for r in out}
    assert got[0] == (47.6062, -122.3321)
    assert got[1] == (35.6762, 139.6503)
    assert 2 not in got
    # the join is a broadcast hash join (no shuffle of the doc side)
    plan = geocode.geocode_gazetteer(docs, gaz)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_auto_salt_detects_skew(spark):
    import numpy as np
    from spapy_spark.operators.pip import auto_salt
    from spapy_spark.sources.synth import u01

    ids = np.arange(20000)
    # heavily skewed: 70% of points in one tiny hot spot
    hot = u01(ids, 11) < 0.7
    lat = np.where(hot, 47.6 + u01(ids, 12) * 0.01,
                   -60 + u01(ids, 13) * 120.0)
    lon = np.where(hot, -122.3 + u01(ids, 14) * 0.01,
                   -180 + u01(ids, 15) * 360.0)
    skewed = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in ids],
        "point_id long, lat double, lon double",
    )
    s = auto_salt(skewed, res=6, sample_frac=0.5)
    assert s > 1  # hot cell detected
    # uniform points → no salting
    uni = spark.createDataFrame(
        [(int(i), float(-60 + u01(ids, 16)[i] * 120),
          float(-180 + u01(ids, 17)[i] * 360)) for i in ids[:5000]],
        "point_id long, lat double, lon double",
    )
    assert auto_salt(uni, res=3, sample_frac=0.5) <= 2
