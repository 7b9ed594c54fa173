"""geocode_coords semantics, row for row against a Python ``re`` parse."""

import re

from pyspark.sql import functions as F

from spapy_spark.operators import geocode

# Java's \d is ASCII-only; re.ASCII gives Python the same classes
_RE = re.compile(geocode.COORD_RE, re.ASCII)

TEXTS = [
    "Seattle 47.6097°N 122.3331°W downtown",  # N/W
    "Sydney 33.8688°S 151.2093°E",  # S/E
    "Santiago 33.4489°S 70.6693°W",  # S/W
    "Oslo 59.9139°N 10.7522°E",  # N/E
    "first 1.0000°N 2.0000°E then 3.0000°S 4.0000°W",  # first wins
    "no mention here",
    "",
    None,
    "three decimals 47.609°N 122.333°W",
    "five decimals 47.60970°N 122.33310°W",
    "missing lon 47.6097°N",
    "ascii only ٤٧.٦٠٩٧°N ١٢٢.٣٣٣١°W",
    "glued x123.4567°N 0.0000°Eabc",
    "zero 0.0000°S 0.0000°W",
]


def _ref(text):
    m = None if text is None else _RE.search(text)
    if m is None:
        return None, None
    lat = float(m.group(1)) * (-1.0 if m.group(2) == "S" else 1.0)
    lon = float(m.group(3)) * (-1.0 if m.group(4) == "W" else 1.0)
    return lat, lon


def _docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)),
                                 "id long, text string")


def test_matches_python_re_row_for_row(spark):
    df = _docs(spark)
    got = {r["id"]: (r["lat"], r["lon"]) for r in
           geocode.geocode_coords(df).collect()}
    for i, t in enumerate(TEXTS):
        # repr, not ==: -0.0 must stay signed, as float("0.0000") * -1.0
        # does in Python
        assert repr(got[i]) == repr(_ref(t)), t


def test_filter_keeps_exactly_the_hits(spark):
    df = _docs(spark)
    got = sorted(r["id"] for r in geocode.geocode_coords(df).where(
        F.col("lat").isNotNull()).collect())
    assert got == [i for i, t in enumerate(TEXTS) if _ref(t)[0] is not None]


def test_text_col_and_untouched_columns(spark):
    df = spark.createDataFrame(
        [(i, t, "no coords") for i, t in enumerate(TEXTS)],
        "id long, body string, text string",
    )
    out = geocode.geocode_coords(df, text_col="body")
    assert out.columns == ["id", "body", "text", "lat", "lon"]
    rows = {r["id"]: r for r in out.collect()}
    for i, t in enumerate(TEXTS):
        assert rows[i]["body"] == t and rows[i]["text"] == "no coords"
        assert (rows[i]["lat"], rows[i]["lon"]) == _ref(t)


def test_existing_lat_lon_replaced_in_place(spark):
    """withColumn semantics: same-named input columns are replaced at
    their position with doubles; a missing one is appended."""
    both = spark.createDataFrame(
        [(i, "x", t, "y") for i, t in enumerate(TEXTS)],
        "id long, lon string, text string, lat string",
    )
    out = geocode.geocode_coords(both)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("id", "bigint"), ("lon", "double"), ("text", "string"),
        ("lat", "double"),
    ]
    assert {r["id"]: (r["lat"], r["lon"]) for r in out.collect()} == {
        i: _ref(t) for i, t in enumerate(TEXTS)
    }

    only_lon = spark.createDataFrame(
        [(1, 9.0, TEXTS[0])], "id long, lon double, text string"
    )
    out = geocode.geocode_coords(only_lon)
    assert out.columns == ["id", "lon", "text", "lat"]
    assert [tuple(r) for r in out.collect()] == [
        (1, -122.3331, TEXTS[0], 47.6097)
    ]
