"""Geocoding documents from extracted text (north-rule stage 1).

Coordinate mentions like ``47.6097°N 122.3331°W`` are recovered with
Spark's built-in ``regexp_extract`` — the whole stage is JVM-side
Catalyst/codegen, zero Python (faster than any pandas UDF and keeps the
``text`` column untouched: byte-identity invariant).

An optional gazetteer path broadcast-joins place names to coordinates —
the classic small-dim broadcast join (SURVEY.md §2.10).

The reference has no geocoder; this stage is mandated by
BASELINE.json's north_star ("geocoding documents from extracted text").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 12.3456°N 71.0000°W — the canonical mention format (sources/synth.py)
COORD_RE = r"(\d+\.\d{4})°([NS]) (\d+\.\d{4})°([EW])"
# hidden columns of geocode_coords, dropped before it returns
_PARTS, _LAT, _LON = "__geocode_parts", "__geocode_lat", "__geocode_lon"


def geocode_coords(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``lat``/``lon`` doubles parsed from the first coordinate mention.

    Rows without a mention, or with a NULL text, get NULL lat/lon
    (callers filter or keep). ``lat``/``lon`` replace same-named input
    columns in place, otherwise they are appended (``withColumn``
    semantics).

    Physical shape: the regex runs once per row. One Project evaluates
    ``split(regexp_extract(text, COORD_RE, 0), '[° ]')`` into a hidden
    column; lat/lon are built from its four parts by a
    ``Generate inline(array(struct(lat, lon)))`` above it. A caller's
    filter on ``lat``/``lon`` reads the Generate's output attributes,
    so Catalyst cannot push it (and a copy of the regex) below the
    Project into the Filter and the scan's DataFilters. Filters on
    input columns (e.g. ``lang = 'en'``) still pass the Generate and
    reach the parquet scan as PushedFilters.
    """
    # "<lat>°<NS> <lon>°<EW>" -> [lat, NS, lon, EW]; no mention -> [""]
    parts = F.split(F.regexp_extract(F.col(text_col), COORD_RE, 0), "[° ]")
    g = F.col(_PARTS)

    def signed(i: int, neg: str):
        sign = F.when(g[i + 1] == neg, -1.0).otherwise(1.0)
        return F.when(F.size(g) == 4, g[i].cast("double") * sign)

    pair = F.inline(F.array(F.struct(
        signed(0, "S").alias(_LAT), signed(2, "W").alias(_LON)
    )))
    out = df.withColumn(_PARTS, parts).select("*", pair).drop(_PARTS)
    out = out.withColumns({"lat": F.col(_LAT), "lon": F.col(_LON)})
    return out.drop(_LAT, _LON)


def geocode_gazetteer(
    df: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    name_col: str = "place",
) -> DataFrame:
    """Broadcast-join place-name mentions to gazetteer coordinates.

    ``gazetteer`` is small (place, lat, lon); the join is a broadcast
    hash join — no shuffle of the (huge) document side.
    """
    toks = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok")
    cand = df.select("*", toks)
    g = F.broadcast(
        gazetteer.select(
            F.lower(F.col(name_col)).alias("__tok"),
            F.col("lat").alias("gaz_lat"),
            F.col("lon").alias("gaz_lon"),
        )
    )
    return cand.join(g, "__tok", "inner").drop("__tok")
