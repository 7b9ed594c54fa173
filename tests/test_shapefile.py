"""Shapefile reader vs the reference's own test data (NaturalEarth +
Box.shp — the exact files SpaPy's tests load, /root/reference/
SpaPyTests/Tests/SpaVectorTest.py:34,215), vs byte-packed fixtures,
and writer roundtrips."""

import struct

import numpy as np
import pandas as pd
import pytest

from spapy_spark.geometry import kernels, wkb
from spapy_spark.sources import io as sio
from spapy_spark.sources import shapefile

NE = "/root/reference/SpaPyTests/Data/NaturalEarth"
BOX = "/root/reference/SpaPyTests/Data/Overlay/Box.shp"


def test_box_shp():
    pdf = shapefile.read_pdf(BOX)
    assert len(pdf) == 1
    g = wkb.loads(pdf["geometry"].iloc[0])
    assert g["type"] in ("Polygon", "MultiPolygon")
    # Box.shp is the overlay window SpaPy's vector test intersects with
    minx, miny, maxx, maxy = kernels.geom_bounds(g)
    assert minx < maxx and miny < maxy


def test_countries_layer():
    pdf = shapefile.read_pdf(f"{NE}/ne_110m_admin_0_countries.shp")
    # NaturalEarth 110m admin0 has 177 countries
    assert len(pdf) == 177
    assert "ADMIN" in pdf.columns or "NAME" in pdf.columns
    name_col = "ADMIN" if "ADMIN" in pdf.columns else "NAME"
    usa = pdf[pdf[name_col] == "United States of America"]
    assert len(usa) == 1  # the SelectEqual target of SpaVectorTest:178
    g = wkb.loads(usa["geometry"].iloc[0])
    assert g["type"] == "MultiPolygon"  # Alaska, Hawaii, mainland…
    assert len(g["coordinates"]) > 3
    # bounds are geographic
    minx, miny, maxx, maxy = kernels.geom_bounds(g)
    assert -180 <= minx < maxx <= 180 and -90 <= miny < maxy <= 90


def test_rivers_polylines():
    pdf = shapefile.read_pdf(f"{NE}/ne_110m_rivers_lake_centerlines.shp")
    assert len(pdf) > 5
    types = {wkb.loads(b)["type"] for b in pdf["geometry"] if b is not None}
    assert types <= {"LineString", "MultiLineString"}


def test_populated_places_points():
    pdf = shapefile.read_pdf(f"{NE}/ne_110m_populated_places_simple.shp")
    assert len(pdf) > 100
    g = wkb.loads(pdf["geometry"].iloc[0])
    assert g["type"] == "Point"
    # attribute typing: pop_max is numeric in the dbf
    num_cols = [c for c in pdf.columns
                if pdf[c].dtype.kind in "if" and c != "geometry"]
    assert len(num_cols) > 2


def test_spark_roundtrip_and_dispatch(spark):
    df = sio.read_any(spark, f"{NE}/ne_110m_admin_0_countries.shp")
    assert df.count() == 177
    from spapy_spark.operators import vector

    areas = vector.with_area(df.select("geometry")).agg(
        {"area": "sum"}
    ).collect()[0][0]
    assert areas > 1000  # degrees² of all land
    with pytest.raises(ValueError):
        sio.read_any(spark, "/tmp/x.xyz")


def test_writer_roundtrip_polygons(tmp_path):
    """write_pdf → read_pdf roundtrip on the synthetic zone layer
    (convex polygons, giant boxes, multipolygons, one holed polygon):
    geometry areas/bounds and attributes survive."""
    from spapy_spark.geometry import kernels, wkb
    from spapy_spark.sources import shapefile, synth

    pdf = synth.zones_pdf(50)
    p = str(tmp_path / "zones.shp")
    shapefile.write_pdf(pdf, p)
    back = shapefile.read_pdf(p)
    assert len(back) == len(pdf)
    assert list(back["zone_id"]) == list(pdf["zone_id"])
    assert list(back["name"]) == list(pdf["name"])
    for a, b in zip(pdf["pop_est"], back["pop_est"]):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(a))
    for ga, gb in zip(pdf["geometry"], back["geometry"]):
        A = wkb.loads(bytes(ga))
        B = wkb.loads(bytes(gb))
        assert kernels.geom_area(B) == pytest.approx(
            kernels.geom_area(A), rel=1e-12
        )
        assert kernels.geom_bounds(B) == pytest.approx(
            kernels.geom_bounds(A), rel=1e-12
        )


def test_writer_roundtrip_points_and_nulls(tmp_path):
    from spapy_spark.geometry import wkb
    from spapy_spark.sources import shapefile
    import pandas as pd

    pdf = pd.DataFrame({
        "fid": [1, 2, 3],
        "tag": ["a", "b", None],
        "geometry": [
            wkb.dumps(wkb.point(1.5, -2.25)),
            None,
            wkb.dumps(wkb.point(-100.0, 45.0)),
        ],
    })
    p = str(tmp_path / "pts.shp")
    shapefile.write_pdf(pdf, p)
    back = shapefile.read_pdf(p)
    assert back["geometry"][1] is None
    g = wkb.loads(bytes(back["geometry"][0]))
    assert g["type"] == "Point" and tuple(g["coordinates"]) == (1.5, -2.25)
    assert list(back["fid"]) == [1, 2, 3]


def test_dbf_vectorized_writer_nulls_and_types(tmp_path):
    """The struct-packed .dbf writer (no per-row Python) must encode
    ints/floats/bools/strings with nulls exactly like the dBASE spec:
    right-justified numerics, 'T'/'F' logicals, space-padded text,
    all-space nulls."""
    import pandas as pd

    from spapy_spark.geometry import wkb as _wkb
    from spapy_spark.sources import shapefile as shp

    pdf = pd.DataFrame({
        "n_int": pd.array([1, -42, None, 10**17], dtype="Int64"),
        "n_flt": [1.5, None, -3.25, 2.0],
        "flag": [True, False, True, False],
        "name": ["abc", None, "é" * 300, ""],  # >254 → truncated
        "geometry": [_wkb.dumps(_wkb.box(i, 0, i + 1, 1))
                     for i in range(4)],
    })
    p = str(tmp_path / "t.shp")
    shp.write_pdf(pdf, p)
    back = shp.read_pdf(p)
    assert back["n_int"][0] == 1 and back["n_int"][1] == -42
    assert pd.isna(back["n_int"][2])
    assert back["n_int"][3] == 10**17
    assert back["n_flt"][0] == 1.5 and back["n_flt"][2] == -3.25
    assert pd.isna(back["n_flt"][1])
    assert list(back["flag"]) == [True, False, True, False]
    assert back["name"][0] == "abc"
    assert back["name"][2] == "é" * 254  # dBASE C width cap
    # raw record block: deletion flag + right-justified int field
    raw = open(str(tmp_path / "t.dbf"), "rb").read()
    hsize = int.from_bytes(raw[8:10], "little")
    rsize = int.from_bytes(raw[10:12], "little")
    rec0 = raw[hsize:hsize + rsize]
    assert rec0[0:1] == b" "
    assert rec0[1:19] == b"                 1"  # %18d


# ---------------------------------------------------------------------------
# Hermetic fixtures: .shp/.shx/.dbf bytes packed field by field from the
# ESRI shapefile and dBASE III layouts, independent of the reference data
# above and of our own writer.
# ---------------------------------------------------------------------------


def _shp_content(stype, geom):
    """One record's little-endian content: a point is an (x, y) pair,
    a polyline/polygon is a list of parts (lists of (x, y))."""
    if geom is None:
        return struct.pack("<i", 0)
    if stype == 1:
        return struct.pack("<idd", 1, *geom)
    pts = [p for part in geom for p in part]
    starts = np.cumsum([0] + [len(part) for part in geom[:-1]])
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    return (
        struct.pack("<i4d2i", stype, min(xs), min(ys), max(xs), max(ys),
                    len(geom), len(pts))
        + struct.pack(f"<{len(geom)}i", *starts)
        + struct.pack(f"<{2 * len(pts)}d", *[c for p in pts for c in p])
    )


def _shp_header(stype, file_bytes):
    # big-endian file code + length in 16-bit words, little-endian rest
    return (
        struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_bytes // 2)
        + struct.pack("<2i4d4d", 1000, stype, -180, -90, 180, 90, 0, 0, 0, 0)
    )


def _write_shp(base, stype, geoms):
    recs, index, off = [], [], 100
    for i, g in enumerate(geoms, 1):
        c = _shp_content(stype, g)
        recs.append(struct.pack(">2i", i, len(c) // 2) + c)
        index.append(struct.pack(">2i", off // 2, len(c) // 2))
        off += 8 + len(c)
    with open(base + ".shp", "wb") as f:
        f.write(_shp_header(stype, off) + b"".join(recs))
    with open(base + ".shx", "wb") as f:
        f.write(_shp_header(stype, 100 + 8 * len(geoms)) + b"".join(index))


def _write_dbf(base, fields, records):
    """fields: (name, type, length, decimals); records: raw field bytes
    per row, each already padded to its field length."""
    hsize = 32 + 32 * len(fields) + 1
    rsize = 1 + sum(f[2] for f in fields)
    out = struct.pack("<4BIHH20x", 3, 124, 1, 31, len(records), hsize, rsize)
    for name, ftype, flen, fdec in fields:
        out += struct.pack("<11sc4xBB14x", name.encode(), ftype.encode(),
                           flen, fdec)
    out += b"\r"
    for rec in records:
        assert [len(v) for v in rec] == [f[2] for f in fields]
        out += b" " + b"".join(rec)
    with open(base + ".dbf", "wb") as f:
        f.write(out + b"\x1a")


def _sq(x0, y0, x1, y1, cw=True):
    ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    return ring if cw else ring[::-1]


def test_packed_polygons_multipart_with_hole(tmp_path):
    base = str(tmp_path / "poly")
    outer_a = _sq(0, 0, 10, 10)  # CW: exterior
    outer_b = _sq(20, 0, 25, 5)  # CW: exterior
    hole = _sq(2, 2, 4, 4, cw=False)  # CCW: hole inside outer_a
    # the hole comes after both exteriors: it must be placed by
    # containment, not appended to the last exterior
    _write_shp(base, 5, [[outer_a, outer_b, hole], None, [outer_a, hole]])
    pdf = shapefile.read_pdf(base + ".shp")
    assert list(pdf.columns) == ["geometry"] and len(pdf) == 3
    g0 = wkb.loads(pdf["geometry"][0])
    assert g0["type"] == "MultiPolygon"
    (a_ext, a_hole), (b_ext,) = g0["coordinates"]
    np.testing.assert_array_equal(a_ext, outer_a)
    np.testing.assert_array_equal(a_hole, hole)
    np.testing.assert_array_equal(b_ext, outer_b)
    assert kernels.geom_area(g0) == 100 - 4 + 25
    assert pdf["geometry"][1] is None
    g2 = wkb.loads(pdf["geometry"][2])
    assert g2["type"] == "Polygon" and len(g2["coordinates"]) == 2
    assert kernels.geom_area(g2) == 96


def test_packed_polylines(tmp_path):
    base = str(tmp_path / "lines")
    one = [(0.5, 1.0), (2.0, 3.5), (4.0, -1.25)]
    two = [[(-10.0, 0.0), (-9.0, 1.0)], [(5.0, 5.0), (6.0, 5.0), (6.0, 7.0)]]
    _write_shp(base, 3, [[one], two])
    pdf = shapefile.read_pdf(base + ".shp")
    g0, g1 = (wkb.loads(b) for b in pdf["geometry"])
    assert g0["type"] == "LineString"
    np.testing.assert_array_equal(g0["coordinates"], one)
    assert g1["type"] == "MultiLineString"
    assert len(g1["coordinates"]) == 2
    for got, want in zip(g1["coordinates"], two):
        np.testing.assert_array_equal(got, want)


def test_packed_points_and_typed_dbf(tmp_path, spark):
    base = str(tmp_path / "pts")
    _write_shp(base, 1, [(1.5, -2.25), None, (-100.0, 45.0)])
    fields = [
        ("NAME", "C", 8, 0),
        ("POP", "N", 6, 0),
        ("RATIO", "N", 8, 2),
        ("SCORE", "F", 10, 3),
        ("OK", "L", 1, 0),
        ("SEEN", "D", 8, 0),
    ]
    _write_dbf(base, fields, [
        [b"Caf\xe9    ", b"  1234", b"   -0.50", b"     1.125", b"T",
         b"20240131"],
        [b"        ", b"      ", b"********", b"          ", b"f",
         b"        "],
        [b"x y     ", b"-00042", b"   12.00", b"   -3.5e+2", b"y",
         b"19991231"],
    ])
    pdf = shapefile.read_pdf(base + ".shp")
    assert list(pdf.columns) == [f[0] for f in fields] + ["geometry"]
    # C: cp1252, trailing pad stripped
    assert list(pdf["NAME"]) == ["Café", "", "x y"]
    # N without decimals → int; blank → null
    assert pdf["POP"][0] == 1234 and pdf["POP"][2] == -42
    assert pd.isna(pdf["POP"][1])
    # N with decimals and F → float; all-'*' overflow → null
    assert pdf["RATIO"][0] == -0.5 and pdf["RATIO"][2] == 12.0
    assert pd.isna(pdf["RATIO"][1])
    assert pdf["SCORE"][0] == 1.125 and pdf["SCORE"][2] == -350.0
    assert pd.isna(pdf["SCORE"][1])
    # L: T/t/Y/y → True, anything else → False
    assert list(pdf["OK"]) == [True, False, True]
    # D: kept as its YYYYMMDD text
    assert list(pdf["SEEN"]) == ["20240131", "", "19991231"]
    g = wkb.loads(pdf["geometry"][0])
    assert g["type"] == "Point" and tuple(g["coordinates"]) == (1.5, -2.25)
    assert pdf["geometry"][1] is None
    assert tuple(wkb.loads(pdf["geometry"][2])["coordinates"]) == (-100.0, 45.0)

    df = shapefile.read_spark(spark, base + ".shp")
    types = dict(df.dtypes)
    assert types["NAME"] == "string" and types["SEEN"] == "string"
    assert types["OK"] == "boolean" and types["geometry"] == "binary"
    assert types["RATIO"] == types["SCORE"] == "double"
    rows = df.collect()
    assert [r["NAME"] for r in rows] == ["Café", "", "x y"]
    assert [r["POP"] for r in rows] == [1234, None, -42]
    assert [r["RATIO"] for r in rows] == [-0.5, None, 12.0]
    assert rows[1]["geometry"] is None
    assert bytes(rows[2]["geometry"]) == pdf["geometry"][2]
