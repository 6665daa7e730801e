"""Esri Shapefile source (sources/shapefile.py)."""

from __future__ import annotations

import os
import struct

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.sources import (
    shapefile as SH,
)

_FIELDS = [
    ("KEY", "N", 10, 0),
    ("NAME", "C", 20, 0),
    ("SCORE", "N", 12, 3),
    ("FLAG", "L", 1, 0),
]


def _write(tmp_path, name, rows, fields=None):
    p = os.path.join(str(tmp_path), name)
    SH.write_shapefile(rows, fields if fields is not None else _FIELDS, p)
    return p


def test_polygon_roundtrip_with_winding(tmp_path):
    rows = [
        # OGC input: CCW shell + CW hole — must echo through the ESRI
        # file winding (CW shells / CCW holes) both ways
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
         "(1 1, 1 2, 2 2, 2 1, 1 1))", 1, "A", 1.25, True),
        ("POLYGON ((10 0, 12 0, 12 2, 10 2, 10 0))", 2, "B", -3.5, False),
        ("MULTIPOLYGON (((0 10, 1 10, 1 11, 0 11, 0 10)), "
         "((5 10, 6 10, 6 11, 5 11, 5 10)))", 3, None, None, None),
    ]
    p = _write(tmp_path, "poly.shp", rows)
    recs = SH.shp_records(open(p, "rb").read())
    assert [w for _, w in recs] == [r[0] for r in rows]
    assert [g for g, _ in recs] == [1, 2, 3]
    _, attrs = SH.dbf_records(
        open(os.path.join(str(tmp_path), "poly.dbf"), "rb").read()
    )
    assert attrs[0] == {"KEY": 1, "NAME": "A", "SCORE": 1.25, "FLAG": True}
    assert attrs[2] == {"KEY": 3, "NAME": None, "SCORE": None, "FLAG": None}


def test_point_line_null_roundtrip(tmp_path):
    p = _write(
        tmp_path,
        "pts.shp",
        [("POINT (3 4)", 1, "x", 0.0, True), ("POINT (-1 -2)", 2, "y", 0.0, False)],
    )
    assert [w for _, w in SH.shp_records(open(p, "rb").read())] == [
        "POINT (3 4)",
        "POINT (-1 -2)",
    ]
    p = _write(
        tmp_path,
        "lines.shp",
        [
            ("LINESTRING (0 0, 5 0, 5 5)", 1, "x", 0.0, True),
            ("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))", 2, "y", 0.0, False),
            (None, 3, "z", 0.0, None),  # Null shape
        ],
    )
    assert [w for _, w in SH.shp_records(open(p, "rb").read())] == [
        "LINESTRING (0 0, 5 0, 5 5)",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        None,
    ]
    p = _write(
        tmp_path, "mpt.shp", [("MULTIPOINT (1 2, 3 4)", 1, "m", 0.0, True)]
    )
    assert SH.shp_records(open(p, "rb").read())[0][1] == "MULTIPOINT (1 2, 3 4)"


def test_z_and_m_shapes_decode():
    # hand-build a PointZ record (type 11) with Z + M present
    body = struct.pack("<i4d", 11, 1.0, 2.0, 3.0, 4.0)
    content = (
        struct.pack(">i", 9994)
        + b"\x00" * 20
        + struct.pack(">i", (100 + 8 + len(body)) // 2)
        + struct.pack("<2i", 1000, 11)
        + struct.pack("<8d", 1, 2, 1, 2, 0, 0, 0, 0)
        + struct.pack(">2i", 1, len(body) // 2)
        + body
    )
    assert SH.shp_records(content)[0][1] == "POINT ZM (1 2 3 4)"
    # PointZ with the no-data M sentinel → plain Z
    body = struct.pack("<i4d", 11, 1.0, 2.0, 3.0, -1e40)
    content = content[:100] + struct.pack(">2i", 1, len(body) // 2) + body
    content = (
        content[:24]
        + struct.pack(">i", len(content) // 2)
        + content[28:]
    )
    assert SH.shp_records(content)[0][1] == "POINT Z (1 2 3)"
    # PointM (type 21)
    body = struct.pack("<i3d", 21, 1.0, 2.0, 9.0)
    content = (
        struct.pack(">i", 9994)
        + b"\x00" * 20
        + struct.pack(">i", (100 + 8 + len(body)) // 2)
        + struct.pack("<2i", 1000, 21)
        + struct.pack("<8d", 1, 2, 1, 2, 0, 0, 0, 0)
        + struct.pack(">2i", 1, len(body) // 2)
        + body
    )
    assert SH.shp_records(content)[0][1] == "POINT M (1 2 9)"


def test_strict_rejections(tmp_path):
    with pytest.raises(ValueError):
        SH.shp_records(b"\x00" * 50)  # too short
    good = _write(tmp_path, "g.shp", [("POINT (1 2)", 1, "a", 0.0, True)])
    raw = open(good, "rb").read()
    with pytest.raises(ValueError):
        SH.shp_records(b"\x12\x34\x56\x78" + raw[4:])  # bad file code
    with pytest.raises(ValueError):
        SH.shp_records(raw[:-4])  # truncated (length disagrees)
    with pytest.raises(ValueError):  # mixed shape types in one layer
        SH.write_shapefile(
            [("POINT (1 2)", 1), ("LINESTRING (0 0, 1 1)", 2)],
            [("K", "N", 5, 0)],
            os.path.join(str(tmp_path), "mixed.shp"),
        )


def test_deleted_dbf_row_is_positional_placeholder(tmp_path):
    # ADVICE r15 (medium): a deleted .dbf row must NOT shift later
    # attributes onto the wrong geometries — it stays as an all-None
    # placeholder at its position.
    p = _write(
        tmp_path,
        "del.shp",
        [
            ("POINT (1 2)", 7, "a", 0.5, True),
            ("POINT (3 4)", 8, "b", 1.5, False),
            ("POINT (5 6)", 9, "c", 2.5, True),
        ],
    )
    dbf = os.path.splitext(p)[0] + ".dbf"
    raw = bytearray(open(dbf, "rb").read())
    hdr_size, rec_size = struct.unpack_from("<2H", raw, 8)
    raw[hdr_size + rec_size] = 0x2A  # delete the MIDDLE record
    open(dbf, "wb").write(bytes(raw))
    _, attrs = SH.dbf_records(bytes(raw))
    assert len(attrs) == 3
    assert attrs[1] == {"KEY": None, "NAME": None, "SCORE": None, "FLAG": None}
    assert attrs[0]["KEY"] == 7 and attrs[2]["KEY"] == 9  # no shift
    assert attrs[2]["NAME"] == "c"


def test_uppercase_extensions_pair(spark, tmp_path):
    # ADVICE r15 (low): X.SHP must still find its .dbf sibling and
    # group into one layer stem.
    p = _write(tmp_path, "up.shp", [("POINT (1 2)", 7, "a", 0.5, True)])
    dbf = os.path.splitext(p)[0] + ".dbf"
    os.rename(p, os.path.join(str(tmp_path), "up.SHP"))
    os.rename(dbf, os.path.join(str(tmp_path), "up.DBF"))
    df = SH.read_shapefile(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["geometry"] == "POINT (1 2)" and rows[0]["KEY"] == 7


def test_dbf_fields_requires_terminator(tmp_path):
    # ADVICE r15 (low): a field area running to end-of-buffer without
    # the 0x0D terminator is a loud decode error, not a truncated list.
    p = _write(tmp_path, "t.shp", [("POINT (1 2)", 7, "a", 0.5, True)])
    raw = open(os.path.splitext(p)[0] + ".dbf", "rb").read()
    term = 32 + 32 * len(_FIELDS)
    assert raw[term] == 0x0D
    with pytest.raises(ValueError, match="terminator"):
        SH.dbf_fields(raw[:term])  # cut exactly before the 0x0D


def test_driver_sniff_sized_from_header(tmp_path):
    # the schema sniff must honor hdr_size even when the field area is
    # longer than any fixed guess — build a .dbf with 300 fields
    fields = [(f"F{i:03d}", "C", 1, 0) for i in range(300)]
    p = _write(tmp_path, "many.shp", [("POINT (1 2)", *["x"] * 300)], fields)
    head = SH._dbf_header_bytes(os.path.splitext(p)[0] + ".dbf")
    got = SH.dbf_fields(head)
    assert len(got) == 300 and got[-1][0] == "F299"


def test_spark_read_distributed(spark, tmp_path):
    # two layer files, same layout → one DataFrame, gid per file
    _write(tmp_path, "a.shp", [("POINT (1 2)", 1, "a", 0.25, True)])
    _write(tmp_path, "b.shp", [("POINT (3 4)", 2, "b", 0.5, False)])
    df = SH.read_shapefile(spark, str(tmp_path))
    rows = {r["NAME"]: r for r in df.collect()}
    assert rows["a"]["geometry"] == "POINT (1 2)"
    assert rows["b"]["geometry"] == "POINT (3 4)"
    assert rows["a"]["KEY"] == 1 and rows["b"]["SCORE"] == 0.5
    assert rows["a"]["gid"] == 1 and rows["b"]["gid"] == 1
    assert rows["a"]["FLAG"] is True and rows["b"]["FLAG"] is False


def test_spark_read_layout_mismatch_is_loud(spark, tmp_path):
    _write(tmp_path, "a.shp", [("POINT (1 2)", 1, "a", 0.25, True)])
    _write(
        tmp_path,
        "c.shp",
        [("POINT (9 9)", 5)],
        fields=[("OTHER", "N", 5, 0)],
    )
    with pytest.raises(ValueError, match="disagree"):
        SH.read_shapefile(spark, str(tmp_path))


def test_polygon_m_record_reads_as_polygon_m():
    # the M writer used to spell every polygon MULTILINESTRING M
    ring = [(0.0, 0.0, 1.0), (1.0, 0.0, 1.0), (1.0, 1.0, 2.0), (0.0, 0.0, 1.0)]
    assert SH._emit("Polygon", False, True, [ring]) == "POLYGON M ((0 0 1, 1 0 1, 1 1 2, 0 0 1))"
    assert SH._emit("MultiPolygon", False, True, [[ring]]) == (
        "MULTIPOLYGON M (((0 0 1, 1 0 1, 1 1 2, 0 0 1)))"
    )
