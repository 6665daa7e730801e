"""Driver row for the WKB codec (functions/wkb.py).

r15 adds the EWKB families: ``st_asewkb(g, srid)`` embeds the SRID
behind the 0x20000000 flag (header hex pinned byte for byte, length
+4 for the int32), ``st_geomfromewkb`` round-trips it, and
``st_sridfromewkb`` extracts it — while the PLAIN reader's rejection
of the flag stays pinned (``wkb_srid_rejected``). The Z-EWKB family
pins the dim-flag combination 0xA0000001.

Oracle design: WKB is deterministic little-endian bytes, so the SQL
oracle pins (a) exact encoded length — 21 bytes for a point
(1 + 4 + 2·8), 93 for a 5-vertex one-ring polygon (1 + 4 + 4 + 4 +
5·16) — (b) the 5-byte header hex ('01' NDR + uint32 type code), and
(c) the decode side via the WKT round-trip string, which proves the
coordinate doubles survive bit-exactly (IEEE754 encode/decode is
lossless, so any codec error surfaces as a WKT diff). DuckDB cannot
bit-cast a double to bytes portably, so the payload hex itself is
pinned by tests/test_wkb.py's struct ground truth instead.

Scale: both directions are map-only Arrow-vectorized UDFs; the two
fixture families union after per-family projection (no shuffle at all
— union is a plan concatenation).

Separate module so spatial_ops.py's verified fingerprints stay
untouched (same rationale as relations_ops.py / overlay_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .spatial_ops import (
    CUSTOMER_POINTS_SQL,
    NATION_BOXES_SQL,
    _fmt_sql,
    customer_points,
    nation_boxes,
)


_Q140_ORACLE = f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL}), boxes AS ({NATION_BOXES_SQL})
    SELECT 'pt' AS fam, c_custkey AS key,
           CAST(21 AS BIGINT) AS wkb_len,
           '0101000000' AS head_hex,
           'POINT (' || {_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")} || ')' AS rt_wkt,
           CAST(0 AS INT) AS srid
    FROM pts
    UNION ALL
    SELECT 'box' AS fam, n_nationkey AS key,
           CAST(93 AS BIGINT) AS wkb_len,
           '0103000000' AS head_hex,
           'POLYGON ((' || {_fmt_sql("minx")} || ' ' || {_fmt_sql("miny")} || ', '
                        || {_fmt_sql("maxx")} || ' ' || {_fmt_sql("miny")} || ', '
                        || {_fmt_sql("maxx")} || ' ' || {_fmt_sql("maxy")} || ', '
                        || {_fmt_sql("minx")} || ' ' || {_fmt_sql("maxy")} || ', '
                        || {_fmt_sql("minx")} || ' ' || {_fmt_sql("miny")} || '))'
             AS rt_wkt,
           CAST(0 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'ewkb_pt' AS fam, n_nationkey AS key,
           CAST(25 AS BIGINT) AS wkb_len,
           '0101000020' AS head_hex,
           'POINT (' || {_fmt_sql("minx")} || ' ' || {_fmt_sql("miny")} || ')' AS rt_wkt,
           CAST(4000 + n_nationkey % 100 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'ewkb_z' AS fam, n_nationkey AS key,
           CAST(33 AS BIGINT) AS wkb_len,
           '01010000a0' AS head_hex,
           'POINT Z (' || {_fmt_sql("minx")} || ' ' || {_fmt_sql("miny")}
                       || ' ' || CAST(n_nationkey AS STRING) || ')' AS rt_wkt,
           CAST(4326 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'wkb_srid_rejected' AS fam, n_nationkey AS key,
           CAST(25 AS BIGINT) AS wkb_len,
           '0101000020' AS head_hex,
           'NULL(srid-flag)' AS rt_wkt,
           CAST(4326 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'curved' AS fam, n_nationkey AS key,
           CAST(57 AS BIGINT) AS wkb_len,
           '0108000000' AS head_hex,
           'MATCH' AS rt_wkt,
           CAST(0 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'curved_cp' AS fam, n_nationkey AS key,
           CAST(98 AS BIGINT) AS wkb_len,
           '010a000000' AS head_hex,
           'MATCH' AS rt_wkt,
           CAST(0 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'curved_enc' AS fam, n_nationkey AS key,
           CAST(57 AS BIGINT) AS wkb_len,
           '0108000000' AS head_hex,
           'MATCH' AS rt_wkt,
           CAST(0 AS INT) AS srid
    FROM boxes
    UNION ALL
    SELECT 'gcz_wkb' AS fam, n_nationkey AS key,
           CAST(38 AS BIGINT) AS wkb_len,
           '01ef030000' AS head_hex,
           'GEOMETRYCOLLECTION Z (POINT Z (' || {_fmt_sql("minx")} || ' '
             || {_fmt_sql("miny")} || ' ' || CAST(n_nationkey AS STRING)
             || '))' AS rt_wkt,
           CAST(0 AS INT) AS srid
    FROM boxes
"""


@query("q140_wkb_roundtrip", oracle=_Q140_ORACLE)
def q140_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/S-codec: ST_AsBinary → length/header checks → ST_GeomFromWKB
    round-trip, over both a point family (customers) and a polygon
    family (nation boxes)."""

    # r17 optimization: the per-branch unionByName fold re-analyzed a
    # growing plan per family; the same branches now build ONE SQL
    # UNION ALL string (single analysis — the _sql_fixtures.
    # sql_union_rows idea, generalized to this row's three fixture
    # views). Same branch order, same columns, same coercion.
    def fam(
        view: str,
        name: str,
        key: str,
        buf_sql: str,
        decode_sql: str = "st_geomfromwkb(wkb)",
    ) -> str:
        return (
            f"SELECT fam, key, CAST(length(wkb) AS BIGINT) AS wkb_len,"
            f" lower(hex(substring(wkb, 1, 5))) AS head_hex,"
            f" {decode_sql} AS rt_wkt,"
            f" CAST(st_sridfromewkb(wkb) AS INT) AS srid"
            f" FROM (SELECT '{name}' AS fam, {key} AS key,"
            f" {buf_sql} AS wkb FROM {view})"
        )

    pts = customer_points(spark, sf_dir).withColumn("geom", F.expr("st_point(lon, lat)"))
    boxes = nation_boxes(spark, sf_dir).withColumn(
        "geom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)")
    )
    pts.createOrReplaceTempView("_graft_q140_pts")
    boxes.createOrReplaceTempView("_graft_q140_boxes")
    rows = [
        fam("_graft_q140_pts", "pt", "c_custkey", "st_asbinary(geom)"),
        fam("_graft_q140_boxes", "box", "n_nationkey", "st_asbinary(geom)"),
    ]
    # EWKB (r15): SRID-flagged buffers round-trip through the ewkb
    # reader; the PLAIN reader's rejection of the flag stays pinned
    rows.append(
        fam(
            "_graft_q140_boxes",
            "ewkb_pt",
            "n_nationkey",
            "st_asewkb(st_point(minx, miny), 4000 + n_nationkey % 100)",
            "st_geomfromewkb(wkb)",
        )
    )
    rows.append(
        fam(
            "_graft_q140_boxes",
            "ewkb_z",
            "n_nationkey",
            "st_asewkb('POINT Z (' || CAST(CAST(minx AS BIGINT) AS STRING)"
            " || ' ' || CAST(CAST(miny AS BIGINT) AS STRING) || ' ' ||"
            " CAST(n_nationkey AS STRING) || ')', 4326)",
            "st_geomfromewkb(wkb)",
        )
    )
    rows.append(
        fam(
            "_graft_q140_boxes",
            "wkb_srid_rejected",
            "n_nationkey",
            "st_asewkb(st_point(minx, miny), 4326)",
            "COALESCE(st_geomfromwkb(wkb), 'NULL(srid-flag)')",
        )
    )
    # Curved WKB (r16, VERDICT r15 missing item 4): PostGIS-generated
    # type codes 8/10 decode and linearize on read; the self-judging
    # MATCH compares the decode against st_curvetoline(curved_wkt, 32)
    # — both sides run the same published arc kernel, so MATCH proves
    # the BUFFER decoded to exactly the curved structure that was
    # encoded (the 25-row collect is the fixture generator, the q182
    # stance; the decode itself is distributed).
    import struct as _struct

    from ..functions import geometry as _G

    brows = boxes.select("n_nationkey", "minx", "miny", "maxx", "maxy").collect()
    fix = []
    for rr in brows:
        x0, y0 = float(rr.minx), float(rr.miny)
        x1, y1 = float(rr.maxx), float(rr.maxy)
        mx = (x0 + x1) / 2.0
        cs_pts = [(x0, y0), (mx, y1), (x1, y0)]
        cs_buf = _struct.pack("<BII", 1, 8, 3) + b"".join(
            _struct.pack("<2d", *p) for p in cs_pts
        )
        cs_wkt = "CIRCULARSTRING (" + ", ".join(
            f"{_G._fmt(x)} {_G._fmt(y)}" for x, y in cs_pts
        ) + ")"
        ring = [(x0, y0), (mx, y1), (x1, y0), (mx, 2 * y0 - y1), (x0, y0)]
        cp_buf = (
            _struct.pack("<BII", 1, 10, 1)
            + _struct.pack("<BII", 1, 8, 5)
            + b"".join(_struct.pack("<2d", *p) for p in ring)
        )
        cp_wkt = "CURVEPOLYGON (CIRCULARSTRING (" + ", ".join(
            f"{_G._fmt(x)} {_G._fmt(y)}" for x, y in ring
        ) + "))"
        fix.append((int(rr.n_nationkey), bytes(cs_buf), cs_wkt, bytes(cp_buf), cp_wkt))
    cur = spark.createDataFrame(
        fix, "key bigint, cs_wkb binary, cs_wkt string, cp_wkb binary, cp_wkt string"
    )
    cur.createOrReplaceTempView("_graft_q140_cur")

    def curved_fam(name: str, wkb_col: str, wkt_col: str) -> str:
        return (
            f"SELECT '{name}' AS fam, key,"
            f" CAST(length({wkb_col}) AS BIGINT) AS wkb_len,"
            f" lower(hex(substring({wkb_col}, 1, 5))) AS head_hex,"
            f" CASE WHEN st_geomfromwkb({wkb_col})"
            f" = st_curvetoline({wkt_col}, 32) THEN 'MATCH'"
            f" ELSE COALESCE(st_geomfromwkb({wkb_col}), 'NULL') END AS rt_wkt,"
            f" CAST(st_sridfromewkb({wkb_col}) AS INT) AS srid"
            f" FROM _graft_q140_cur"
        )

    rows.append(curved_fam("curved", "cs_wkb", "cs_wkt"))
    rows.append(curved_fam("curved_cp", "cp_wkb", "cp_wkt"))
    # r16 continuation: the ENCODE side — st_asbinary now emits type
    # code 8 for curved text (the st_linetocurve output class), and
    # the reader linearizes it back; byte length and header pinned.
    # Rides the `cur` fixture frame so the expected linearization is
    # computed from the SAME cs_wkt column the encoder consumes.
    rows.append(
        "SELECT 'curved_enc' AS fam, key,"
        " CAST(length(st_asbinary(cs_wkt)) AS BIGINT) AS wkb_len,"
        " lower(hex(substring(st_asbinary(cs_wkt), 1, 5))) AS head_hex,"
        " CASE WHEN st_geomfromwkb(st_asbinary(cs_wkt))"
        " = st_curvetoline(cs_wkt, 32) THEN 'MATCH'"
        " ELSE 'DIFF' END AS rt_wkt,"
        " CAST(st_sridfromewkb(st_asbinary(cs_wkt)) AS INT) AS srid"
        " FROM _graft_q140_cur"
    )
    # GEOMETRYCOLLECTION Z through WKB (ISO 1007), the ewkb_z
    # integer-coordinate idiom
    rows.append(
        fam(
            "_graft_q140_boxes",
            "gcz_wkb",
            "n_nationkey",
            "st_asbinary('GEOMETRYCOLLECTION Z (POINT Z ('"
            " || CAST(CAST(minx AS BIGINT) AS STRING) || ' '"
            " || CAST(CAST(miny AS BIGINT) AS STRING) || ' '"
            " || CAST(n_nationkey AS STRING) || '))')",
        )
    )
    return spark.sql("\nUNION ALL\n".join(rows))
