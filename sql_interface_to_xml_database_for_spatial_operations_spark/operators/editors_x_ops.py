"""Driver row for the extended editor surface (functions/editors_x.py,
r15): ST_ForceCollection / ST_UnaryUnion / ST_BuildArea / ST_WrapX /
ST_QuantizeCoordinates. The reference forwards these PostGIS names
verbatim (src/index.ts:44-63).

Fixture: integer nation-box corners (x0 = minx, y0 = miny) with the
closed-form scale a = 1 + k%4. Families:

- ``fc``: ST_ForceCollection of a 2-point MULTIPOINT —
  a = ST_NumGeometries (= 2), b = the flattened GEOMETRYCOLLECTION
  text.
- ``uu``: ST_UnaryUnion of a self-overlapping MULTIPOLYGON (two
  2a-side squares offset by a) — a = area (= 7a² exactly), b = the
  full canonical dissolved POLYGON (the union kernel starts rings at
  the lexicographic-min vertex, so the 9-corner L-shape is a
  closed-form string).
- ``ba``: ST_BuildArea of two concentric square rings — a = annulus
  area (= 12a²), b = ST_GeometryType || '/' || ST_NumInteriorRings
  (= 'ST_Polygon/1' — the inner ring became a hole, not a face).
- ``wx``: ST_WrapX splitting a 2a-side square at x0 + a, move 10a —
  a = packed area·100 + x-extent (= 400a² + 10a: area preserved,
  extent maxx − minx = 10a after the left half jumps); b = the
  MULTIPOINT dateline heal (west point +20, east point static).
- ``qc``: ST_QuantizeCoordinates — a = packed code: the x0.5
  fixpoint echoes byte-exactly (its significand fits the kept bits)
  ·10 + the x0.123456 probe actually trims (output ≠ input) ·1
  (= 11); b = the quantized fixpoint POINT text.
- ``ewkt``: the EWKT codec (functions/ewkt.py) — a =
  ST_SRIDFromEWKT(ST_SetSRID(pt, 7k+1)) (= 7k+1: the prefix
  round-trips), b = ST_AsEWKT of the plain corner point (= the
  closed-form 'SRID=4326;POINT (x y)' — the engine's fixed-4326
  stamp).
- ``mkpt``: dimensional point constructors — a = ST_M(ST_PointZM(x,
  y, a, k))·10 + (ST_GeomFromEWKT(ST_AsEWKT(ST_MakePoint(x, y))) ==
  ST_MakePoint(x, y)) (= 10k+1), b = the ZM point's closed-form WKT.
- ``clip``: ST_ClipByBox2D of the 2a-square by the corner a-box —
  a = area (= a² exactly, the exact overlay kernel), b = the clip's
  integer bbox string.
- ``fbm``: ST_FilterByM over a 4-vertex LINESTRING M with m = 1..4 —
  a = 10·npoints(range [2,3]) + (range [9,10] collapses to
  LINESTRING EMPTY) (= 21), b = the filtered 2-vertex line.
- ``oe``: ST_OrderingEquals strictness — identical polygon TRUE,
  reversed line FALSE, 2-D vs Z point FALSE, packed (= 7); b =
  ST_MakeBox2D's normalized 'BOX(minx miny, maxx maxy)'.
- ``rot3``: ST_RotateX/Y/Z at θ = π (cos exactly −1; the ~1e-16 sin
  residue is absorbed by micro-int rounding) — packed z/x flips
  (= 7); b = ST_TransScale's exact-integer image.
- ``epl``: the encoded-polyline codec — a = packed integer-coordinate
  round-trips at precisions 5 and 0 (exact: scaled values are dyadic
  doubles) (= 11); b = the spec's published example encoding.
- ``twkb``: the TWKB codec — a = packed integer round-trip at
  precision 5 + the spec's own POINT(1 1) worked example hex
  (= 11); b = the precision-0 round-tripped square (byte-exact ring
  order: the codec never renormalizes).

Scale shape: map-only Arrow-batched pandas UDFs over the 25-row
nation projection — no shuffle. New module so editor_ops.py /
union_agg.py fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sql_fixtures import int_str, sql_union_rows
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_K = "n_nationkey"
_A = f"(1 + {_K} % 4)"


def _xy(x: str, y: str) -> str:
    return f"{int_str(x)} || ' ' || {int_str(y)}"


def _ring(x0: str, y0: str, side: str) -> str:
    """Closed square ring (x0, y0) .. (x0+side, y0+side), single parens."""
    return (
        f"'(' || {_xy(x0, y0)} || ', ' || {_xy(f'{x0} + {side}', y0)} || ', ' || "
        f"{_xy(f'{x0} + {side}', f'{y0} + {side}')} || ', ' || "
        f"{_xy(x0, f'{y0} + {side}')} || ', ' || {_xy(x0, y0)} || ')'"
    )


def _sq(x0: str, y0: str, side: str) -> str:
    return f"'(' || {_ring(x0, y0, side)} || ')'"


_MP2 = (
    f"'MULTIPOINT ((' || {_xy('minx', 'miny')} || '), (' || "
    f"{_xy(f'minx + {_A}', f'miny + {_A}')} || '))'"
)
_FC_EXPECT = (
    f"'GEOMETRYCOLLECTION (POINT (' || {_xy('minx', 'miny')} || '), POINT (' || "
    f"{_xy(f'minx + {_A}', f'miny + {_A}')} || '))'"
)

_UU_IN = (
    f"'MULTIPOLYGON (' || {_sq('minx', 'miny', f'2 * {_A}')} || ', ' || "
    f"{_sq(f'minx + {_A}', f'miny + {_A}', f'2 * {_A}')} || ')'"
)
# the dissolved L-shape, ring from the lexicographic-min corner CCW
_UU_EXPECT = (
    f"'POLYGON ((' || {_xy('minx', 'miny')} || ', ' || "
    f"{_xy(f'minx + 2 * {_A}', 'miny')} || ', ' || "
    f"{_xy(f'minx + 2 * {_A}', f'miny + {_A}')} || ', ' || "
    f"{_xy(f'minx + 3 * {_A}', f'miny + {_A}')} || ', ' || "
    f"{_xy(f'minx + 3 * {_A}', f'miny + 3 * {_A}')} || ', ' || "
    f"{_xy(f'minx + {_A}', f'miny + 3 * {_A}')} || ', ' || "
    f"{_xy(f'minx + {_A}', f'miny + 2 * {_A}')} || ', ' || "
    f"{_xy('minx', f'miny + 2 * {_A}')} || ', ' || "
    f"{_xy('minx', 'miny')} || '))'"
)

_BA_IN = (
    f"'MULTILINESTRING (' || {_ring('minx', 'miny', f'4 * {_A}')} || ', ' || "
    f"{_ring(f'minx + {_A}', f'miny + {_A}', f'2 * {_A}')} || ')'"
)

_WX_POLY = f"'POLYGON ' || {_sq('minx', 'miny', f'2 * {_A}')}"
_WX_MP = (
    f"'MULTIPOINT ((' || {_xy('minx', 'miny')} || '), (' || "
    f"{_xy('minx + 10', 'miny')} || '))'"
)
_WX_MP_EXPECT = (
    f"'MULTIPOINT (' || {_xy('minx + 20', 'miny')} || ', ' || "
    f"{_xy('minx + 10', 'miny')} || ')'"
)

_QC_FIX = f"'POINT (' || {int_str('minx')} || '.5 ' || {int_str('miny')} || ')'"
_QC_PROBE = f"'POINT (' || {int_str('minx')} || '.123456 ' || {int_str('miny')} || ')'"

_PT = f"'POINT (' || {_xy('minx', 'miny')} || ')'"
_ZM_EXPECT = (
    f"'POINT ZM (' || {_xy('minx', 'miny')} || ' ' || {int_str(_A)} || ' ' || "
    f"{int_str(_K)} || ')'"
)

# misc batch 2 fixtures
_PTZ = (
    f"'POINT Z (' || {_xy('minx', 'miny')} || ' ' || {int_str(_A)} || ')'"
)
_LM4 = (
    f"'LINESTRING M (' || {_xy('minx', 'miny')} || ' 1, ' || "
    f"{_xy(f'minx + {_A}', 'miny')} || ' 2, ' || "
    f"{_xy(f'minx + 2 * {_A}', 'miny')} || ' 3, ' || "
    f"{_xy(f'minx + 3 * {_A}', 'miny')} || ' 4)'"
)
_FBM_EXPECT = (
    f"'LINESTRING (' || {_xy(f'minx + {_A}', 'miny')} || ', ' || "
    f"{_xy(f'minx + 2 * {_A}', 'miny')} || ')'"
)
_BOX_EXPECT = (
    f"'BOX(' || {_xy('minx', 'miny')} || ', ' || {_xy('maxx', 'maxy')} || ')'"
)
_TS_EXPECT = (
    f"'POINT (' || {_xy(f'2 * (minx + {_A})', f'3 * (miny + {_A})')} || ')'"
)
_CLIP_EXPECT = (
    f"{int_str('minx')} || ' ' || {int_str('miny')} || ' ' || "
    f"{int_str(f'minx + {_A}')} || ' ' || {int_str(f'miny + {_A}')}"
)

_Q180_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'fc' AS fam, n_nationkey AS key,
           CAST(2 AS BIGINT) AS a, {_FC_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'uu' AS fam, n_nationkey AS key,
           CAST(7 * {_A} * {_A} AS BIGINT) AS a, {_UU_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'ba' AS fam, n_nationkey AS key,
           CAST(12 * {_A} * {_A} AS BIGINT) AS a, 'ST_Polygon/1' AS b
    FROM boxes
    UNION ALL
    SELECT 'wx' AS fam, n_nationkey AS key,
           CAST(400 * {_A} * {_A} + 10 * {_A} AS BIGINT) AS a,
           {_WX_MP_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'summ' AS fam, n_nationkey AS key,
           CAST(2 AS BIGINT) AS a,
           'Polygon[] with 2 rings' || chr(10) ||
           '  ring 0 has 5 points' || chr(10) ||
           '  ring 1 has 5 points' AS b
    FROM boxes
    UNION ALL
    SELECT 'misc' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a,
           'POLYGON ((' || {_xy('minx', 'miny')} || ', ' ||
           {_xy('minx', f'miny + 2 * {_A}')} || ', ' ||
           {_xy(f'minx + 2 * {_A}', f'miny + 2 * {_A}')} || ', ' ||
           {_xy(f'minx + 2 * {_A}', 'miny')} || ', ' ||
           {_xy('minx', 'miny')} || '))' AS b
    FROM boxes
    UNION ALL
    SELECT 'ext3' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a,
           'BOX3D(' || {_xy('minx', 'miny')} || ' 0, ' ||
           {_xy(f'minx + 2 * {_A}', f'miny + {_A}')} || ' ' ||
           {int_str(_A)} || ')' AS b
    FROM boxes
    UNION ALL
    SELECT 'qc' AS fam, n_nationkey AS key,
           CAST(11 AS BIGINT) AS a, {_QC_FIX} AS b
    FROM boxes
    UNION ALL
    SELECT 'ewkt' AS fam, n_nationkey AS key,
           CAST(7 * n_nationkey + 1 AS BIGINT) AS a,
           'SRID=4326;' || {_PT} AS b
    FROM boxes
    UNION ALL
    SELECT 'mkpt' AS fam, n_nationkey AS key,
           CAST(10 * n_nationkey + 1 AS BIGINT) AS a,
           {_ZM_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'clip' AS fam, n_nationkey AS key,
           CAST({_A} * {_A} AS BIGINT) AS a, {_CLIP_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'fbm' AS fam, n_nationkey AS key,
           CAST(21 AS BIGINT) AS a, {_FBM_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'oe' AS fam, n_nationkey AS key,
           CAST(7 AS BIGINT) AS a, {_BOX_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'rot3' AS fam, n_nationkey AS key,
           CAST(7 AS BIGINT) AS a, {_TS_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'epl' AS fam, n_nationkey AS key,
           CAST(11 AS BIGINT) AS a,
           '_p~iF~ps|U_ulLnnqC_mqNvxq`@' AS b
    FROM boxes
    UNION ALL
    SELECT 'twkb' AS fam, n_nationkey AS key,
           CAST(11 AS BIGINT) AS a,
           'POLYGON ' || {_sq('minx', 'miny', _A)} AS b
    FROM boxes
    UNION ALL
    SELECT 'dims' AS fam, n_nationkey AS key,
           CAST(23441 AS BIGINT) AS a,
           'POINT ZM (' || {_xy('minx', 'miny')} || ' 0 0)' AS b
    FROM boxes
"""


@query("q180_st_editors_x", oracle=_Q180_ORACLE)
def q180_st_editors_x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ForceCollection / ST_UnaryUnion / ST_BuildArea / ST_WrapX /
    ST_QuantizeCoordinates end to end (module docstring fixtures)."""
    boxes = nation_boxes(spark, sf_dir)

    # r17 optimization: each fam() is one branch of a single-analysis
    # SQL UNION ALL (_sql_fixtures.sql_union_rows) instead of a
    # per-branch unionByName fold — same rows/columns/branch order, one
    # plan analysis and one fixture scan.
    def fam(name: str, a_expr: str, b_expr: str) -> str:
        return (
            f"'{name}' AS fam, n_nationkey AS key, "
            f"CAST({a_expr} AS BIGINT) AS a, {b_expr} AS b"
        )

    rows = [fam(
        "fc",
        f"st_numgeometries(st_forcecollection({_MP2}))",
        f"st_forcecollection({_MP2})",
    )]
    rows.append(
        fam(
            "uu",
            f"st_area(st_unaryunion({_UU_IN}))",
            f"st_unaryunion({_UU_IN})",
        )
    )
    rows.append(
        fam(
            "ba",
            f"st_area(st_buildarea({_BA_IN}))",
            f"st_geometrytype(st_buildarea({_BA_IN})) || '/' || "
            f"CAST(st_numinteriorrings(st_buildarea({_BA_IN})) AS STRING)",
        )
    )
    wx_poly = f"st_wrapx({_WX_POLY}, CAST(minx + {_A} AS DOUBLE), CAST(10 * {_A} AS DOUBLE))"
    rows.append(
        fam(
            "wx",
            f"st_area({wx_poly}) * 100 + st_xmax({wx_poly}) - st_xmin({wx_poly})",
            f"st_wrapx({_WX_MP}, CAST(minx + 5 AS DOUBLE), CAST(20 AS DOUBLE))",
        )
    )
    # misc surface (functions/misc_fns.py): summary text, ring count,
    # point-in-circle strictness, curved-type detection, the exact 2-D
    # aliases, ST_ForceRHR, and the BOX3D aggregate extent
    ba = f"st_buildarea({_BA_IN})"
    rows.append(
        fam(
            "summ",
            f"st_nrings({ba})",
            f"st_summary({ba})",
        )
    )
    rows.append(
        fam(
            "misc",
            f"CASE WHEN st_pointinsidecircle({_QC_FIX}, CAST(minx AS DOUBLE),"
            " CAST(miny AS DOUBLE), 1.0D)"
            f" AND NOT st_pointinsidecircle({_QC_FIX}, CAST(minx + 5 AS DOUBLE),"
            " CAST(miny AS DOUBLE), 1.0D)"
            " AND st_hasarc('CIRCULARSTRING (0 0, 1 1, 2 0)')"
            f" AND NOT st_hasarc({_QC_FIX})"
            f" AND st_length2d('LINESTRING (' || {_xy('minx', 'miny')} || ', ' ||"
            f" {_xy(f'minx + 2 * {_A}', 'miny')} || ')') = CAST(2 * {_A} AS DOUBLE)"
            f" AND st_area2d('POLYGON ' || {_sq('minx', 'miny', _A)}) = CAST({_A} * {_A} AS DOUBLE)"
            f" AND st_perimeter2d('POLYGON ' || {_sq('minx', 'miny', _A)}) = CAST(4 * {_A} AS DOUBLE)"
            " THEN 1 ELSE 0 END",
            f"st_forcerhr('POLYGON ' || {_sq('minx', 'miny', f'2 * {_A}')})",
        )
    )
    rows.append(
        fam(
            "ext3",
            "1",
            f"st_3dextent_all(array("
            f"'POINT Z (' || {_xy('minx', 'miny')} || ' ' || {int_str(_A)} || ')', "
            f"'POINT (' || {_xy(f'minx + 2 * {_A}', f'miny + {_A}')} || ')'))",
        )
    )
    rows.append(
        fam(
            "qc",
            f"CASE WHEN st_quantizecoordinates({_QC_FIX}, 2) = {_QC_FIX}"
            " THEN 10 ELSE 0 END"
            f" + CASE WHEN st_quantizecoordinates({_QC_PROBE}, 4) <> {_QC_PROBE}"
            " THEN 1 ELSE 0 END",
            f"st_quantizecoordinates({_QC_FIX}, 2)",
        )
    )
    # EWKT codec (functions/ewkt.py): the SRID=n; text form round-trips
    # and st_asewkt stamps the engine's fixed 4326 on plain WKT
    rows.append(
        fam(
            "ewkt",
            f"st_sridfromewkt(st_setsrid({_PT}, CAST(7 * {_K} + 1 AS INT)))",
            f"st_asewkt({_PT})",
        )
    )
    # dimensional point constructors: ZM carries (z, m) = (a, key)
    # readable back through st_m; the 2-arg shape round-trips via EWKT
    zm_pt = (
        f"st_pointzm(CAST(minx AS DOUBLE), CAST(miny AS DOUBLE),"
        f" CAST({_A} AS DOUBLE), CAST({_K} AS DOUBLE))"
    )
    mk_pt = "st_makepoint(CAST(minx AS DOUBLE), CAST(miny AS DOUBLE))"
    rows.append(
        fam(
            "mkpt",
            f"CAST(st_m({zm_pt}) AS BIGINT) * 10"
            f" + CASE WHEN st_geomfromewkt(st_asewkt({mk_pt})) = {mk_pt}"
            " THEN 1 ELSE 0 END",
            zm_pt,
        )
    )
    # misc batch 2 (functions/misc_fns2.py)
    clip = (
        f"st_clipbybox2d('POLYGON ' || {_sq('minx', 'miny', f'2 * {_A}')},"
        f" st_makeenvelope(CAST(minx AS DOUBLE), CAST(miny AS DOUBLE),"
        f" CAST(minx + {_A} AS DOUBLE), CAST(miny + {_A} AS DOUBLE)))"
    )
    rows.append(
        fam(
            "clip",
            f"st_area({clip})",
            f"{int_str(f'st_xmin({clip})')} || ' ' || "
            f"{int_str(f'st_ymin({clip})')} || ' ' || "
            f"{int_str(f'st_xmax({clip})')} || ' ' || "
            f"{int_str(f'st_ymax({clip})')}",
        )
    )
    rows.append(
        fam(
            "fbm",
            f"10 * st_npoints(st_filterbym({_LM4}, 2.0D, 3.0D))"
            f" + CASE WHEN st_filterbym({_LM4}, 9.0D, 10.0D)"
            " = 'LINESTRING EMPTY' THEN 1 ELSE 0 END",
            f"st_filterbym({_LM4}, 2.0D, 3.0D)",
        )
    )
    sq = f"'POLYGON ' || {_sq('minx', 'miny', _A)}"
    line = f"'LINESTRING (' || {_xy('minx', 'miny')} || ', ' || {_xy('maxx', 'maxy')} || ')'"
    line_rev = f"'LINESTRING (' || {_xy('maxx', 'maxy')} || ', ' || {_xy('minx', 'miny')} || ')'"
    rows.append(
        fam(
            "oe",
            f"CASE WHEN st_orderingequals({sq}, {sq}) THEN 4 ELSE 0 END"
            f" + CASE WHEN NOT st_orderingequals({line}, {line_rev})"
            " THEN 2 ELSE 0 END"
            f" + CASE WHEN NOT st_orderingequals({_PT},"
            " st_pointz(CAST(minx AS DOUBLE), CAST(miny AS DOUBLE),"
            f" CAST({_A} AS DOUBLE))) THEN 1 ELSE 0 END",
            f"st_makebox2d('POINT (' || {_xy('maxx', 'maxy')} || ')',"
            f" {_PT})",
        )
    )
    # 3-D rotations probed at θ = π (cos exactly −1, sin ~1e-16 —
    # micro-int rounding absorbs the residue) + exact-integer transscale
    rows.append(
        fam(
            "rot3",
            f"CASE WHEN CAST(floor(st_zmin(st_rotatex({_PTZ}, pi())) * 1e6"
            f" + 0.5) AS BIGINT) = CAST(-{_A} * 1000000 AS BIGINT)"
            " THEN 4 ELSE 0 END"
            f" + CASE WHEN CAST(floor(st_zmin(st_rotatey({_PTZ}, pi())) * 1e6"
            f" + 0.5) AS BIGINT) = CAST(-{_A} * 1000000 AS BIGINT)"
            " THEN 2 ELSE 0 END"
            f" + CASE WHEN CAST(floor(st_xmin(st_rotatez({_PT}, pi())) * 1e6"
            " + 0.5) AS BIGINT) = CAST(-minx * 1000000 AS BIGINT)"
            " THEN 1 ELSE 0 END",
            f"st_transscale({_PT}, CAST({_A} AS DOUBLE), CAST({_A} AS DOUBLE),"
            " 2.0D, 3.0D)",
        )
    )
    # encoded polyline (functions/polyline.py): integer-coordinate
    # round-trips are exact at every precision; b pins the spec's own
    # published example string
    epl_line = (
        f"'LINESTRING (' || {_xy('minx', 'miny')} || ', ' || "
        f"{_xy('maxx', 'maxy')} || ', ' || "
        f"{_xy(f'minx + {_A}', f'miny + {_A}')} || ')'"
    )
    rows.append(
        fam(
            "epl",
            "CASE WHEN st_linefromencodedpolyline("
            f"st_asencodedpolyline({epl_line}, 5), 5) = {epl_line}"
            " THEN 10 ELSE 0 END"
            " + CASE WHEN st_linefromencodedpolyline("
            f"st_asencodedpolyline({epl_line}, 0), 0) = {epl_line}"
            " THEN 1 ELSE 0 END",
            "st_asencodedpolyline("
            "'LINESTRING (-120.2 38.5, -120.95 40.7, -126.453 43.252)', 5)",
        )
    )
    # TWKB (functions/twkb.py): integer round-trips are exact; the hex
    # pin is the spec's own worked example
    twkb_sq = f"'POLYGON ' || {_sq('minx', 'miny', _A)}"
    rows.append(
        fam(
            "twkb",
            f"CASE WHEN st_geomfromtwkb(st_astwkb({twkb_sq}, 5)) = {twkb_sq}"
            " THEN 10 ELSE 0 END"
            " + CASE WHEN hex(st_astwkb('POINT (1 1)', 0)) = '01000202'"
            " THEN 1 ELSE 0 END",
            f"st_geomfromtwkb(st_astwkb({twkb_sq}, 0))",
        )
    )
    # dims / force-family completion (zcoord.py r15 continuation 2):
    # a packs st_ndims over all four dimensionalities + the
    # line-from-multipoint constructor; b = ST_Force4D's ZM image
    zm_probe = (
        f"st_pointzm(CAST(minx AS DOUBLE), CAST(miny AS DOUBLE),"
        f" CAST({_A} AS DOUBLE), CAST({_K} AS DOUBLE))"
    )
    rows.append(
        fam(
            "dims",
            f"st_ndims({_PT}) * 10000"
            f" + st_coorddim(st_force3dm({_PT})) * 1000"
            f" + st_ndims(st_force4d({_PT})) * 100"
            f" + st_ndims({zm_probe}) * 10"
            f" + CASE WHEN st_linefrommultipoint({_MP2})"
            f" = 'LINESTRING (' || {_xy('minx', 'miny')} || ', ' ||"
            f" {_xy(f'minx + {_A}', f'miny + {_A}')} || ')'"
            " THEN 1 ELSE 0 END",
            f"st_force4d({_PT})",
        )
    )
    return sql_union_rows(boxes, rows)
