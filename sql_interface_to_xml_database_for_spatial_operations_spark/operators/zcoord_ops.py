"""Driver row for the Z (3-D) coordinate suite (functions/zcoord.py,
r15 — VERDICT r14 missing item 1). The reference forwards PostGIS
names verbatim (src/index.ts:44-63); elevation / LiDAR / GPS-altitude
data carries Z on day one.

Fixture: integer nation-box corners with CLOSED-FORM Z parameters —
a = 1 + k%4 scales the (3, 4, 12) Pythagorean direction (|v| = 13a
exactly), s = 1 + k%5 scales the (1, 2, 2) quadruple (|v| = 3s), and
zv = 5 + k%3 hangs a point vertically over a z = 0 segment (distance
zv). Every ``a`` column is an exact BIGINT; every ``b`` column is a
byte-exact WKT string both engines build from the same integer
coordinates:

- ``z_acc``: ST_Z of POINT Z (= k) + ST_Force3D default-0 text.
- ``zrange``: ST_ZMax over the scaled line (= 12a) + ST_Force3DZ(g, k).
- ``len3d``: ST_3DLength (= 13a) + ST_Force2D dropping Z.
- ``d3d_pt``: point–point 3-D distance (= 3s) + the WKB Z round trip
  of a POINT ZM through st_asbinary → st_geomfromwkb (ISO 3001).
- ``d3d_seg``: point-above-segment 3-D distance (= zv) + the WKB Z
  round trip of a POLYGON Z (ISO 1003).
- ``zm``: ST_Zmflag across 2-D/M/Z/ZM packed as a digit code (2310)
  + ST_Force3D of the ZM point (M dropped — force_dims semantics).
- ``zm_m``: ST_M of the POINT ZM (= 2k — the ZM M-carry) + the
  ST_LocateBetween boundary-touch POINT contact (ADVICE r14: measure
  range touching mmax returns MULTIPOINT M, not EMPTY).
- ``z_null``: the loud-NULL fence (ST_Z of 2-D, ST_3DLength of a
  point, areal ST_3DDistance, ST_ZMin of EMPTY, ST_Force3D of a
  collection) + ST_Force2D of the Z polygon.
- ``zmin_neg``: ST_ZMin over a negative-Z line (= −k) + its WKB
  round trip.
- ``d3d_within`` (r15 continuation): ST_3DDWithin bracketing the
  exact distance 3s (true at 3s, false at 3s − 0.5) + the
  ST_3DClosestPoint witness ON the segment under the hanging point.
- ``d3d_max``: ST_3DMaxDistance (= 13a, the far vertex) + the
  ST_3DShortestLine drop as an exact LINESTRING Z.
- ``interp3d``: ST_3DLineInterpolatePoint at f = 0.5 of the DOUBLED
  Pythagorean line (halving keeps integers: z = 12a) + the full
  POINT Z string.
- ``perim3d``: ST_3DPerimeter of the 5-12-13 wall triangle (= 30a)
  + the coincident-witness ST_3DClosestPoint (a's own point).

Scale shape: map-only Arrow-batched pandas UDFs over the 25-row
nation projection — no shuffle. New module so linearref_ops.py /
codec_ops.py fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sql_fixtures import int_str, sql_union_rows
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


# closed-form integer parameters
_K = "n_nationkey"
_A = f"(1 + {_K} % 4)"  # scales (3,4,12): |v| = 13a
_S = f"(1 + {_K} % 5)"  # scales (1,2,2):  |v| = 3s
_ZV = f"(5 + {_K} % 3)"  # height over the z = 0 segment


def _xyz(xe: str, ye: str, ze: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)} || ' ' || {int_str(ze)}"


# fixture WKT builds (identical text in Spark and DuckDB)
_PZ = f"'POINT Z (' || {_xyz('minx', 'miny', _K)} || ')'"
_P2D = f"'POINT (' || {int_str('minx')} || ' ' || {int_str('miny')} || ')'"
_PM = f"'POINT M (' || {_xyz('minx', 'miny', '5')} || ')'"
_PZM = (
    f"'POINT ZM (' || {int_str('minx')} || ' ' || {int_str('miny')} || ' ' || "
    f"{int_str(_K)} || ' ' || {int_str(f'2 * {_K}')} || ')'"
)
_LZ = (
    f"'LINESTRING Z (' || {_xyz('minx', 'miny', '0')} || ', ' || "
    f"{_xyz(f'minx + 3 * {_A}', f'miny + 4 * {_A}', f'12 * {_A}')} || ')'"
)
_LZ_2D = (
    f"'LINESTRING (' || {int_str('minx')} || ' ' || {int_str('miny')} || ', ' || "
    f"{int_str(f'minx + 3 * {_A}')} || ' ' || {int_str(f'miny + 4 * {_A}')} || ')'"
)
_PZ0 = f"'POINT Z (' || {_xyz('minx', 'miny', '0')} || ')'"
_PZQ = f"'POINT Z (' || {_xyz(f'minx + {_S}', f'miny + 2 * {_S}', f'2 * {_S}')} || ')'"
_SEG0 = (
    f"'LINESTRING Z (' || {_xyz('minx - 1', 'miny', '0')} || ', ' || "
    f"{_xyz('minx + 1', 'miny', '0')} || ')'"
)
_PABOVE = f"'POINT Z (' || {_xyz('minx', 'miny', _ZV)} || ')'"
_POLYZ = (
    f"'POLYGON Z ((' || {_xyz('minx', 'miny', '1')} || ', ' || "
    f"{_xyz('minx + 4', 'miny', '1')} || ', ' || "
    f"{_xyz('minx + 4', 'miny + 4', '1')} || ', ' || "
    f"{_xyz('minx', 'miny', '1')} || '))'"
)
_POLY_2D = (
    f"'POLYGON ((' || {int_str('minx')} || ' ' || {int_str('miny')} || ', ' || "
    f"{int_str('minx + 4')} || ' ' || {int_str('miny')} || ', ' || "
    f"{int_str('minx + 4')} || ' ' || {int_str('miny + 4')} || ', ' || "
    f"{int_str('minx')} || ' ' || {int_str('miny')} || '))'"
)
_LZNEG = (
    f"'LINESTRING Z (' || {_xyz('minx', 'miny', f'0 - {_K}')} || ', ' || "
    f"{_xyz('minx + 1', 'miny + 1', _K)} || ')'"
)
_BOTTOM = (
    f"'LINESTRING (' || {int_str('minx')} || ' ' || {int_str('miny')} || ', ' || "
    f"{int_str('maxx')} || ' ' || {int_str('miny')} || ')'"
)
# measure 0..5 over the bottom edge, then clip to [5, 8]: the range
# touches mmax at the east corner → a single POINT M contact
_TOUCH = f"st_locatebetween(st_addmeasure({_BOTTOM}, 0.0D, 5.0D), 5.0D, 8.0D)"
_TOUCH_EXPECT = (
    f"'MULTIPOINT M ((' || {int_str('maxx')} || ' ' || {int_str('miny')} || ' 5))'"
)
_FORCE3D_K = f"'POINT Z (' || {_xyz('minx', 'miny', _K)} || ')'"
_FORCE3D_0 = f"'POINT Z (' || {_xyz('minx', 'miny', '0')} || ')'"

# r15 continuation fixtures: the doubled Pythagorean line (halving at
# f = 0.5 keeps every coordinate an exact integer), the 5-12-13 wall
# triangle (3-D perimeter 30a), and the vertical drop's witness line
_LZ2 = (
    f"'LINESTRING Z (' || {_xyz('minx', 'miny', '0')} || ', ' || "
    f"{_xyz(f'minx + 6 * {_A}', f'miny + 8 * {_A}', f'24 * {_A}')} || ')'"
)
_MIDZ = f"'POINT Z (' || {_xyz(f'minx + 3 * {_A}', f'miny + 4 * {_A}', f'12 * {_A}')} || ')'"
_WALL = (
    f"'POLYGON Z ((' || {_xyz('minx', 'miny', '0')} || ', ' || "
    f"{_xyz(f'minx + 3 * {_A}', f'miny + 4 * {_A}', '0')} || ', ' || "
    f"{_xyz(f'minx + 3 * {_A}', f'miny + 4 * {_A}', f'12 * {_A}')} || ', ' || "
    f"{_xyz('minx', 'miny', '0')} || '))'"
)
_DROP_LINE = (
    f"'LINESTRING Z (' || {_xyz('minx', 'miny', _ZV)} || ', ' || "
    f"{_xyz('minx', 'miny', '0')} || ')'"
)

# r16: the GEOMETRYCOLLECTION Z fixtures (closed-form member strings)
_GCZ = (
    f"'GEOMETRYCOLLECTION Z (POINT Z (' || {_xyz('minx', 'miny', _K)} || '), "
    f"LINESTRING Z (' || {_xyz('minx', 'miny', f'0 - {_K}')} || ', ' || "
    f"{_xyz('minx + 1', 'miny + 1', _K)} || '))'"
)
_GC2D = f"'GEOMETRYCOLLECTION (POINT (' || {int_str('minx')} || ' ' || {int_str('miny')} || '))'"
_GCZ_FORCED = (
    f"'GEOMETRYCOLLECTION Z (POINT Z (' || {_xyz('minx', 'miny', _K)} || '))'"
)

_Q174_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'z_acc' AS fam, n_nationkey AS key,
           CAST(n_nationkey AS BIGINT) AS a, {_FORCE3D_0} AS b
    FROM boxes
    UNION ALL
    SELECT 'zrange' AS fam, n_nationkey AS key,
           CAST(12 * {_A} AS BIGINT) AS a, {_FORCE3D_K} AS b
    FROM boxes
    UNION ALL
    SELECT 'len3d' AS fam, n_nationkey AS key,
           CAST(13 * {_A} AS BIGINT) AS a, {_LZ_2D} AS b
    FROM boxes
    UNION ALL
    SELECT 'd3d_pt' AS fam, n_nationkey AS key,
           CAST(3 * {_S} AS BIGINT) AS a, {_PZM} AS b
    FROM boxes
    UNION ALL
    SELECT 'd3d_seg' AS fam, n_nationkey AS key,
           CAST({_ZV} AS BIGINT) AS a, {_POLYZ} AS b
    FROM boxes
    UNION ALL
    SELECT 'zm' AS fam, n_nationkey AS key,
           CAST(2310 AS BIGINT) AS a, {_FORCE3D_K} AS b
    FROM boxes
    UNION ALL
    SELECT 'zm_m' AS fam, n_nationkey AS key,
           CAST(2 * {_K} AS BIGINT) AS a, {_TOUCH_EXPECT} AS b
    FROM boxes
    UNION ALL
    SELECT 'z_null' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a, {_POLY_2D} AS b
    FROM boxes
    UNION ALL
    SELECT 'zmin_neg' AS fam, n_nationkey AS key,
           CAST(0 - {_K} AS BIGINT) AS a, {_LZNEG} AS b
    FROM boxes
    UNION ALL
    SELECT 'd3d_within' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a,
           'POINT Z (' || {_xyz('minx', 'miny', '0')} || ')' AS b
    FROM boxes
    UNION ALL
    SELECT 'd3d_max' AS fam, n_nationkey AS key,
           CAST(13 * {_A} AS BIGINT) AS a, {_DROP_LINE} AS b
    FROM boxes
    UNION ALL
    SELECT 'interp3d' AS fam, n_nationkey AS key,
           CAST(12 * {_A} AS BIGINT) AS a, {_MIDZ} AS b
    FROM boxes
    UNION ALL
    SELECT 'perim3d' AS fam, n_nationkey AS key,
           CAST(30 * {_A} AS BIGINT) AS a,
           'POINT Z (' || {_xyz('minx', 'miny', '0')} || ')' AS b
    FROM boxes
    UNION ALL
    SELECT 'gcz' AS fam, n_nationkey AS key,
           CAST(0 - {_K} AS BIGINT) AS a, {_GCZ_FORCED} AS b
    FROM boxes
    UNION ALL
    SELECT 'gcz_rt' AS fam, n_nationkey AS key,
           CAST(230 AS BIGINT) AS a, {_GCZ} AS b
    FROM boxes
"""


@query("q174_st_z", oracle=_Q174_ORACLE)
def q174_st_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z (3-D) coordinates end to end: accessors, force casts, 3-D
    length/distance closed forms, ZM measure carry, the WKB Z round
    trip, and the loud-NULL fence (module docstring)."""
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

    rows = [fam("z_acc", f"st_z({_PZ})", f"st_force3d({_P2D})")]
    rows.append(
        fam("zrange", f"st_zmax({_LZ})", f"st_force3dz({_P2D}, CAST({_K} AS DOUBLE))")
    )
    rows.append(fam("len3d", f"st_3dlength({_LZ})", f"st_force2d({_LZ})"))
    rows.append(
        fam(
            "d3d_pt",
            f"st_3ddistance({_PZ0}, {_PZQ})",
            f"st_geomfromwkb(st_asbinary({_PZM}))",
        )
    )
    rows.append(
        fam(
            "d3d_seg",
            f"st_3ddistance({_PABOVE}, {_SEG0})",
            f"st_geomfromwkb(st_asbinary({_POLYZ}))",
        )
    )
    rows.append(
        fam(
            "zm",
            f"st_zmflag({_PZ}) * 1000 + st_zmflag({_PZM}) * 100 "
            f"+ st_zmflag({_PM}) * 10 + st_zmflag({_P2D})",
            f"st_force3d({_PZM})",
        )
    )
    rows.append(fam("zm_m", f"st_m({_PZM})", _TOUCH))
    rows.append(
        fam(
            "z_null",
            f"CASE WHEN st_z({_P2D}) IS NULL"
            f" AND st_3dlength({_PZ}) IS NULL"
            f" AND st_3ddistance({_PZ}, {_POLYZ}) IS NULL"
            " AND st_zmin('POINT Z EMPTY') IS NULL"
            # r16: collections joined the codec — the fence moves to a
            # junk MEMBER (still loud) and the EMPTY echo is pinned
            " AND st_force3d('GEOMETRYCOLLECTION (JUNK (1 2))') IS NULL"
            " AND st_force3d('GEOMETRYCOLLECTION EMPTY')"
            "     = 'GEOMETRYCOLLECTION Z EMPTY'"
            " THEN 1 ELSE 0 END",
            f"st_force2d({_POLYZ})",
        )
    )
    rows.append(
        fam(
            "zmin_neg",
            f"st_zmin({_LZNEG})",
            f"st_geomfromwkb(st_asbinary({_LZNEG}))",
        )
    )
    # r15 continuation: the predicate/witness/interpolation/perimeter
    # forms of the 3-D kernel (module docstring fixtures)
    rows.append(
        fam(
            "d3d_within",
            f"CASE WHEN st_3ddwithin({_PZ0}, {_PZQ}, CAST(3 * {_S} AS DOUBLE))"
            f" AND NOT st_3ddwithin({_PZ0}, {_PZQ}, CAST(3 * {_S} AS DOUBLE) - 0.5)"
            " THEN 1 ELSE 0 END",
            f"st_3dclosestpoint({_SEG0}, {_PABOVE})",
        )
    )
    rows.append(
        fam(
            "d3d_max",
            f"st_3dmaxdistance({_PZ0}, {_LZ})",
            f"st_3dshortestline({_PABOVE}, {_SEG0})",
        )
    )
    rows.append(
        fam(
            "interp3d",
            f"st_z(st_3dlineinterpolatepoint({_LZ2}, 0.5))",
            f"st_3dlineinterpolatepoint({_LZ2}, 0.5)",
        )
    )
    rows.append(
        fam(
            "perim3d",
            f"st_3dperimeter({_WALL})",
            f"st_3dclosestpoint({_PZ0}, {_PZQ})",
        )
    )
    # r16 (VERDICT r15 task 4): GEOMETRYCOLLECTION Z joins the codec —
    # member-recursive force casts, accessors over members, zmflag /
    # ndims, and the WKB ISO-1007 round trip
    rows.append(
        fam(
            "gcz",
            f"st_zmin({_GCZ})",
            f"st_force3dz({_GC2D}, CAST({_K} AS DOUBLE))",
        )
    )
    rows.append(
        fam(
            "gcz_rt",
            f"st_zmflag({_GCZ}) * 100 + st_ndims({_GCZ}) * 10"
            f" + st_zmflag(st_force2d({_GCZ}))",
            f"st_geomfromwkb(st_asbinary({_GCZ}))",
        )
    )
    return sql_union_rows(boxes, rows)
