"""q185 (r17): inspection + elevation batch — ST_IsCollection,
ST_MemSize, ST_LocateBetweenElevations, ST_3DLongestLine.

The reference forwards PostGIS names verbatim (src/index.ts:44-63);
these four close the remaining gaps found by the r17 dict-union sweep
of the 270-name registry:

- ``st_iscollection(g)`` — TRUE for every container kind across every
  codec (MULTI*, GEOMETRYCOLLECTION incl. dimensional/EMPTY, surfaces
  per the liblwgeom rule, MULTICURVE/MULTISURFACE); FALSE for single
  kinds; junk → NULL (functions/misc_fns2.py).
- ``st_memsize(g)`` — the engine's serialized byte size (ISO WKB, the
  st_asbinary bytes). PostGIS reports ITS serialization; the number is
  engine-specific by definition and documented as such. The family
  pins the exact WKB layout arithmetic (1 + 4 + 16·n-class formulas).
- ``st_locatebetweenelevations(g, z1, z2)`` — the Z-ordinate clip on
  the zcoord codec (functions/zcoord.py), the measure locatebetween
  kernel transposed to elevations; fixtures make every interpolated
  coordinate an exact integer (z spans == x spans), so both engines
  assemble byte-identical WKT.
- ``st_3dlongestline(a, b)`` — the st_3dmaxdistance argmax vertex pair
  as LINESTRING Z (functions/zcoord.py).

Scale shape: map-only Arrow-batched pandas UDFs over the 25-row
nation projection — no shuffle. New module so the verified carriers of
misc_fns2 / zcoord (q180, q174) keep their own fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sql_fixtures import int_str
from ._sql_fixtures import sql_union_rows
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_K = "n_nationkey"
_X0, _Y0 = "minx", "miny"

# -- coll: one CASE pack over the container/single matrix -------------------
_MP = f"'MULTIPOINT ((' || {int_str(_X0)} || ' ' || {int_str(_Y0)} || '))'"
_PT = f"'POINT (' || {int_str(_X0)} || ' ' || {int_str(_Y0)} || ')'"
_GCZ = (
    f"'GEOMETRYCOLLECTION Z (POINT Z (' || {int_str(_X0)} || ' ' || "
    f"{int_str(_Y0)} || ' ' || {int_str(_K)} || '))'"
)
_TINM = (
    f"'TIN M (((' || {int_str(_X0)} || ' ' || {int_str(_Y0)} || ' 1, ' || "
    f"{int_str(f'{_X0} + 1')} || ' ' || {int_str(_Y0)} || ' 2, ' || "
    f"{int_str(_X0)} || ' ' || {int_str(f'{_Y0} + 1')} || ' 3, ' || "
    f"{int_str(_X0)} || ' ' || {int_str(_Y0)} || ' 1)))'"
)

# -- msz: WKB layout arithmetic ---------------------------------------------
# LINESTRING with (key % 3 + 2) vertices: 1 + 4 + 4 + 16·n bytes
_N_VERTS = f"({_K} % 3 + 2)"
# POINT Z: 1 + 4 + 24 = 29; MULTIPOINT of 2: 9 + 2·21 = 51

# -- lbe: z spans equal x spans, so interpolation is exact ------------------
# LINESTRING Z (x0 y0 0, x0+10 y0 10); clip [lo, lo+2], lo = key%3+1
_LBE_LINE = (
    f"'LINESTRING Z (' || {int_str(_X0)} || ' ' || {int_str(_Y0)} || ' 0, ' "
    f"|| {int_str(f'{_X0} + 10')} || ' ' || {int_str(_Y0)} || ' 10)'"
)
_LO = f"({_K} % 3 + 1)"
_HI = f"({_K} % 3 + 3)"
_LBE_OUT = (
    f"'MULTILINESTRING Z ((' || {int_str(f'{_X0} + {_LO}')} || ' ' || "
    f"{int_str(_Y0)} || ' ' || {int_str(_LO)} || ', ' || "
    f"{int_str(f'{_X0} + {_HI}')} || ' ' || {int_str(_Y0)} || ' ' || "
    f"{int_str(_HI)} || '))'"
)

# -- lll: argmax pair is unambiguous by construction ------------------------
_A3 = f"'POINT Z (' || {int_str(_X0)} || ' ' || {int_str(_Y0)} || ' 0)'"
_B3 = (
    f"'LINESTRING Z (' || {int_str(f'{_X0} + 1')} || ' ' || {int_str(_Y0)} "
    f"|| ' 1, ' || {int_str(f'{_X0} + 20')} || ' ' || "
    f"{int_str(f'{_Y0} + 20')} || ' 7)'"
)
_LLL_OUT = (
    f"'LINESTRING Z (' || {int_str(_X0)} || ' ' || {int_str(_Y0)} || ' 0, ' "
    f"|| {int_str(f'{_X0} + 20')} || ' ' || {int_str(f'{_Y0} + 20')} "
    f"|| ' 7)'"
)

_Q185_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'coll' AS fam, n_nationkey AS key,
           CAST(11111 AS BIGINT) AS a, {_MP} AS b
    FROM boxes
    UNION ALL
    SELECT 'msz' AS fam, n_nationkey AS key,
           CAST(10000 * 29 + 100 * 51 + (9 + 16 * {_N_VERTS}) AS BIGINT) AS a,
           {_PT} AS b
    FROM boxes
    UNION ALL
    SELECT 'lbe' AS fam, n_nationkey AS key,
           CAST({_LO} * 10 + {_HI} AS BIGINT) AS a, {_LBE_OUT} AS b
    FROM boxes
    UNION ALL
    SELECT 'lll' AS fam, n_nationkey AS key,
           CAST(0 AS BIGINT) AS a, {_LLL_OUT} AS b
    FROM boxes
"""


@query("q185_st_inspection", oracle=_Q185_ORACLE)
def q185_st_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_IsCollection / ST_MemSize / ST_LocateBetweenElevations /
    ST_3DLongestLine driver row (module docstring fixtures)."""
    boxes = nation_boxes(spark, sf_dir)

    # r17 optimization: branch strings into one SQL UNION ALL
    # (_sql_fixtures.sql_union_rows) instead of a per-branch
    # unionByName fold — same rows/columns/branch order, one analysis,
    # one fixture scan.
    def fam(name: str, a_expr: str, b_expr: str) -> str:
        return (
            f"'{name}' AS fam, n_nationkey AS key, "
            f"CAST({a_expr} AS BIGINT) AS a, {b_expr} AS b"
        )

    # coll: containers score 1 in their decade, singles score 1 by
    # being FALSE, junk scores 1 by being NULL -> 11101 everywhere
    rows = [fam(
        "coll",
        f"CASE WHEN st_iscollection({_MP}) THEN 10000 ELSE 0 END"
        f" + CASE WHEN NOT st_iscollection({_PT}) THEN 1000 ELSE 0 END"
        f" + CASE WHEN st_iscollection({_GCZ}) THEN 100 ELSE 0 END"
        f" + CASE WHEN st_iscollection({_TINM}) THEN 10 ELSE 0 END"
        f" + CASE WHEN st_iscollection('junk') IS NULL THEN 1 ELSE 0 END",
        _MP,
    )]
    # msz: exact ISO WKB sizes (POINT Z 29; 2-member MULTIPOINT 51;
    # LINESTRING 9 + 16·n with a key-varying n)
    npt = f"{_K} % 3 + 2"
    line_pts = (
        f"concat_ws(', ', transform(sequence(1, {npt}), "
        f"i -> concat(cast(cast(minx + i as bigint) as string), ' ', "
        f"cast(cast(miny as bigint) as string))))"
    )
    rows.append(
        fam(
            "msz",
            f"10000 * st_memsize('POINT Z (1 2 3)')"
            f" + 100 * st_memsize('MULTIPOINT ((1 2), (3 4))')"
            f" + st_memsize(concat('LINESTRING (', {line_pts}, ')'))",
            _PT,
        )
    )
    # lbe: the clip output is byte-identical text in both engines; a =
    # the z-window bounds read back off the clipped endpoints
    lbe = f"st_locatebetweenelevations({_LBE_LINE}, {_LO}, {_HI})"
    rows.append(
        fam(
            "lbe",
            f"CAST(st_zmin({lbe}) AS BIGINT) * 10 + CAST(st_zmax({lbe}) AS BIGINT)",
            lbe,
        )
    )
    # lll: longest line from the lone a-vertex to the far b-vertex;
    # a = 0 iff the returned line's endpoints echo the inputs exactly
    lll = f"st_3dlongestline({_A3}, {_B3})"
    rows.append(
        fam(
            "lll",
            f"CASE WHEN {lll} = {_LLL_OUT} THEN 0 ELSE 1 END",
            lll,
        )
    )
    return sql_union_rows(boxes, rows)
