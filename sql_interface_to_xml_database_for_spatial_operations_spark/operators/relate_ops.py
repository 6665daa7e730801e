"""Driver row for ST_Relate / ST_RelateMatch / ST_IsValid /
ST_IsValidReason (functions/relate.py, functions/validity.py) —
reference F12 (src/index.ts:44-63 forwards both to PostGIS); the top
missing surface of VERDICT r8/r9.

Oracle design: nation boxes are integer axis-aligned rectangles, so
each family below is the SAME topology for every box — the expected
DE-9IM matrix / validity reason is a per-family string literal, while
the Spark side computes it from string-built WKT over the real
kernels. The relate families cover every matrix-cell mechanism:

- ``eq``        box vs itself                  → 2FFF1FFF2
- ``disjoint``  box vs box shifted +1000       → FF2FF1212
- ``touch``     box vs box sharing right edge  → FF2F11212
- ``overlap``   box vs box shifted (+15, +10)  → 212101212
  (every box is ≥30×≥20, so the shift always leaves a 2-D overlap)
- ``contains``  box vs its 6×6 inner square    → 212FF1FF2
- ``cross``     horizontal line through the box (endpoints outside)
  vs box                                       → 101FF0212
- ``point_bd``  bottom-left corner vs box      → F0FFFF212
- ``match``     ST_RelateMatch(relate(inner, box), within-pattern)

Validity families exercise each IsValidOp rule: valid shell / bowtie
self-intersection / hole outside shell / nested holes / the
touch-cycle disconnected interior (a diamond hole touching the left
and right shell edges) / nested MultiPolygon shells, plus the
boolean surface on the bowtie.

Scale shape: map-only pandas UDFs over 25-row projections; unionByName
of per-family projections of one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


def _pt(xe: str, ye: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)}"


_BOX = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)


def _shifted_box(dx: str) -> str:
    c = {
        "bl": _pt(f"minx + {dx}", "miny"),
        "br": _pt(f"maxx + {dx}", "miny"),
        "tr": _pt(f"maxx + {dx}", "maxy"),
        "tl": _pt(f"minx + {dx}", "maxy"),
    }
    return sql_concat(
        "'POLYGON (('", c["bl"], "', '", c["br"], "', '",
        c["tr"], "', '", c["tl"], "', '", c["bl"], "'))'",
    )


_TOUCH_BOX = _shifted_box("(maxx - minx)")
_FAR_BOX = _shifted_box("1000")
_OVERLAP_BOX = sql_concat(
    "'POLYGON (('", _pt("minx + 15", "miny + 10"), "', '",
    _pt("maxx + 15", "miny + 10"), "', '", _pt("maxx + 15", "maxy + 10"),
    "', '", _pt("minx + 15", "maxy + 10"), "', '",
    _pt("minx + 15", "miny + 10"), "'))'",
)
_INNER = sql_concat(
    "'POLYGON (('", _pt("minx + 8", "miny + 8"), "', '",
    _pt("minx + 14", "miny + 8"), "', '", _pt("minx + 14", "miny + 14"),
    "', '", _pt("minx + 8", "miny + 14"), "', '",
    _pt("minx + 8", "miny + 8"), "'))'",
)
_CROSS_LINE = sql_concat(
    "'LINESTRING ('", _pt("minx - 5", "miny + 10"), "', '",
    _pt("maxx + 5", "miny + 10"), "')'",
)
_BL_POINT = sql_concat("'POINT ('", CORNERS["bl"], "')'")

_BOWTIE = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["tr"], "', '",
    CORNERS["br"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
_HOLE_RING_678 = sql_concat(  # the 6x6 inner ring reused as a hole ring
    _pt("minx + 8", "miny + 8"), "', '", _pt("minx + 14", "miny + 8"),
    "', '", _pt("minx + 14", "miny + 14"), "', '",
    _pt("minx + 8", "miny + 14"), "', '", _pt("minx + 8", "miny + 8"),
)
_SMALL_SHELL = sql_concat(  # 6x6 shell at the bl corner
    _pt("minx", "miny"), "', '", _pt("minx + 6", "miny"), "', '",
    _pt("minx + 6", "miny + 6"), "', '", _pt("minx", "miny + 6"),
    "', '", _pt("minx", "miny"),
)
_HOLE_OUT = sql_concat("'POLYGON (('", _SMALL_SHELL, "'), ('", _HOLE_RING_678, "'))'")
_NESTED_INNER = sql_concat(
    _pt("minx + 10", "miny + 10"), "', '", _pt("minx + 12", "miny + 10"),
    "', '", _pt("minx + 12", "miny + 12"), "', '",
    _pt("minx + 10", "miny + 12"), "', '", _pt("minx + 10", "miny + 10"),
)
_NESTED_HOLES = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "'), ('", _HOLE_RING_678, "'), ('", _NESTED_INNER, "'))'",
)
_DIAMOND_HOLE = sql_concat(  # touches the shell's left AND right edges
    _pt("minx", "miny + 10"), "', '", _pt("minx + 15", "miny + 1"),
    "', '", _pt("maxx", "miny + 10"), "', '", _pt("minx + 15", "maxy - 1"),
    "', '", _pt("minx", "miny + 10"),
)
_DISCONN = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "'), ('", _DIAMOND_HOLE, "'))'",
)
_DUP_BOX = sql_concat(  # the box with its br corner repeated — VALID in
    # GEOS (IsValidOp ignores repeated points; VERDICT r10 item 1) and
    # the same point set as _BOX, so relate must give _BOX's matrices
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["br"], "', '", CORNERS["tr"], "', '", CORNERS["tl"],
    "', '", CORNERS["bl"], "'))'",
)
_NESTED_SHELLS = sql_concat(
    "'MULTIPOLYGON ((('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "')), (('", _HOLE_RING_678, "')))'",
)

_FAMILIES = {
    "eq": f"st_relate({_BOX}, {_BOX})",
    "disjoint": f"st_relate({_BOX}, {_FAR_BOX})",
    "touch": f"st_relate({_BOX}, {_TOUCH_BOX})",
    "overlap": f"st_relate({_BOX}, {_OVERLAP_BOX})",
    "contains": f"st_relate({_BOX}, {_INNER})",
    "cross": f"st_relate({_CROSS_LINE}, {_BOX})",
    "point_bd": f"st_relate({_BL_POINT}, {_BOX})",
    "match": f"CAST(st_relatematch(st_relate({_INNER}, {_BOX}), 'T*F**F***') AS STRING)",
    "valid": f"st_isvalidreason({_BOX})",
    "bowtie": f"st_isvalidreason({_BOWTIE})",
    "hole_out": f"st_isvalidreason({_HOLE_OUT})",
    "nested": f"st_isvalidreason({_NESTED_HOLES})",
    "disconn": f"st_isvalidreason({_DISCONN})",
    "nested_shells": f"st_isvalidreason({_NESTED_SHELLS})",
    "isvalid_bool": f"CAST(st_isvalid({_BOWTIE}) AS STRING)",
    "dup_valid": f"st_isvalidreason({_DUP_BOX})",
    "dup_relate": f"st_relate({_DUP_BOX}, {_INNER})",
    # ST_IsValidDetail (r16): reason + witness location in PostGIS's
    # bracketed print format — the unit-square bowtie's crossing is
    # exactly (2, 2); valid input echoes 'Valid Geometry'; junk NULLs
    "ivd": (
        "st_isvaliddetail('POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))')"
        f" || '|' || st_isvaliddetail({_BOX})"
        " || '|' || COALESCE(st_isvaliddetail('junk(('), 'N')"
    ),
}

_EXPECTED = {
    "eq": "2FFF1FFF2",
    "disjoint": "FF2FF1212",
    "touch": "FF2F11212",
    "overlap": "212101212",
    "contains": "212FF1FF2",
    "cross": "101FF0212",
    "point_bd": "F0FFFF212",
    "match": "true",
    "valid": "Valid Geometry",
    "bowtie": "Self-intersection",
    "hole_out": "Hole lies outside shell",
    "nested": "Holes are nested",
    "disconn": "Interior is disconnected",
    "nested_shells": "Nested shells",
    "isvalid_bool": "false",
    "dup_valid": "Valid Geometry",
    "dup_relate": "212FF1FF2",
    "ivd": "Self-intersection[2 2]|Valid Geometry|N",
}

_Q156_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, '{exp}' AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, exp in _EXPECTED.items()
)


@query("q156_st_relate_isvalid", oracle=_Q156_ORACLE)
def q156_st_relate_isvalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 ST_Relate (full DE-9IM matrix), ST_RelateMatch, ST_IsValid and
    ST_IsValidReason over per-box fixture topologies with literal
    expected strings (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)


# ---------------------------------------------------------------------------
# q157: ST_MakeValid (rectilinear class, GEOS 'structure' semantics)
# ---------------------------------------------------------------------------

def _micro(expr: str) -> str:
    return f"CAST(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT) AS STRING)"


# pinched two-squares ring (revisits the shared corner)
_PINCH = sql_concat(
    "'POLYGON (('", _pt("minx", "miny"), "', '", _pt("minx + 10", "miny"),
    "', '", _pt("minx + 10", "miny + 10"), "', '", _pt("minx + 20", "miny + 10"),
    "', '", _pt("minx + 20", "miny + 20"), "', '", _pt("minx + 10", "miny + 20"),
    "', '", _pt("minx + 10", "miny + 10"), "', '", _pt("minx", "miny + 10"),
    "', '", _pt("minx", "miny"), "'))'",
)
# rectilinear ring whose edges cross properly at (minx+10, miny+10)
_CROSSING = sql_concat(
    "'POLYGON (('", _pt("minx", "miny"), "', '", _pt("minx + 10", "miny"),
    "', '", _pt("minx + 10", "miny + 20"), "', '", _pt("minx + 20", "miny + 20"),
    "', '", _pt("minx + 20", "miny + 10"), "', '", _pt("minx", "miny + 10"),
    "', '", _pt("minx", "miny"), "'))'",
)
_HOLE_OUT_2 = sql_concat(  # 6x6 shell at bl + 2x2 hole outside it
    "'POLYGON (('", _SMALL_SHELL, "'), ('",
    _pt("minx + 8", "miny + 8"), "', '", _pt("minx + 10", "miny + 8"),
    "', '", _pt("minx + 10", "miny + 10"), "', '", _pt("minx + 8", "miny + 10"),
    "', '", _pt("minx + 8", "miny + 8"), "'))'",
)
_OVERLAP_MP = sql_concat(  # two 10x10 parts overlapping in a 5x5 square
    "'MULTIPOLYGON ((('",
    _pt("minx", "miny"), "', '", _pt("minx + 10", "miny"), "', '",
    _pt("minx + 10", "miny + 10"), "', '", _pt("minx", "miny + 10"), "', '",
    _pt("minx", "miny"), "')), (('",
    _pt("minx + 5", "miny + 5"), "', '", _pt("minx + 15", "miny + 5"), "', '",
    _pt("minx + 15", "miny + 15"), "', '", _pt("minx + 5", "miny + 15"), "', '",
    _pt("minx + 5", "miny + 5"), "')))'",
)
_STRIP_HOLE = sql_concat(  # full-width strip hole: interior disconnected
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "'), ('", _pt("minx", "miny + 8"), "', '", _pt("maxx", "miny + 8"),
    "', '", _pt("maxx", "miny + 12"), "', '", _pt("minx", "miny + 12"),
    "', '", _pt("minx", "miny + 8"), "'))'",
)
_DIAG_BOWTIE = sql_concat(
    "'POLYGON (('", _pt("minx", "miny"), "', '", _pt("minx + 2", "miny + 2"),
    "', '", _pt("minx + 2", "miny"), "', '", _pt("minx", "miny + 2"),
    "', '", _pt("minx", "miny"), "'))'",
)
_CROSSING_HOLE = sql_concat(  # shell with a diagonal hole CROSSING it:
    # rings properly cross with diagonal edges — outside both exact
    # classes, documented loud NULL
    "'POLYGON (('", _pt("minx", "miny"), "', '", _pt("minx + 8", "miny"),
    "', '", _pt("minx + 8", "miny + 8"), "', '", _pt("minx", "miny + 8"),
    "', '", _pt("minx", "miny"), "'), ('",
    _pt("minx + 6", "miny + 2"), "', '", _pt("minx + 12", "miny + 4"),
    "', '", _pt("minx + 6", "miny + 6"), "', '", _pt("minx + 6", "miny + 2"),
    "'))'",
)

_MV_AREA = "st_area(st_makevalid({}))"
_Q157_FAMILIES = {
    "pinch": _micro(_MV_AREA.format(_PINCH)),
    "crossing": _micro(_MV_AREA.format(_CROSSING)),
    "hole_out": _micro(_MV_AREA.format(_HOLE_OUT_2)),
    "overlap_mp": _micro(_MV_AREA.format(_OVERLAP_MP)),
    "strip": _micro(_MV_AREA.format(_STRIP_HOLE)),
    "island": _micro(_MV_AREA.format(_NESTED_HOLES)),
    "echo": f"st_makevalid({_BOX})",
    "dup_echo": f"st_makevalid({_DUP_BOX})",
    "diag": _micro(_MV_AREA.format(_DIAG_BOWTIE)),
    "diag_mp": f"st_geometrytype(st_makevalid({_DIAG_BOWTIE}))",
    "outside": f"COALESCE(st_makevalid({_CROSSING_HOLE}), 'NULL(outside-class)')",
    "now_valid": f"CAST(st_isvalid(st_makevalid({_PINCH})) AS STRING)",
    "diag_valid": f"CAST(st_isvalid(st_makevalid({_DIAG_BOWTIE})) AS STRING)",
}
_Q157_ORACLE_VALS = {
    "pinch": "'200000000'",
    "crossing": "'200000000'",
    # LINEWORK (r11, PostGIS one-arg default — ADVICE r10 #3): the
    # stray ring outside the shell becomes a second shell (36 + 4),
    # where the old 'structure' semantics subtracted it as a no-op (36)
    "hole_out": "'40000000'",
    "overlap_mp": "'175000000'",
    "strip": _micro("(maxx - minx) * (maxy - miny) - 4.0 * (maxx - minx)"),
    # nesting-depth parity: hole (6x6) subtracts, the ring nested
    # inside it (2x2) comes back as an ISLAND
    "island": _micro("(maxx - minx) * (maxy - miny) - 36.0 + 4.0"),
    "echo": _BOX,  # oracle builds the identical WKT string
    "dup_echo": _DUP_BOX,  # valid after r11 dedup-normalization → echo
    "diag": "'2000000'",  # the bowtie's two unit triangles (r10 item 3)
    "diag_mp": "'ST_MultiPolygon'",
    "outside": "'NULL(outside-class)'",
    "now_valid": "'true'",
    "diag_valid": "'true'",
}

_Q157_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _Q157_ORACLE_VALS.items()
)


@query("q157_st_makevalid", oracle=_Q157_ORACLE)
def q157_st_makevalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 ST_MakeValid with PostGIS LINEWORK semantics (the one-arg
    default; functions/validity.py makevalid_geom): all-ring parity
    cells for rectilinear parts, exact-rational noding + loop
    extraction for diagonal self-intersections, parts union. Families:
    pinched ring, properly-crossing ring, hole-outside-shell second
    shell, overlapping MultiPolygon parts, the interior-disconnecting
    strip hole, the nested-ring island (areas pinned to exact closed
    forms as micro-ints), valid/dup-vertex echoes, the diagonal
    bowtie's two triangles (VERDICT r10 item 3), the crossing-hole
    documented loud NULL, and st_isvalid over rebuilt results."""
    return family_rows(nation_boxes(spark, sf_dir), _Q157_FAMILIES)
