"""Driver row for the measures family (functions/measures.py):
ST_IsSimple / ST_PointOnSurface / ST_HausdorffDistance /
ST_FrechetDistance / ST_Angle / ST_TriangulatePolygon — all PostGIS
names the reference forwards verbatim (F12, src/index.ts:44-63).

Oracle design over the integer nation boxes:

- ``simple`` / ``notsimple``: the box ring as a closed LINESTRING is
  simple; the bowtie vertex order crosses itself.
- ``pos_x`` / ``pos_y``: ST_PointOnSurface of the box is its center
  (the bisector's single interval is the full width).
- ``pos_holed_x``: with the 6×6 hole at +8..+14, the h=20 boxes'
  bisector (y = +10) is cut by the hole and the right interval
  (width w−14 ≥ 16) beats the left (8), so x = (minx+14+maxx)/2;
  the h=30 boxes' bisector (y = +15) clears the hole → center.
- ``haus``: bottom edge vs bottom edge shifted (+5, +7): both
  directional maxima are √(5²+7²) = √74 (a constant), the interior
  projections contribute only 7.
- ``haus_rev`` / ``frechet_rev``: a line vs its reverse — Hausdorff 0
  (same point set), discrete Fréchet w (order-sensitive coupling).
- ``angle``: from the bottom edge vector (azimuth π/2) to the left
  edge vector (azimuth 0), clockwise → 3π/2.
- ``tri_n`` / ``tri_area``: the L-shaped hexagon ear-clips into
  exactly 4 triangles whose areas sum to 10w + 15(h−10) exactly.
- ``tri_null``: holed polygons are a documented loud NULL.
- ``mclear_*`` (r13): ST_MinimumClearance(Line). The box's clearance
  is its short side; the right triangle's is the corner-to-hypotenuse
  altitude w·h/√(w²+h²) with a UNIQUE witness (every vertex-pair
  candidate strictly larger), whose endpoint the oracle re-derives
  from the same projection formula; the MULTIPOINT's nearest pair is
  √5; a single POINT has infinite clearance ('Infinity' as string,
  LINESTRING EMPTY witness — the PostGIS convention).

- ``lec_*`` (r14 continuation): ST_LargestEmptyCircle over the right
  triangle's corner obstacles — the unique optimum is the
  circumcenter (hypotenuse midpoint), r = √(w²+h²)/2; collinear
  obstacles (no areal hull) are the loud-NULL gate.
- ``mic_*`` (r14 continuation): ST_MaximumInscribedCircle — the right
  triangle's unique incircle (center (minx+r, miny+r),
  r = (w+h−√(w²+h²))/2) at MILLI precision (the B&B tolerance sits
  inside a micro for one box), the 20-square's exactly-found center as
  a string-equal family, and the non-areal loud-NULL gate.

Scale shape: map-only pandas UDFs over 25-row projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


def _pt(xe: str, ye: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)}"


def _micro(expr: str) -> str:
    return f"CAST(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT) AS STRING)"


def _milli(expr: str) -> str:
    # the MIC families' quantum: the search tolerance (~1e-9 absolute)
    # is far inside a milli, and every expected fraction sits ≥ 1e-4
    # from a rounding boundary (module comment at the mic_* families)
    return f"CAST(CAST(floor(({expr}) * 1000 + 0.5) AS BIGINT) AS STRING)"


_RING_LINE = sql_concat(
    "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "')'",
)
_BOWTIE_LINE = sql_concat(
    "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["tr"], "', '",
    CORNERS["br"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "')'",
)
_BOX = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
_HOLED = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "'), ('", _pt("minx + 8", "miny + 8"), "', '", _pt("minx + 14", "miny + 8"),
    "', '", _pt("minx + 14", "miny + 14"), "', '", _pt("minx + 8", "miny + 14"),
    "', '", _pt("minx + 8", "miny + 8"), "'))'",
)
_BOTTOM = sql_concat(
    "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "')'",
)
_BOTTOM_SHIFTED = sql_concat(
    "'LINESTRING ('", _pt("minx + 5", "miny + 7"), "', '",
    _pt("maxx + 5", "miny + 7"), "')'",
)
_BOTTOM_REV = sql_concat(
    "'LINESTRING ('", CORNERS["br"], "', '", CORNERS["bl"], "')'",
)
_P = {
    "bl": sql_concat("'POINT ('", CORNERS["bl"], "')'"),
    "br": sql_concat("'POINT ('", CORNERS["br"], "')'"),
    "tl": sql_concat("'POINT ('", CORNERS["tl"], "')'"),
}
_LSHAPE = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    _pt("maxx", "miny + 10"), "', '", _pt("minx + 15", "miny + 10"),
    "', '", _pt("minx + 15", "maxy"), "', '", CORNERS["tl"], "', '",
    CORNERS["bl"], "'))'",
)

# Right triangle on the box legs (bl, br, tl): every vertex-pair
# candidate (w, h, hyp) strictly exceeds the right-angle corner's
# distance to the hypotenuse w·h/√(w²+h²), so the clearance value AND
# its witness line are unique (no tie-order in the oracle).
_TRI = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
# axis-aligned 20-square from the min corner: its inscribed-circle
# center is the bbox center — the B&B's level-0 cell center, found
# exactly (integer coordinates → exact WKT string)
_SQ20 = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", _pt("minx + 20", "miny"),
    "', '", _pt("minx + 20", "miny + 20"), "', '", _pt("minx", "miny + 20"),
    "', '", CORNERS["bl"], "'))'",
)
# the right triangle's corners as LEC obstacles, and a collinear set
_TRI_MPT = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tl"], "')'",
)
_COLLINEAR_MPT = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", _pt("minx + 5", "miny"),
    "', '", CORNERS["br"], "')'",
)
_NEAR_MPT = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", _pt("minx + 2", "miny + 1"), "')'",
)
# Geometric median fixtures (r13): the 4 corners' Weiszfeld iteration
# starts at the exact centroid = the box center, which is the fixed
# point bitwise (equal distances), so the result is EXACT; adding the
# center itself as a 5th member exercises the Ostresh on-an-input-point
# branch (the 4 unit vectors cancel exactly → resultant 0 ≤ 1).
_CORNERS_MPT = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "')'",
)
_CORNERS_CENTER_MPT = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '",
    "CAST((minx + maxx) / 2 AS STRING) || ' ' || CAST((miny + maxy) / 2 AS STRING)",
    "')'",
)

_SPH_L = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", _pt("minx + 3", "miny"),
    "', '", _pt("minx + 3", "miny + 1"), "', '", _pt("minx + 1", "miny + 1"),
    "', '", _pt("minx + 1", "miny + 3"), "', '", _pt("minx", "miny + 3"),
    "', '", CORNERS["bl"], "'))'",
)

_FAMILIES = {
    "simple": f"CAST(st_issimple({_RING_LINE}) AS STRING)",
    "notsimple": f"CAST(st_issimple({_BOWTIE_LINE}) AS STRING)",
    "pos_x": _micro(f"st_x(st_pointonsurface({_BOX}))"),
    "pos_y": _micro(f"st_y(st_pointonsurface({_BOX}))"),
    "pos_holed_x": _micro(f"st_x(st_pointonsurface({_HOLED}))"),
    "haus": _micro(f"st_hausdorffdistance({_BOTTOM}, {_BOTTOM_SHIFTED})"),
    "haus_rev": _micro(f"st_hausdorffdistance({_BOTTOM}, {_BOTTOM_REV})"),
    "frechet_rev": _micro(f"st_frechetdistance({_BOTTOM}, {_BOTTOM_REV})"),
    "angle": _micro(
        f"st_angle({_P['bl']}, {_P['br']}, {_P['bl']}, {_P['tl']})"
    ),
    "tri_n": f"CAST(st_numgeometries(st_triangulatepolygon({_LSHAPE})) AS STRING)",
    "tri_area": _micro(f"st_area(st_triangulatepolygon({_LSHAPE}))"),
    "tri_null": f"COALESCE(st_triangulatepolygon({_HOLED}), 'NULL(holed)')",
    # minimum clearance (r13)
    "mclear_box": _micro(f"st_minimumclearance({_BOX})"),
    "mclear_tri": _micro(f"st_minimumclearance({_TRI})"),
    "mclear_line_x": _micro(f"st_x(st_endpoint(st_minimumclearanceline({_TRI})))"),
    "mclear_line_y": _micro(f"st_y(st_endpoint(st_minimumclearanceline({_TRI})))"),
    "mclear_mpt": _micro(f"st_minimumclearance({_NEAR_MPT})"),
    "mclear_pt_inf": f"CAST(st_minimumclearance({_P['bl']}) AS STRING)",
    "mclear_line_empty": f"st_minimumclearanceline({_P['bl']})",
    # geometric median (r13)
    "gmed_x": _micro(f"st_x(st_geometricmedian({_CORNERS_MPT}))"),
    "gmed_y": _micro(f"st_y(st_geometricmedian({_CORNERS_MPT}))"),
    "gmed_on": (
        f"CAST(st_x(st_geometricmedian({_CORNERS_CENTER_MPT}))"
        " = (minx + maxx) / 2"
        f" AND st_y(st_geometricmedian({_CORNERS_CENTER_MPT}))"
        " = (miny + maxy) / 2 AS STRING)"
    ),
    "gmed_null": f"COALESCE(st_geometricmedian({_BOX}), 'NULL(areal)')",
    # maximum inscribed circle (r14 continuation, functions/inscribed.py):
    # the right triangle's incircle is UNIQUE — center (minx+r, miny+r),
    # r = (w + h − √(w²+h²))/2 — pinned at milli (the B&B converges to
    # ~1e-9 of the strict conical peak; micro would sit inside the
    # search tolerance for one box's radius fraction). The 20-square's
    # center is the level-0 cell center, found EXACTLY → string-equal
    # family. Non-areal input is a loud NULL; the box rectangle's
    # plateau answers the exact closed form since r15 (mic_rect
    # below — ADVICE r14).
    "mic_x": _milli(f"st_x(st_maximuminscribedcircle({_TRI}))"),
    "mic_y": _milli(f"st_y(st_maximuminscribedcircle({_TRI}))"),
    "mic_r": _milli(f"st_maximuminscribedradius({_TRI})"),
    "mic_sq": f"st_maximuminscribedcircle({_SQ20})",
    "mic_gate": (
        f"COALESCE(st_maximuminscribedcircle({_RING_LINE}), 'NULL(kind)')"
    ),
    # r15 (ADVICE r14): the box rectangle's medial-axis PLATEAU now
    # answers deterministically — center = bbox center (the exact
    # first probe; proven optimal to extent/1000 before returning),
    # r = min(w, h)/2 — instead of the old budget NULL
    "mic_rect": f"st_maximuminscribedcircle({_BOX})",
    "mic_rect_r": _milli(f"st_maximuminscribedradius({_BOX})"),
    # largest empty circle (r14 continuation): the right triangle's
    # corner obstacles put the unique optimum at the circumcenter (the
    # hypotenuse midpoint, on the hull boundary), r = hyp/2; collinear
    # obstacles have no areal hull — loud NULL
    "lec_x": _milli(f"st_x(st_largestemptycircle({_TRI_MPT}))"),
    "lec_y": _milli(f"st_y(st_largestemptycircle({_TRI_MPT}))"),
    "lec_r": _milli(f"st_largestemptyradius({_TRI_MPT})"),
    "lec_gate": (
        f"COALESCE(st_largestemptycircle({_COLLINEAR_MPT}), 'NULL(hull)')"
    ),
    # ST_SimplifyPolygonHull (r15, functions/polygon_hull.py): the
    # 3x1-legged L has ONE reflex corner — outer frac 0 deletes it
    # (= the convex hull), inner frac 0 shrinks to the deterministic
    # min-index triangle; frac 1 echoes byte-exactly
    "sph_outer": f"st_simplifypolygonhull({_SPH_L}, 0.0D, true)",
    "sph_inner": f"st_simplifypolygonhull({_SPH_L}, 0.0D, false)",
    "sph_echo": (
        f"CASE WHEN st_simplifypolygonhull({_SPH_L}, 1.0D, true) = {_SPH_L}"
        " THEN 'true' ELSE 'false' END"
    ),
    # ST_VoronoiLines (r15, functions/voronoi_lines.py): three collinear
    # sites 4 apart -> two vertical bisectors spanning the padded box
    # (pad = site extent = 8); single site -> MULTILINESTRING EMPTY
    "vlines": (
        "st_voronoilines('MULTIPOINT ((' || "
        f"{_pt('minx', 'miny')} || '), (' || {_pt('minx + 4', 'miny')} ||"
        f" '), (' || {_pt('minx + 8', 'miny')} || '))')"
    ),
    "vlines_single": f"st_voronoilines({_P['bl']})",
    # ST_MinkowskiSum (r15, functions/minkowski.py): box ⊕ origin
    # 3-square grows each extent by 3 (exact dissolve of the triangle
    # hulls); a POINT first argument is a rigid translation (byte-exact
    # ring echo); a segment ⊕ 2-square is the grown rectangle; non-
    # polygon second arguments and EMPTY inputs take the documented
    # gates
    "mks_area": (
        "CAST(CAST(st_area(st_minkowskisum("
        f"{_BOX}, 'POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))')) AS BIGINT)"
        " AS STRING)"
    ),
    "mks_translate": (
        f"st_minkowskisum('POINT (' || {_pt('minx', 'miny')} || ')',"
        " 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')"
    ),
    "mks_seg": (
        "CAST(CAST(st_area(st_minkowskisum("
        f"'LINESTRING (' || {_pt('minx', 'miny')} || ', ' ||"
        f" {_pt('maxx', 'miny')} || ')',"
        " 'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS BIGINT) AS STRING)"
    ),
    "mks_gate": (
        f"COALESCE(st_minkowskisum({_BOX}, {_RING_LINE}), 'NULL(arg)')"
        " || '/' || CASE WHEN st_minkowskisum('POINT EMPTY',"
        " 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') = 'POLYGON EMPTY'"
        " THEN 'empty' ELSE 'bad' END"
    ),
}

_W, _H = "(maxx - minx)", "(maxy - miny)"

_MKS_TRANSLATE_EXPECT = (
    f"'POLYGON ((' || {_pt('minx', 'miny')} || ', ' || "
    f"{_pt('minx + 1', 'miny')} || ', ' || "
    f"{_pt('minx + 1', 'miny + 1')} || ', ' || "
    f"{_pt('minx', 'miny + 1')} || ', ' || {_pt('minx', 'miny')} || '))'"
)

_ORACLE_VALS = {
    "simple": "'true'",
    "mks_area": f"CAST(CAST(({_W} + 3) * ({_H} + 3) AS BIGINT) AS VARCHAR)",
    "mks_translate": _MKS_TRANSLATE_EXPECT,
    "mks_seg": f"CAST(CAST(({_W} + 2) * 2 AS BIGINT) AS VARCHAR)",
    "mks_gate": "'NULL(arg)/empty'",
    "notsimple": "'false'",
    "pos_x": _micro(f"(minx + maxx) / 2.0"),
    "pos_y": _micro(f"(miny + maxy) / 2.0"),
    "pos_holed_x": (
        "CASE WHEN maxy - miny = 20.0 THEN "
        + _micro("(minx + 14.0 + maxx) / 2.0")
        + " ELSE "
        + _micro("(minx + maxx) / 2.0")
        + " END"
    ),
    "haus": _micro("sqrt(74.0)"),
    "haus_rev": "'0'",
    "frechet_rev": _micro(_W),
    "angle": _micro("3.0 * pi() / 2.0"),
    "tri_n": "'4'",
    "tri_area": _micro(f"10.0 * {_W} + 15.0 * ({_H} - 10.0)"),
    "tri_null": "'NULL(holed)'",
    # clearance of the box = its short side; of the right triangle =
    # the corner-to-hypotenuse altitude w·h/√(w²+h²) (strictly below
    # every vertex-pair candidate); witness endpoint = the projection
    # of bl onto the hypotenuse br→tl at t = w²/(w²+h²)
    "mclear_box": _micro(f"least({_W}, {_H})"),
    "mclear_tri": _micro(
        f"sqrt((minx - (maxx - ({_W} * {_W} / ({_W} * {_W} + {_H} * {_H})) * {_W}))"
        f" * (minx - (maxx - ({_W} * {_W} / ({_W} * {_W} + {_H} * {_H})) * {_W}))"
        f" + (miny - (miny + ({_W} * {_W} / ({_W} * {_W} + {_H} * {_H})) * {_H}))"
        f" * (miny - (miny + ({_W} * {_W} / ({_W} * {_W} + {_H} * {_H})) * {_H})))"
    ),
    "mclear_line_x": _micro(f"maxx - ({_W} * {_W} / ({_W} * {_W} + {_H} * {_H})) * {_W}"),
    "mclear_line_y": _micro(f"miny + ({_W} * {_W} / ({_W} * {_W} + {_H} * {_H})) * {_H}"),
    "mclear_mpt": _micro("sqrt(5.0)"),
    "mclear_pt_inf": "'Infinity'",
    "mclear_line_empty": "'LINESTRING EMPTY'",
    "gmed_x": _micro("(minx + maxx) / 2.0"),
    "gmed_y": _micro("(miny + maxy) / 2.0"),
    "gmed_on": "'true'",
    "gmed_null": "'NULL(areal)'",
    "mic_x": _milli(
        f"minx + ({_W} + {_H} - sqrt({_W} * {_W} + {_H} * {_H})) / 2"
    ),
    "mic_y": _milli(
        f"miny + ({_W} + {_H} - sqrt({_W} * {_W} + {_H} * {_H})) / 2"
    ),
    "mic_r": _milli(f"({_W} + {_H} - sqrt({_W} * {_W} + {_H} * {_H})) / 2"),
    "mic_sq": (
        "'POINT (' || " + f"{int_str('minx + 10')} || ' ' || {int_str('miny + 10')}"
        + " || ')'"
    ),
    "mic_gate": "'NULL(kind)'",
    # box center: cy is always integral (miny even, h ∈ {20, 30} with
    # even 2·miny + h), cx gains '.5' exactly when w = 45 (odd sum)
    "mic_rect": (
        "'POINT (' || CASE WHEN CAST(minx + maxx AS BIGINT) % 2 = 0"
        f" THEN {int_str('(minx + maxx) / 2')}"
        " ELSE CAST(CAST((minx + maxx) / 2.0 AS DOUBLE) AS STRING) END"
        f" || ' ' || {int_str('(miny + maxy) / 2')} || ')'"
    ),
    "mic_rect_r": _milli(f"least({_W}, {_H}) / 2"),
    "lec_x": _milli("(minx + maxx) / 2.0"),
    "lec_y": _milli("(miny + maxy) / 2.0"),
    "lec_r": _milli(f"sqrt({_W} * {_W} + {_H} * {_H}) / 2"),
    "lec_gate": "'NULL(hull)'",
    "sph_outer": sql_concat(
        "'POLYGON (('", CORNERS["bl"], "', '", _pt("minx + 3", "miny"),
        "', '", _pt("minx + 3", "miny + 1"), "', '", _pt("minx + 1", "miny + 3"),
        "', '", _pt("minx", "miny + 3"), "', '", CORNERS["bl"], "'))'",
    ),
    "sph_inner": sql_concat(
        "'POLYGON (('", CORNERS["bl"], "', '", _pt("minx + 1", "miny + 1"),
        "', '", _pt("minx", "miny + 3"), "', '", CORNERS["bl"], "'))'",
    ),
    "sph_echo": "'true'",
    "vlines": sql_concat(
        "'MULTILINESTRING (('", _pt("minx + 2", "miny - 8"), "', '",
        _pt("minx + 2", "miny + 8"), "'), ('", _pt("minx + 6", "miny - 8"),
        "', '", _pt("minx + 6", "miny + 8"), "'))'",
    ),
    "vlines_single": "'MULTILINESTRING EMPTY'",
}

_Q158_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q158_st_measures", oracle=_Q158_ORACLE)
def q158_st_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 measures family: OGC simplicity, GEOS interior points,
    discrete Hausdorff/Fréchet distances, the clockwise four-point
    angle, ear-clip triangulation, and minimum clearance with its
    witness line (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
