"""ST_Relate — the full DE-9IM intersection matrix — and ST_RelateMatch.

The reference forwards ST_Relate to PostGIS (reference src/index.ts:44-63,
the F12 "whatever PostGIS accepts" surface); the five boolean predicates
landed in ``relations.py`` (q122), but the matrix STRING itself — the
primitive users reach for when the named predicates don't fit — was the
top missing item of VERDICT r8/r9. This module assembles the 9 cells
from the same exact-arithmetic primitives the predicates use.

DE-9IM: for A and B, the matrix cell (r, c) is the topological DIMENSION
(F, 0, 1, 2) of the intersection of A's r-component with B's c-component,
components ordered Interior, Boundary, Exterior; the string is row-major
``II IB IE BI BB BE EI EB EE``. OGC component definitions:

- Point: interior = the point(s); boundary = empty.
- Line:  boundary = mod-2 endpoints (``relations._line_boundary``);
  interior = the rest. A closed ring has no boundary.
- Polygon: boundary = all rings; interior = open face(s).

Cell derivations (each is exact for the supported class, because open
sets force dimensions — e.g. if a line's interior meets a polygon's open
interior at all, a neighborhood arc is inside, so the cell is 1, never
0; isolated contacts can only happen against boundaries):

- symmetric reductions: ``BI(a,b) = IB(b,a)``, ``EI(a,b) = IE(b,a)``,
  ``EB(a,b) = BE(b,a)``, ``EE = 2`` always.
- coverage-style cells (I/B vs Exterior) reduce to the exact covered-by
  tests (``geometry.within`` for areal containers, ``_covered_line``
  for 1-D), because a closed cover of a set's interior covers its
  closure too.
- boundary-vs-line cells split at all contacts (``_submidpoints``) so a
  midpoint classifies each uniform sub-segment — the same tangency
  machinery ``within``/``crosses`` use.

Inputs outside the exact class — GEOMETRYCOLLECTION operands (GEOS
``relate`` throws ``IllegalArgumentException`` for them), non-finite
coordinates, or INVALID areal operands (self-intersecting rings, etc.,
for which GEOS results are undefined) — return NULL, never a guess.
Validity is decided by ``validity.invalid_reason``.

ST_RelateMatch(matrix, pattern): cell-wise test — 'T' ≡ dimension ≥ 0,
'F' ≡ F, '0'/'1'/'2' exact, '*' any. NULL for malformed inputs.

Scale shape: both UDFs are map-only Arrow-batched pandas UDFs — no
shuffle, no driver participation.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry, Point
from .relations import (
    _collinear_overlap_exists,
    _ringlines,
    _covered_line,
    _line_boundary,
    _line_line_interiors,
    _on_any_segment,
    _outside_closure,
    _strictly_inside,
    _submidpoints,
    interiors_intersect,
)

_F = -1  # "no intersection" dimension


def _pointset(g: Geometry) -> set[Point]:
    return set(G._points(g))


def _dim_II(a: Geometry, b: Geometry) -> int:
    da, db = G.dimension(a), G.dimension(b)
    if da > db:
        a, b, da, db = b, a, db, da
    if db == 0:
        return 0 if _pointset(a) & _pointset(b) else _F
    if da == 0:
        pts = G._points(a)
        if db == 1:
            segs = list(G._segments(b))
            bnd = _line_boundary(b)
            return (
                0
                if any(_on_any_segment(p, segs) and p not in bnd for p in pts)
                else _F
            )
        return 0 if any(_strictly_inside(p, b) for p in pts) else _F
    if da == 1 and db == 1:
        if _collinear_overlap_exists(a, b):
            return 1
        return 0 if _line_line_interiors(a, b) else _F
    if da == 1:  # line interior through an open face: 1-D or nothing
        return 1 if interiors_intersect(a, b) else _F
    return 2 if interiors_intersect(a, b) else _F


def _dim_IB(a: Geometry, b: Geometry) -> int:
    """dim(I(a) ∩ B(b))."""
    da, db = G.dimension(a), G.dimension(b)
    if db == 0:
        return _F  # points have no boundary
    if db == 1:
        bpts = _line_boundary(b)
        if not bpts:
            return _F  # closed lines have no boundary
        if da == 0:
            return 0 if _pointset(a) & bpts else _F
        if da == 1:
            segs = list(G._segments(a))
            bnd_a = _line_boundary(a)
            return (
                0
                if any(_on_any_segment(p, segs) and p not in bnd_a for p in bpts)
                else _F
            )
        return 0 if any(_strictly_inside(p, a) for p in bpts) else _F
    rings = _ringlines(b)
    if da == 0:
        segs = list(G._segments(rings))
        return 0 if any(_on_any_segment(p, segs) for p in G._points(a)) else _F
    if da == 1:
        if _collinear_overlap_exists(a, rings):
            return 1
        return 0 if _line_line_interiors(a, rings) else _F
    segs_a = list(G._segments(a))
    return (
        1
        if any(_strictly_inside(m, a, segs_a) for m in _submidpoints(rings, segs_a))
        else _F
    )


def _dim_IE(a: Geometry, b: Geometry) -> int:
    """dim(I(a) ∩ E(b)) — a coverage test: closed covers of interiors
    cover closures, so 'interior escapes b' ⟺ 'a not covered by b'."""
    da, db = G.dimension(a), G.dimension(b)
    if da == 0:
        pts = G._points(a)
        if db == 0:
            bp = _pointset(b)
            return 0 if any(p not in bp for p in pts) else _F
        if db == 1:
            segs = list(G._segments(b))
            return 0 if any(not _on_any_segment(p, segs) for p in pts) else _F
        return 0 if any(_outside_closure(p, b) for p in pts) else _F
    if da == 1:
        if db == 0:
            return 1  # finite points cannot cover a curve
        if db == 1:
            return _F if _covered_line(a, b) else 1
        return _F if G.within(a, b) else 1
    if db < 2:
        return 2  # measure-zero sets cannot cover an open face
    return _F if G.within(a, b) else 2


def _dim_BB(a: Geometry, b: Geometry) -> int:
    da, db = G.dimension(a), G.dimension(b)
    if da == 0 or db == 0:
        return _F
    if da == 2 and db == 1:
        return _dim_BB(b, a)
    if da == 1:
        ba = _line_boundary(a)
        if not ba:
            return _F
        if db == 1:
            return 0 if ba & _line_boundary(b) else _F
        segs = list(G._segments(_ringlines(b)))
        return 0 if any(_on_any_segment(p, segs) for p in ba) else _F
    ra, rb = _ringlines(a), _ringlines(b)
    if _collinear_overlap_exists(ra, rb):
        return 1
    return 0 if G.intersects(ra, rb) else _F


def _dim_BE(a: Geometry, b: Geometry) -> int:
    """dim(B(a) ∩ E(b))."""
    da, db = G.dimension(a), G.dimension(b)
    if da == 0:
        return _F
    if da == 1:
        ba = _line_boundary(a)
        if not ba:
            return _F
        if db == 0:
            bp = _pointset(b)
            return 0 if any(p not in bp for p in ba) else _F
        if db == 1:
            segs = list(G._segments(b))
            return 0 if any(not _on_any_segment(p, segs) for p in ba) else _F
        return 0 if any(_outside_closure(p, b) for p in ba) else _F
    ra = _ringlines(a)
    if db == 0:
        return 1  # finite points cannot cover rings
    if db == 1:
        return _F if _covered_line(ra, b) else 1
    segs_b = list(G._segments(b))
    return (
        1
        if any(_outside_closure(m, b) for m in _submidpoints(ra, segs_b))
        else _F
    )


def _dim_char(d: int) -> str:
    return "F" if d < 0 else str(d)


def _boundary_dim(g: Geometry) -> int:
    d = G.dimension(g)
    if d == 2:
        return 1
    if d == 1:
        return 0 if _line_boundary(g) else _F
    return _F


def _check_operand(g: Geometry) -> None:
    """Gate to the exact class: no GEOMETRYCOLLECTION (GEOS relate
    refuses them), finite coordinates, valid areal operands."""
    if g.kind == "GeometryCollection":
        raise _ov._Unsupported("GEOMETRYCOLLECTION operand")
    if not all(
        math.isfinite(x) and math.isfinite(y) for x, y in G._points(g)
    ):
        raise _ov._Unsupported("non-finite coordinate")
    if G.dimension(g) == 2:
        from .validity import invalid_reason

        if invalid_reason(g) is not None:
            raise _ov._Unsupported("invalid areal operand")


def relate_matrix(a: Geometry, b: Geometry) -> str:
    """The 9-character DE-9IM matrix for two parsed geometries.

    Operands are normalized with ``geometry.dedup_vertices`` first: the
    point set (hence every matrix cell) is unchanged, but downstream
    kernels never see zero-length segments — GEOS nodes them away, and a
    degenerate sub-segment's midpoint would otherwise sit exactly on a
    vertex and misclassify boundary cells (VERDICT r10 item 1)."""
    a, b = G.dedup_vertices(a), G.dedup_vertices(b)
    _check_operand(a)
    _check_operand(b)
    cells = (
        _dim_II(a, b),
        _dim_IB(a, b),
        _dim_IE(a, b),
        _dim_IB(b, a),  # BI(a,b) = I(b) ∩ B(a), same set as IB(b,a)
        _dim_BB(a, b),
        _dim_BE(a, b),
        _dim_IE(b, a),  # EI(a,b) = I(b) ∩ E(a)
        _dim_BE(b, a),  # EB(a,b) = B(b) ∩ E(a)
        2,
    )
    return "".join(_dim_char(d) for d in cells)


def relate_wkt(wa, wb) -> str | None:
    """WKT surface. Typed-EMPTY operands follow GEOS: an empty side's
    interior/boundary rows are all F; the non-empty side's components
    land in the empty side's exterior column/row."""
    if wa is None or wb is None:
        return None
    sa, sb = str(wa).strip(), str(wb).strip()
    ea = bool(_ov._EMPTY_RE.match(sa.upper()))
    eb = bool(_ov._EMPTY_RE.match(sb.upper()))
    # GEOS RelateOp rejects GEOMETRYCOLLECTION operands by TYPE, empty
    # or not (JTS checkNotGeometryCollection) — the empty shortcut must
    # not bypass that gate (code-review r10).
    if (ea and sa.upper().startswith("GEOMETRYCOLLECTION")) or (
        eb and sb.upper().startswith("GEOMETRYCOLLECTION")
    ):
        return None
    if ea and eb:
        return "FFFFFFFF2"
    try:
        if ea:
            gb = G.parse_wkt(sb)
            if gb is None:
                return None
            _check_operand(gb)
            return "FFFFFF" + _dim_char(G.dimension(gb)) + _dim_char(_boundary_dim(gb)) + "2"
        if eb:
            ga = G.parse_wkt(sa)
            if ga is None:
                return None
            _check_operand(ga)
            return (
                "FF" + _dim_char(G.dimension(ga))
                + "FF" + _dim_char(_boundary_dim(ga))
                + "FF2"
            )
        ga, gb = G.parse_wkt(sa), G.parse_wkt(sb)
        if ga is None or gb is None:
            return None
        return relate_matrix(ga, gb)
    except _ov._Unsupported:
        return None


def relate_match(matrix, pattern) -> bool | None:
    """ST_RelateMatch: does a DE-9IM matrix satisfy an intersection
    pattern ('T' = any of 012, 'F', '*', or an exact digit)."""
    if matrix is None or pattern is None:
        return None
    m, p = str(matrix).strip().upper(), str(pattern).strip().upper()
    if len(m) != 9 or len(p) != 9 or any(c not in "F012" for c in m):
        return None
    if any(c not in "TF*012" for c in p):
        return None
    for mc, pc in zip(m, p):
        if pc == "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif mc != pc:
            return False
    return True


# ---------------------------------------------------------------------------
# vectorized SQL surface
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def st_relate(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for wa, wb in zip(a, b):
        try:
            out.append(relate_wkt(wa, wb))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(BooleanType())
def st_relatematch(m: pd.Series, p: pd.Series) -> pd.Series:
    out = []
    for vm, vp in zip(m, p):
        try:
            out.append(relate_match(vm, vp))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="boolean")


ALL_RELATE_FUNCTIONS = {
    "st_relate": st_relate,
    "st_relatematch": st_relatematch,
}
