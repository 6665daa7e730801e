"""ST_IsValid / ST_IsValidReason — OGC validity for the WKT geometry
model (reference F12: src/index.ts:44-63 forwards both to PostGIS;
users validate every messy GML ingest with them — VERDICT r8/r9's top
missing surface).

OGC validity rules implemented for areal geometries (points and lines
are always valid, as in PostGIS, except non-finite coordinates):

1. every ring has ≥ 4 points and is closed        → "Too few points in geometry component"
2. every ring is simple (exact Fraction test,
   ``overlay._is_simple_ring``)                   → "Self-intersection"
   …and STRICTLY simple: no revisited vertex
   (figure-8 pinch) and no fold-back spike —
   contacts _is_simple_ring permits for the
   rectilinear dissolve but OGC rings forbid      → "Ring Self-intersection"
3. no two rings of a polygon cross or share a
   1-D stretch (isolated point contacts are ok)   → "Self-intersection"
4. every hole lies inside its shell               → "Hole lies outside shell"
5. no hole lies inside another hole               → "Holes are nested"
6. ring touch points must not form a cycle: build
   the multigraph (rings = vertices, one edge per
   distinct touch point between a ring pair); any
   cycle disconnects the interior                 → "Interior is disconnected"
7. MultiPolygon parts: no shell inside another
   shell (a part inside another part's HOLE is
   valid)                                          → "Nested shells"
8. MultiPolygon part interiors must not intersect
   and part boundaries must not share a 1-D
   stretch (finite point contacts are ok)          → "Self-intersection"
9. non-finite coordinates (any kind)               → "Invalid Coordinate"

Reason strings follow GEOS's IsValidOp vocabulary. The touch-graph
cycle rule (6) is GEOS's connected-interior test specialized to
straight-segment rings: two rings can only meet at vertices of one on
the other (a non-vertex interior-interior contact of straight segments
is either a proper crossing — rule 3 — or a collinear stretch — also
rule 3), so the touch points enumerate exactly; a cycle in the contact
multigraph walls off a region of the interior.

GEOMETRYCOLLECTION validity = validity of every member (PostGIS
behavior).

Scale shape: map-only Arrow-batched pandas UDFs; per-row cost is
quadratic in the row's own ring/segment counts, a property of the row,
not the table.
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
    _on_any_segment,
    _ringlines,
    interiors_intersect,
)

VALID = "Valid Geometry"


def _rings_cross(ra: list[Point], rb: list[Point]) -> bool:
    for i in range(len(ra) - 1):
        a1, a2 = ra[i], ra[i + 1]
        for j in range(len(rb) - 1):
            if G._segs_cross_properly(a1, a2, rb[j], rb[j + 1]):
                return True
    return False


def _touch_points(ra: list[Point], rb: list[Point]) -> set[Point]:
    """Distinct contact points between two non-crossing, non-overlapping
    rings — always vertices of at least one ring (module docstring)."""
    segs_a = [(ra[i], ra[i + 1]) for i in range(len(ra) - 1)]
    segs_b = [(rb[i], rb[i + 1]) for i in range(len(rb) - 1)]
    out: set[Point] = set()
    for v in ra[:-1]:
        if _on_any_segment(v, segs_b):
            out.add(v)
    for v in rb[:-1]:
        if _on_any_segment(v, segs_a):
            out.add(v)
    return out


def _polygon_invalid_reason(rings: list[list[Point]]) -> str | None:
    for r in rings:
        if len(r) < 4 or r[0] != r[-1]:
            return "Too few points in geometry component"
    try:
        frac = [_ov._frac_ring(r) for r in rings]
    except (ValueError, OverflowError):
        return "Invalid Coordinate"
    for f in frac:
        if not _ov._is_simple_ring(f):
            return "Self-intersection"
        # _is_simple_ring was written for the rectilinear dissolve and
        # deliberately PERMITS single shared-vertex pinches and skips
        # adjacent edges, but OGC rings must be strictly simple: a ring
        # revisiting a vertex (figure-8 pinch) or folding back along
        # its own edge (spike) is GEOS "Ring Self-intersection"
        # (code-review r10).
        pts = f[:-1]
        if len(set(pts)) != len(pts):
            return "Ring Self-intersection"
        n = len(pts)
        for k in range(n):
            prev, v, nxt = pts[k - 1], pts[k], pts[(k + 1) % n]
            if G._orient(prev, v, nxt) == 0 and (
                (prev[0] - v[0]) * (nxt[0] - v[0])
                + (prev[1] - v[1]) * (nxt[1] - v[1])
            ) > 0:
                return "Ring Self-intersection"  # fold-back spike
    ringlines = [Geometry("LineString", list(r)) for r in rings]
    for i in range(len(rings)):
        for j in range(i + 1, len(rings)):
            if _rings_cross(rings[i], rings[j]):
                return "Self-intersection"
            if _collinear_overlap_exists(ringlines[i], ringlines[j]):
                return "Self-intersection"
    shell = Geometry("Polygon", [rings[0]])
    holes = [Geometry("Polygon", [h]) for h in rings[1:]]
    for h in holes:
        if not G.within(h, shell):
            return "Hole lies outside shell"
    for i in range(len(holes)):
        for j in range(len(holes)):
            if i != j and G.within(holes[i], holes[j]):
                return "Holes are nested"
    # connected-interior: one edge per distinct touch point; any cycle
    # in the ring-contact multigraph disconnects the interior
    parent = list(range(len(rings)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(rings)):
        for j in range(i + 1, len(rings)):
            for _p in _touch_points(rings[i], rings[j]):
                ri, rj = find(i), find(j)
                if ri == rj:
                    return "Interior is disconnected"
                parent[ri] = rj
    return None


def invalid_reason(g: Geometry) -> str | None:
    """None for a valid geometry, else the GEOS-style reason string.

    Repeated consecutive vertices are normalized away first (GEOS
    IsValidOp analyzes removeRepeatedPoints output — a zero-length edge
    is not a self-intersection, and the ≥4-points rule counts distinct
    consecutive points; VERDICT r10 item 1)."""
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in G._points(g)):
        return "Invalid Coordinate"
    if g.kind != "GeometryCollection":  # recursion dedups each member once
        g = G.dedup_vertices(g)
    if g.kind == "GeometryCollection":
        for sub in g.coords:
            r = invalid_reason(sub)
            if r is not None:
                return r
        return None
    polys = G._polys(g)
    if not polys:
        return None  # points and lines are always valid
    for rings in polys:
        r = _polygon_invalid_reason([list(ring) for ring in rings])
        if r is not None:
            return r
    if len(polys) > 1:
        parts = [Geometry("Polygon", rings) for rings in polys]
        shells = [Geometry("Polygon", [rings[0]]) for rings in polys]
        for i in range(len(parts)):
            for j in range(len(parts)):
                if i == j:
                    continue
                # a part inside another part's hole is valid: test the
                # full part (holes subtract) as the container
                if G.within(shells[i], parts[j]):
                    return "Nested shells"
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                for ra in polys[i]:
                    for rb in polys[j]:
                        if _rings_cross(list(ra), list(rb)):
                            return "Self-intersection"
                if _collinear_overlap_exists(
                    _ringlines(parts[i]), _ringlines(parts[j])
                ):
                    return "Self-intersection"
                if interiors_intersect(parts[i], parts[j]):
                    return "Self-intersection"
    return None


def _rect_ring(c) -> list[Point]:
    x0, y0, x1, y1 = c
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def _parity_cells(rings: list[list[Point]]) -> list | None:
    """Even-odd grid cells over ALL rings of a part at once — the
    linework rule: a cell is interior iff the total ray-crossing count
    against the part's ring multiset is odd. None if any edge is
    diagonal. Cell centers sit strictly between grid lines while every
    edge lies ON a grid line, so the crossing test never evaluates on a
    boundary (same invariant as ``union_ops._rectilinear_cells``, which
    differs by using shell/hole roles instead of parity)."""
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            if ax != bx and ay != by:
                return None
    xs = sorted({p[0] for r in rings for p in r})
    ys = sorted({p[1] for r in rings for p in r})
    out = []
    for i in range(len(xs) - 1):
        cx = (xs[i] + xs[i + 1]) / 2  # / 2 not / 2.0: Fractions stay exact
        for j in range(len(ys) - 1):
            cy = (ys[j] + ys[j + 1]) / 2
            if sum(1 for r in rings if G._point_in_ring(cx, cy, r)) % 2:
                out.append((xs[i], ys[j], xs[i + 1], ys[j + 1]))
    return out


def _signed_area2(ring: list[Point]):
    """Twice the signed shoelace area — delegates to the shared
    primitive in noding.py (code-review r11: the first independent copy
    of this machinery drifted and reintroduced a fixed bug; one audited
    kernel now serves both modules)."""
    from .noding import signed_area2

    return signed_area2(ring)


def _node_ring(ring: list[Point]) -> list[Point]:
    """Insert every self-intersection of the (closed, Fraction) ring as
    an explicit vertex: proper segment crossings solved exactly, plus
    every vertex lying on another segment's interior (T-contacts —
    which also covers collinear fold-backs, whose overlap endpoints are
    vertices of one of the two segments). The pairwise exact splitter
    is shared with ST_Node (noding.pairwise_splits)."""
    from .noding import pairwise_splits

    n = len(ring) - 1
    segs = [(ring[i], ring[i + 1]) for i in range(n)]
    splits = pairwise_splits(segs)
    out: list[Point] = []
    for i in range(n):
        a, _b = segs[i]
        if not out or a != out[-1]:
            out.append(a)
        for _t, p in splits[i]:
            if p != out[-1]:
                out.append(p)
    if out[0] != out[-1]:
        out.append(out[0])
    return out


def _extract_loops(noded: list[Point]) -> list[list[Point]]:
    """Split a noded closed ring into simple loops: walk the vertex
    sequence with a stack, and every time a vertex repeats, the stretch
    since its first visit closes one loop. Zero-area loops (spikes,
    fold-backs) are dropped — they contribute nothing to the even-odd
    region."""
    stack: list[Point] = []
    index: dict[Point, int] = {}
    loops: list[list[Point]] = []
    for v in noded[:-1]:
        if v in index:
            i = index[v]
            loops.append(stack[i:] + [v])
            for q in stack[i + 1 :]:
                index.pop(q)
            del stack[i + 1 :]
        else:
            index[v] = len(stack)
            stack.append(v)
    loops.append(stack + [stack[0]])
    return [lp for lp in loops if len(lp) >= 4 and _signed_area2(lp) != 0]


def _assemble_loops(loops: list[list[Point]]) -> Geometry:
    """BuildArea-style assembly of simple Fraction loops: loops must be
    pairwise non-overlapping (containment or disjoint interiors, finite
    point contacts allowed, no shared 1-D boundary stretch); nesting
    depth parity decides shell (even) vs hole (odd), so islands inside
    holes become shells again — PostGIS/GEOS linework behavior."""
    from .relations import _collinear_overlap_exists, interiors_intersect

    polys = [Geometry("Polygon", [lp]) for lp in loops]
    lines = [Geometry("LineString", list(lp)) for lp in loops]
    k = len(loops)
    inside = [[False] * k for _ in range(k)]
    for i in range(k):
        for j in range(k):
            if i != j:
                inside[i][j] = G.within(polys[i], polys[j])
    for i in range(k):
        for j in range(i + 1, k):
            if inside[i][j] and inside[j][i]:
                raise _ov._Unsupported("coincident loops")
            if _collinear_overlap_exists(lines[i], lines[j]):
                raise _ov._Unsupported("loops sharing a boundary stretch")
            if (
                not inside[i][j]
                and not inside[j][i]
                and interiors_intersect(polys[i], polys[j])
            ):
                raise _ov._Unsupported("partially overlapping loops")
    depth = [sum(inside[i]) for i in range(k)]
    area2 = [abs(_signed_area2(lp)) for lp in loops]

    def parent_of(i: int) -> int | None:
        cands = [j for j in range(k) if inside[i][j]]
        return min(cands, key=lambda j: area2[j]) if cands else None

    parts = []
    for i in range(k):
        if depth[i] % 2 == 0:
            rings = [_ov._float_ring(loops[i])]
            for h in range(k):
                if depth[h] % 2 == 1 and parent_of(h) == i:
                    rings.append(_ov._float_ring(loops[h]))
            parts.append(rings)
    if len(parts) == 1:
        return Geometry("Polygon", parts[0])
    return Geometry("MultiPolygon", parts)


def _makevalid_part(rings: list[list[Point]]) -> Geometry | None:
    """Linework rebuild of ONE polygon part (shell + hole rings taken
    as undifferentiated linework). Rectilinear rings go through the
    exact all-ring parity-cell dissolve; any diagonal edge falls to the
    node/loop-split/parity assembly. None = everything collapsed;
    raises ``overlay._Unsupported`` outside both classes (e.g. two
    rings of the part properly crossing each other with diagonal
    edges)."""
    from .buffer import _union_exact

    closed = []
    for r in rings:
        rr = list(r)
        if rr and rr[0] != rr[-1]:
            rr.append(rr[0])
        dd = [rr[0]]
        for p in rr[1:]:
            if p != dd[-1]:
                dd.append(p)
        if len(dd) >= 4:
            closed.append(dd)
    if not closed:
        return None
    frac = [_ov._frac_ring(r) for r in closed]
    cells = _parity_cells(frac)
    if cells is not None:
        if not cells:
            return None
        return _union_exact(
            [
                Geometry("Polygon", [_rect_ring(tuple(float(v) for v in c))])
                for c in cells
            ]
        )
    loops = []
    for r in frac:
        loops.extend(_extract_loops(_node_ring(r)))
    if not loops:
        return None
    return _assemble_loops(loops)


def _resplit_rings(g: Geometry) -> Geometry | None:
    """Split every ring of an areal geometry at revisited vertices and
    re-assemble the loops by nesting parity (no noding — callers pass
    dissolve output, whose rings can self-TOUCH at vertices but never
    properly cross). None when the loop assembly is itself unsupported."""
    loops = []
    for rings in G._polys(g):
        for r in rings:
            rr = list(r)
            if rr and rr[0] != rr[-1]:
                rr.append(rr[0])
            loops.extend(_extract_loops(rr))
    if not loops:
        return None
    try:
        return _assemble_loops(loops)
    except _ov._Unsupported:
        return None


def makevalid_geom(g: Geometry) -> Geometry | None:
    """ST_MakeValid with PostGIS/GEOS LINEWORK semantics (the one-arg
    ST_MakeValid default — ADVICE r10 #3): each polygon part's rings
    are noded and re-assembled by even-odd/nesting parity (a hole
    outside its shell becomes a second shell; islands inside holes
    stay area), then parts union (liblwgeom unions MultiPolygon parts
    pairwise). Two exact classes are supported: rectilinear parts via
    all-ring parity cells, and parts with diagonal self-intersecting
    rings via exact-rational noding + loop extraction (VERDICT r10
    item 3 — the plain bowtie now yields its two triangles). Valid
    inputs are echoed by the caller before reaching here. Returns None
    for an all-collapsed (EMPTY) result; raises overlay._Unsupported
    outside the exact classes (e.g. shell and hole crossing each other
    diagonally) — a loud NULL rather than a guess."""
    from .buffer import _union_exact

    if g.kind == "GeometryCollection":
        # Rebuild only the INVALID members — PostGIS echoes valid ones
        # unchanged (code-review r10).
        out = []
        for sub in g.coords:
            m = sub if invalid_reason(sub) is None else makevalid_geom(sub)
            if m is not None:
                out.append(m)
        return Geometry("GeometryCollection", out) if out else None
    polys = G._polys(g)
    if not polys:
        return g  # points/lines are valid as-is (finiteness checked upstream)
    parts = []
    for rings in polys:
        p = _makevalid_part([list(r) for r in rings])
        if p is not None:
            parts.append(p)
    if not parts:
        return None
    if len(parts) == 1:
        out = parts[0]
    else:
        out = _union_exact(parts)
        if out is None:
            raise _ov._Unsupported("part union outside the exact class")
    # Exact-or-NULL, enforced on EVERY return path (code-review r11
    # found the parity-cell and parts-union paths shipping unguarded):
    # non-float-representable intersection nodes round into a
    # microscopic sliver where two loops touch — GEOS ships such
    # results because JTS's validity test cannot see the sliver. This
    # engine's contract is isvalid(makevalid(x)) = true or NULL, never
    # a result it would itself call invalid. One repairable class gets
    # a second chance first: the rectilinear dissolve fuses a hole
    # touching its shell at one point into a SELF-TOUCHING ring (a
    # vertex revisited, no proper crossing) — re-splitting every ring
    # into loops and re-assembling by nesting parity recovers GEOS's
    # area-preserving shell+hole-touching-at-a-point answer.
    if invalid_reason(out) is not None:
        out = _resplit_rings(out)
        if out is None or invalid_reason(out) is not None:
            raise _ov._Unsupported("rebuild does not re-validate")
    return out


def makevalid_wkt(wkt) -> str | None:
    """WKT surface: valid inputs echo unchanged (PostGIS behavior);
    invalid rectilinear parts AND diagonal self-intersecting rings are
    rebuilt with linework semantics (makevalid_geom); NULL for junk,
    for inputs outside both exact classes (e.g. rings of one part
    properly crossing each other diagonally), or when the rebuilt
    result would not pass this engine's own st_isvalid; 'POLYGON
    EMPTY' when every ring collapses."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return f"{m.group(1)} EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    if invalid_reason(g) is None:
        return G.to_wkt(g)
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in G._points(g)):
        return None
    try:
        out = makevalid_geom(g)
    except _ov._Unsupported:
        return None
    return "POLYGON EMPTY" if out is None else G.to_wkt(out)


def isvalid_wkt(wkt) -> bool | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return True
    g = G.parse_wkt(s)
    if g is None:
        return None
    return invalid_reason(g) is None


def isvalidreason_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return VALID
    g = G.parse_wkt(s)
    if g is None:
        return None
    return invalid_reason(g) or VALID


# --- ST_IsValidDetail (r16): reason + witness location ------------------
#
# PostGIS returns (valid, reason, location) as a composite; this
# engine's text model renders it 'VALID' or '<reason>[x y]' — the same
# bracketed-location format PostGIS's own ST_IsValidReason prints.
# The witness is found by an INDEPENDENT O(n²) segment scan (proper
# crossings first, then a revisited non-consecutive vertex), so the
# validity kernel above stays byte-identical; reasons with no point
# witness (unclosed ring, too-few-points) print without brackets,
# like PostGIS's NULL location.

_DETAIL_PAIR_BUDGET = 4_000_000  # the zcoord/surface3d adversarial cap


def _seg_cross_point(p1, p2, p3, p4):
    """The proper-intersection point of segments p1p2 / p3p4, or None
    (shared endpoints and collinear overlap are not 'proper')."""
    d1x, d1y = p2[0] - p1[0], p2[1] - p1[1]
    d2x, d2y = p4[0] - p3[0], p4[1] - p3[1]
    den = d1x * d2y - d1y * d2x
    if den == 0.0:
        return None
    t = ((p3[0] - p1[0]) * d2y - (p3[1] - p1[1]) * d2x) / den
    u = ((p3[0] - p1[0]) * d1y - (p3[1] - p1[1]) * d1x) / den
    if not (0.0 < t < 1.0 and 0.0 < u < 1.0):
        return None
    return (p1[0] + t * d1x, p1[1] + t * d1y)


def invalid_witness(g: Geometry):
    """(x, y) of the first proper ring crossing (self- or cross-ring,
    scan order) or of a revisited non-consecutive vertex; None when
    the invalidity has no point witness or the pair budget trips."""
    if g.kind == "Polygon":
        polys = [g.coords]
    elif g.kind == "MultiPolygon":
        polys = list(g.coords)
    elif g.kind == "GeometryCollection":
        for sub in g.coords:
            w = invalid_witness(sub)
            if w is not None:
                return w
        return None
    else:
        return None
    budget = _DETAIL_PAIR_BUDGET
    for rings in polys:
        segs = []
        for ri, ring in enumerate(rings):
            for si, (a, b) in enumerate(zip(ring, ring[1:])):
                segs.append((ri, si, a, b))
        n = len(segs)
        for i in range(n):
            ri, si, a, b = segs[i]
            for j in range(i + 1, n):
                rj, sj, c, d = segs[j]
                if ri == rj and abs(si - sj) <= 1:
                    continue  # adjacent in the same ring
                if ri == rj and {a, b} & {c, d}:
                    continue  # ring closure adjacency
                budget -= 1
                if budget <= 0:
                    return None
                pt = _seg_cross_point(a, b, c, d)
                if pt is not None:
                    return pt
        # no proper crossing: a revisited vertex (spike / self-touch)
        for ring in rings:
            seen = {}
            for k, p in enumerate(ring[:-1]):
                if p in seen and k - seen[p] > 1:
                    return p
                seen.setdefault(p, k)
    return None


def isvaliddetail_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return VALID
    g = G.parse_wkt(s)
    if g is None:
        return None
    reason = invalid_reason(g)
    if reason is None:
        return VALID
    w = invalid_witness(g)
    if w is None:
        return reason
    return f"{reason}[{G._fmt(w[0])} {G._fmt(w[1])}]"


# ---------------------------------------------------------------------------
# vectorized SQL surface
# ---------------------------------------------------------------------------


@pandas_udf(BooleanType())
def st_isvalid(wkt: pd.Series) -> pd.Series:
    out = []
    for v in wkt:
        try:
            out.append(isvalid_wkt(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="boolean")


@pandas_udf(StringType())
def st_isvalidreason(wkt: pd.Series) -> pd.Series:
    out = []
    for v in wkt:
        try:
            out.append(isvalidreason_wkt(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_makevalid(wkt: pd.Series) -> pd.Series:
    out = []
    for v in wkt:
        try:
            out.append(makevalid_wkt(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_isvaliddetail(wkt: pd.Series) -> pd.Series:
    """'VALID' or '<reason>[x y]' (module comment at
    isvaliddetail_wkt; the location bracket is PostGIS's own
    ST_IsValidReason print format)."""
    out = []
    for v in wkt:
        try:
            out.append(isvaliddetail_wkt(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_VALIDITY_FUNCTIONS = {
    "st_isvalid": st_isvalid,
    "st_isvalidreason": st_isvalidreason,
    "st_makevalid": st_makevalid,
    "st_isvaliddetail": st_isvaliddetail,
}
