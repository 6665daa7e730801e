"""ST_Intersection / ST_Difference — exact boolean overlay within a
documented geometry-class boundary.

The reference forwards both PostGIS names to PostGIS itself alongside
ST_Union (reference src/index.ts:44-63 routes any PostGIS-accepted
function through the rebuilt PostgreSQL query); this module computes
them natively so the Spark engine's SQL surface answers the same
queries without a PostGIS round-trip.

Exactness matrix (same design stance as union_ops.py: EXACT inside a
machine-checkable class, NULL — never a silently wrong geometry —
outside it):

- **point × anything** — membership tests (closure semantics: a point
  on a polygon boundary intersects it, matching PostGIS
  ``ST_Intersection``/``ST_Difference`` which operate on closures).
  Dimensionally-collapsed results between 2-D inputs match PostGIS
  as of r8: polygon pairs sharing only a boundary return the shared
  edges as LINESTRING spans (ring×ring collinear intersection) and
  corner contacts as POINTs, and a tangent polygon∩line touch returns
  the touch POINT. Remaining divergence: when the intersection has
  BOTH a 2-D part and extra boundary contact outside it, only the 2-D
  part is returned (PostGIS emits a mixed collection in that exotic
  case).
- **line × line** — exact: crossing/touch points plus the collinear
  shared spans (1-D interval intersection per collinear segment pair,
  dissolved into maximal spans at assembly; points covered by a span
  are dropped, so mixed results match PostGIS's collection shape).
  Difference subtracts the shared spans with closure semantics and
  drops zero-length leftovers (identical lines → EMPTY, as PostGIS).
- **rectilinear polygon × rectilinear polygon** (holes allowed, Multi*
  allowed) — cell decomposition (union_ops._rectilinear_cells); the
  pairwise rect∩rect / rect−rect pieces are closed-form, and the
  result is re-dissolved through union_ops._rect_union_polys, so
  output polygons are clean (no seams, no stacked parts).
- **convex polygon × convex polygon** — Sutherland–Hodgman clipping
  (successive _clip_halfplane passes) for the intersection: exact,
  convex output.
  Difference uses the standard half-plane decomposition (piece_i = a
  right of b's edge i, left of edges 0..i−1): exact, a MultiPolygon of
  disjoint convex pieces — area and point set exact; internal seams
  between pieces are a representation artifact (st_perimeter over such
  a result counts seam edges, like any seamed MultiPolygon).
- **rectilinear × convex** — intersection clips each covered cell by
  the convex ring; the pieces have disjoint interiors by construction
  (cells partition the rectilinear polygon), so the MultiPolygon
  result is exact as a point set and in area. Difference runs the same
  half-plane decomposition per cell (cells are convex), exact with the
  same seam caveat.
- **LineString × convex/rectilinear polygon** — parametric (Cyrus–Beck
  style) clipping of each segment to the convex interior (intersection)
  or its complement spans (difference): exact.
- **any SIMPLE polygon** — ear-clipping triangulation (_triangulate,
  the standard published O(n²) algorithm) reduces a hole-free simple
  ring to disjoint convex triangles, and a polygon WITH holes is its
  outer ring's decomposition minus each hole (the same subtraction
  machinery, applied recursively) — so every simple-ring polygon pair,
  convex or not, holed or not, resolves through the convex kernels
  above: exact in area and point set, output a seamed MultiPolygon of
  disjoint pieces.
- anything else — self-intersecting rings, which a non-adjacent-edge
  crossing check detects explicitly → NULL (documented here, in
  COVERAGE.md §2.6, and in the registered function docstrings — the
  ADVICE r6 "loud, not silently wrong" contract).

Empty results computed from non-empty inputs serialize as a typed
EMPTY following the OverlayNG rule PostGIS/GEOS uses (intersection →
min input dimension, difference → minuend dimension, symdifference →
max input dimension; 0 → ``POINT EMPTY``, 1 → ``LINESTRING EMPTY``,
2 → ``POLYGON EMPTY``). Typed-EMPTY *inputs* short-circuit the way
liblwgeom does — the relevant input is echoed back verbatim
(``Empty ∩ A == Empty`` echoes the empty, ``A − Empty == A``,
``Empty Δ A == A``) — OverlayNG never sees an empty input. All UDFs
accept ``'... EMPTY'`` WKT back as input. This
module deliberately does NOT extend geometry.py's parser — staleness
fingerprints are module-granular and geometry.py underpins every
verified spatial query (same isolation rationale as relations_ops.py).

Scale: both functions are per-row pandas UDFs (Arrow-batched, map-only)
— no shuffle, no driver participation; candidate pair generation for
overlay joins belongs to the caller (bbox/grid blocking, see
operators/overlay_ops.py).
"""

from __future__ import annotations

import re
from fractions import Fraction

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .geometry import Geometry
from .union_ops import (
    _as_rect,
    _flatten,
    _is_convex_ring,
    _rect_union_polys,
    _rectilinear_cells,
    _seg_intersections,
    _signed_area_ring,
)

Pt = tuple[float, float]
Rect = tuple[float, float, float, float]

# OverlayNG empty-result typing: the WKT a result dimension serializes
# to when NON-empty inputs compute to an empty result. Empty INPUTS
# never reach OverlayNG in PostGIS — liblwgeom short-circuits them by
# echoing the relevant input geometry back (code-review r9), which the
# wkt surface functions mirror.
_EMPTY_BY_DIM = {0: "POINT EMPTY", 1: "LINESTRING EMPTY", 2: "POLYGON EMPTY"}


class _Unsupported(Exception):
    """Raised when a pairwise overlay falls outside the exact class."""


# ---------------------------------------------------------------------------
# exact rational arithmetic
#
# Every input coordinate is a float — an exact binary rational — so the
# polygon kernels run on Fraction coordinates: orientation tests,
# clipping parameters, ear tests and areas are then EXACT for every
# input, not just integer/dyadic fixtures (the same stance as
# relations.py's exact-arithmetic DE-9IM predicates). The star-polygon
# fuzz demonstrated why: float kernels mis-triangulated and drifted
# piece subtractions on nearly-degenerate irrational rings. Results
# convert back to float only at assembly (round-to-nearest per vertex).
# ---------------------------------------------------------------------------


def _frac_pt(p: Pt):
    return (Fraction(p[0]), Fraction(p[1]))


def _frac_ring(ring: list[Pt]) -> list:
    return [_frac_pt(p) for p in ring]


def _frac_part(g: Geometry) -> Geometry:
    """Exact-rational copy of a SIMPLE (flattened) part. Raises
    _Unsupported on non-finite coordinates (NaN/inf have no rational
    value)."""
    try:
        if g.kind == "Point":
            return Geometry("Point", _frac_pt(g.coords))
        if g.kind == "LineString":
            return Geometry("LineString", _frac_ring(g.coords))
        if g.kind == "Polygon":
            return Geometry("Polygon", [_frac_ring(r) for r in g.coords])
    except (ValueError, OverflowError) as ex:  # NaN / inf coordinate
        raise _Unsupported("non-finite coordinate") from ex
    raise _Unsupported(f"unflattened {g.kind}")


def _float_pt(p) -> Pt:
    return (float(p[0]), float(p[1]))


def _float_ring(r: list) -> list[Pt]:
    """Float-convert a closed ring and RE-NORMALIZE: exact-distinct
    adjacent vertices can round to the same float, and an un-deduped
    output ring would carry zero-length edges (the class _dedupe_closed
    exists to kill) back into any consumer (code-review r7)."""
    return _dedupe_closed([_float_pt(p) for p in r])


def _float_geom(g: Geometry) -> Geometry:
    if g.kind == "Point":
        return Geometry("Point", _float_pt(g.coords))
    if g.kind in ("LineString", "MultiPoint"):
        return Geometry(g.kind, [_float_pt(p) for p in g.coords])
    if g.kind == "MultiLineString":
        return Geometry(g.kind, [[_float_pt(p) for p in r] for r in g.coords])
    if g.kind == "Polygon":
        return Geometry(g.kind, [_float_ring(r) for r in g.coords])
    if g.kind == "MultiPolygon":
        return Geometry(g.kind, [[_float_ring(r) for r in poly] for poly in g.coords])
    return Geometry("GeometryCollection", [_float_geom(s) for s in g.coords])


def _drop_degenerate_float(g: Geometry | None) -> Geometry | None:
    """Remove polygon parts whose FLOAT-converted ring collapses to
    zero area. Exact-arithmetic piecework can emit artifact slivers of
    area ~1e-33 (a degenerate micro-ring passes the local-convexity
    test, so its own half-plane self-subtraction cannot eliminate it);
    such a piece has no representable area in the float output domain
    — its vertices round to collinear points — so it does not exist in
    the result. Genuine pieces keep their float area and survive."""
    if g is None:
        return None

    def ok_poly(rings) -> bool:
        # Relative floor at OUTPUT precision: float vertices carry
        # ~1e-16 relative noise, so a piece whose area is below
        # 1e-12 × its own bbox extent² is rounding residue, not
        # geometry (an exact-arithmetic artifact sliver can round to a
        # positive sub-ulp float area instead of exactly 0 —
        # code-review r7 found a 3e-16 spike surviving the == 0 test).
        outer = rings[0]
        if len(outer) < 4:
            return False
        xs = [p[0] for p in outer]
        ys = [p[1] for p in outer]
        extent = max(max(xs) - min(xs), max(ys) - min(ys), 1.0)
        return G.area(Geometry("Polygon", rings)) > 1e-12 * extent * extent

    if g.kind == "Polygon":
        return g if ok_poly(g.coords) else None
    if g.kind == "MultiPolygon":
        kept = [rings for rings in g.coords if ok_poly(rings)]
        if not kept:
            return None
        if len(kept) == 1:
            return Geometry("Polygon", kept[0])
        return Geometry("MultiPolygon", kept)
    if g.kind == "GeometryCollection":
        subs = [_drop_degenerate_float(s) for s in g.coords]
        subs = [s for s in subs if s is not None]
        if not subs:
            return None
        if len(subs) == 1:
            return subs[0]
        return Geometry("GeometryCollection", subs)
    return g


_EMPTY_RE = re.compile(
    r"^(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING"
    r"|MULTIPOLYGON|GEOMETRYCOLLECTION)\s+EMPTY$"
)


def _parse(wkt) -> "Geometry | None | tuple":
    """Parse WKT; returns an ``("EMPTY", dim)`` sentinel for typed
    EMPTY inputs (``<KIND> EMPTY`` exactly — a bare EMPTY suffix on
    garbage must stay NULL, not become an empty geometry), None for
    null/unparseable. The sentinel keeps the input's dimension so the
    OverlayNG empty-result typing rule can apply."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = _EMPTY_RE.match(s.upper())
    if m:
        return ("EMPTY", f"{m.group(1)} EMPTY")
    return G.parse_wkt(s)


def _is_empty(x) -> bool:
    return isinstance(x, tuple)


def _rects_of(poly_rings: list[list[Pt]]) -> list[Rect] | None:
    """Cell rectangles of a rectilinear polygon (fast path: a plain
    rectangle is its own single cell). A SELF-INTERSECTING axis-parallel
    ring would pass the cell decomposition (even-odd reinterpretation)
    and come back silently rewritten, so simplicity gates this path too
    (code-review r7) — raising, not returning None, because None means
    'not rectilinear, try the other decompositions' and those must not
    see the ring either."""
    r = _as_rect(Geometry("Polygon", poly_rings))
    if r is not None:
        return [r]
    cells = _rectilinear_cells(poly_rings)
    if cells is None:
        return None
    if not all(_is_simple_ring(ring) for ring in poly_rings):
        raise _Unsupported("self-intersecting rectilinear ring")
    return cells


def _rect_clip(a: Rect, b: Rect) -> Rect | None:
    x0, y0 = max(a[0], b[0]), max(a[1], b[1])
    x1, y1 = min(a[2], b[2]), min(a[3], b[3])
    if x0 < x1 and y0 < y1:
        return (x0, y0, x1, y1)
    return None


def _rect_sub(r: Rect, c: Rect) -> list[Rect]:
    """Pieces of rectangle ``r`` not covered by rectangle ``c`` — the
    standard ≤4-piece guillotine split (bottom, top, left, right)."""
    inter = _rect_clip(r, c)
    if inter is None:
        return [r]
    x0, y0, x1, y1 = r
    ix0, iy0, ix1, iy1 = inter
    out: list[Rect] = []
    if y0 < iy0:
        out.append((x0, y0, x1, iy0))
    if iy1 < y1:
        out.append((x0, iy1, x1, y1))
    if x0 < ix0:
        out.append((x0, iy0, ix0, iy1))
    if ix1 < x1:
        out.append((ix1, iy0, x1, iy1))
    return out


def _convex_ring_of(poly_rings: list[list[Pt]]) -> list[Pt] | None:
    """The (closed) outer ring iff the polygon is hole-free, convex AND
    simple. The simplicity check is not redundant: a multiply-wound
    ring (e.g. a pentagram, vertices at angles 4πk/5) turns the same
    way at every vertex, so the turn-sign test alone would accept a
    self-intersecting ring and the overlay would return it as a
    'convex' piece (code-review r7)."""
    if len(poly_rings) != 1:
        return None
    ring = poly_rings[0]
    if len(ring) < 4 or ring[0] != ring[-1]:
        return None
    if not _is_convex_ring(ring):
        return None
    if not _is_simple_ring(ring):
        return None
    return ring


def _ring_area(ring_open: list[Pt]) -> float:
    return abs(_signed_area_ring(ring_open + [ring_open[0]]))


# With Fraction coordinates a degenerate sliver has EXACTLY zero area,
# so piece filters compare against literal 0 — no epsilon floors.


def _clip_to_poly(subject: list[Pt], clip: list[Pt]) -> list[Pt] | None:
    """Closed output ring of subject ∩ convex clip, or None if empty /
    degenerate (sliver below the relative FP floor).

    Implemented as successive _clip_halfplane passes rather than
    union_ops._clip_convex: the half-plane form derives its segment
    parameter from SIDE-VALUE differences, which cannot be zero when
    the endpoint signs straddle — union_ops' cross-product denominator
    can round to exactly 0 on a near-parallel straddling edge
    (observed under the star-polygon fuzz) and divide by zero."""
    clip = _dedupe_closed(clip)
    if len(clip) < 4:
        return None  # degenerate clip ring
    if _signed_area_ring(clip) < 0:
        clip = clip[::-1]
    out = list(subject[:-1] if subject[0] == subject[-1] else subject)
    for i in range(len(clip) - 1):
        if not out:
            break
        out = _clip_halfplane(out, clip[i], clip[i + 1], keep_left=True)
    if len(out) < 3 or _ring_area(out) == 0:
        return None
    return _dedupe_closed(out + [out[0]])


def _point_in_closure(p: Pt, g: Geometry) -> bool:
    return G.intersects(Geometry("Point", p), g)


def _clip_segment_convex(
    p: Pt, q: Pt, ring: list[Pt], keep_touch: bool = False
) -> tuple[Pt, Pt] | None:
    """Portion of segment p→q inside the closed convex ring (closure
    semantics), or None. Parametric half-plane clipping: every convex
    ring edge constrains t ∈ [t0, t1]. ``keep_touch`` returns a
    degenerate (pt, pt) pair for a single-point tangent touch instead
    of None — the INTERSECTION path wants the touch point (PostGIS
    parity), while the difference path must keep treating it as
    nothing-to-subtract (a degenerate cut would resegment the minuend
    at every tangency)."""
    if _signed_area_ring(ring) < 0:
        ring = ring[::-1]
    # Fraction bounds: a float 0.0/1.0 would drag the clip parameters
    # (and the hit coordinates) back to float via Fraction.__rmul__
    t0, t1 = Fraction(0), Fraction(1)
    dx, dy = q[0] - p[0], q[1] - p[1]
    for (ax, ay), (bx, by) in zip(ring, ring[1:]):
        ex, ey = bx - ax, by - ay
        # inside == left of the directed edge: side(v) >= 0
        sp = ex * (p[1] - ay) - ey * (p[0] - ax)
        den = ex * dy - ey * dx  # d(side)/dt
        if den == 0.0:
            if sp < 0.0:
                return None  # parallel and fully outside this half-plane
            continue
        t_hit = -sp / den
        if den > 0.0:
            t0 = max(t0, t_hit)
        else:
            t1 = min(t1, t_hit)
        if t0 > t1:
            return None
    if t0 >= t1:
        if keep_touch and t0 == t1:
            a = (p[0] + t0 * dx, p[1] + t0 * dy)
            return (a, a)
        return None  # touch at a single point: no 1-D piece
    a = (p[0] + t0 * dx, p[1] + t0 * dy)
    b = (p[0] + t1 * dx, p[1] + t1 * dy)
    return (a, b)


# ---------------------------------------------------------------------------
# pairwise overlays over simple (flattened) parts
# ---------------------------------------------------------------------------


def _pair_intersection(a: Geometry, b: Geometry) -> list:
    """Pieces of a ∩ b for SIMPLE parts. Returns a list of
    ``Geometry`` / ``Rect`` pieces (rects are dissolved by the caller)."""
    if a.kind == "Point":
        return [a] if _point_in_closure(a.coords, b) else []
    if b.kind == "Point":
        return [b] if _point_in_closure(b.coords, a) else []

    if a.kind == "LineString" or b.kind == "LineString":
        if a.kind == "LineString" and b.kind == "LineString":
            # line ∩ line = crossing/touch points PLUS the collinear
            # overlap spans (PostGIS returns the mixed-dimension
            # result; _assemble dissolves the spans and drops points
            # that lie on them). The collinear case is an exact 1-D
            # interval intersection — the r7 shared-endpoint test was
            # argument-order asymmetric and misread A-contained-in-B
            # spans as their shared endpoint (ADVICE r7 #1).
            pts: list[Pt] = []
            spans: list[Geometry] = []
            for p1, q1 in zip(a.coords, a.coords[1:]):
                for p2, q2 in zip(b.coords, b.coords[1:]):
                    d1 = (q1[0] - p1[0], q1[1] - p1[1])
                    d2 = (q2[0] - p2[0], q2[1] - p2[1])
                    if d1 == (0.0, 0.0) or d2 == (0.0, 0.0):
                        # zero-length segment (repeated vertex): the
                        # cross product is 0 against ANYTHING, so route
                        # it as a point-vs-segment test instead
                        pt, s0, s1_ = (
                            (p1, p2, q2) if d1 == (0.0, 0.0) else (p2, p1, q1)
                        )
                        if G._segs_intersect(pt, pt, s0, s1_):
                            pts.append(pt)
                        continue
                    if d1[0] * d2[1] - d1[1] * d2[0] == 0.0 and G._segs_intersect(
                        p1, q1, p2, q2
                    ):
                        # collinear contact: project both segments on
                        # d1's dominant axis (nonzero for both — the
                        # segments are parallel and nondegenerate) and
                        # intersect the 1-D intervals exactly. A
                        # degenerate interval is the 0-D touch point;
                        # a positive one is the 1-D shared span.
                        ax = 0 if abs(d1[0]) >= abs(d1[1]) else 1
                        lo1, hi1 = sorted((p1[ax], q1[ax]))
                        lo2, hi2 = sorted((p2[ax], q2[ax]))
                        lo, hi = max(lo1, lo2), min(hi1, hi2)

                        def _at(t, _p1=p1, _d1=d1, _ax=ax):
                            s = (t - _p1[_ax]) / _d1[_ax]
                            return (_p1[0] + s * _d1[0], _p1[1] + s * _d1[1])

                        if lo == hi:
                            pts.append(_at(lo))
                        else:
                            spans.append(
                                Geometry("LineString", [_at(lo), _at(hi)])
                            )
                        continue
                    pts.extend(_seg_intersections(p1, q1, p2, q2))
            return [Geometry("Point", p) for p in sorted(set(pts))] + spans
        line, poly = (a, b) if a.kind == "LineString" else (b, a)
        if poly.kind != "Polygon":
            raise _Unsupported(f"line x {poly.kind}")
        rings = _convex_pieces_of(poly.coords)
        if rings is None:
            raise _Unsupported("line x undecomposable polygon")
        pieces = []
        for p, q in zip(line.coords, line.coords[1:]):
            # pieces are interior-disjoint, so per-piece clips of one
            # segment are disjoint sub-segments
            for ring in rings:
                seg = _clip_segment_convex(p, q, ring, keep_touch=True)
                if seg is None:
                    continue
                if seg[0] == seg[1]:
                    # zero-length clip = tangent touch: PostGIS returns
                    # the touch POINT, not EMPTY (r8 — the old path
                    # dropped it as a degenerate line). Seam touches at
                    # interior piece boundaries are subsumed by the
                    # adjacent pieces' spans at assembly.
                    pieces.append(Geometry("Point", seg[0]))
                else:
                    pieces.append(Geometry("LineString", [seg[0], seg[1]]))
        return pieces

    if a.kind != "Polygon" or b.kind != "Polygon":
        raise _Unsupported(f"{a.kind} x {b.kind}")

    ra, rb = _rects_of(a.coords), _rects_of(b.coords)
    if ra is not None and rb is not None:
        out: list[Rect] = []
        for car in ra:
            for cbr in rb:
                c = _rect_clip(car, cbr)
                if c is not None:
                    out.append(c)
        return out if out else _polygon_boundary_contact(a, b)

    pa, pb = _convex_pieces_of(a.coords), _convex_pieces_of(b.coords)
    if pa is None or pb is None:
        raise _Unsupported("polygon pair outside the decomposable class")
    pieces = []
    for car in pa:
        for cbr in pb:
            ring = _clip_to_poly(car, cbr)
            if ring:
                pieces.append(Geometry("Polygon", [ring]))
    return pieces if pieces else _polygon_boundary_contact(a, b)


def _polygon_boundary_contact(a: Geometry, b: Geometry) -> list:
    """0-/1-D contact of two polygons whose INTERIORS do not overlap
    (both clip kernels return pieces iff the intersection has positive
    area, so an empty piece set routes here): the pairwise ring×ring
    line intersection — shared edges come back as collinear spans,
    corner touches as points, and disjoint pairs as nothing. This is
    the PostGIS result shape for touching polygons (r8 — previously a
    documented EMPTY divergence)."""
    pieces: list = []
    for ra in a.coords:
        (ax0, ay0, ax1, ay1) = _ring_bbox(ra)
        for rb in b.coords:
            # INCLUSIVE bbox prescreen (code-review r8: without it,
            # every fully-disjoint candidate pair paid the O(Va·Vb)
            # exact-rational segment sweep; strict overlap would
            # wrongly reject edge-touching pairs, the whole point here)
            (bx0, by0, bx1, by1) = _ring_bbox(rb)
            if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
                continue
            pieces.extend(
                _pair_intersection(
                    Geometry("LineString", ra), Geometry("LineString", rb)
                )
            )
    # GEOS emits a touching-polygon boundary as MAXIMAL linework —
    # dissolve collinear spans, then chain contiguous edges (a hole
    # ring's contact is one closed LINESTRING, an L-contact one open
    # chain). Scoped HERE, not in _assemble: line-INPUT overlays stay
    # noded per piece (GEOS does not linemerge those results).
    spans = [p for p in pieces if p.kind == "LineString"]
    others = [p for p in pieces if p.kind != "LineString"]
    return others + _merge_contiguous_lines(_dissolve_collinear_spans(spans))


def _is_simple_ring(ring_closed: list[Pt]) -> bool:
    """Non-adjacent edges may touch ONLY at a shared endpoint (a
    pinched ring — the rectilinear dissolve legitimately emits those
    for regions touching at a corner); proper crossings, T-contacts
    (an endpoint interior to another edge) and collinear span overlaps
    make the ring non-simple. O(n²) over one ring — per-row cost."""
    pts = ring_closed[:-1]
    n = len(pts)
    edges = [(pts[i], pts[(i + 1) % n]) for i in range(n)]

    def on_seg(p: Pt, e: tuple[Pt, Pt]) -> bool:
        return G._segs_intersect(p, p, e[0], e[1])

    for i in range(n):
        for j in range(i + 1, n):
            if j == i + 1 or (i == 0 and j == n - 1):
                continue  # adjacent (shares a vertex)
            e1, e2 = edges[i], edges[j]
            if not G._segs_intersect(*e1, *e2):
                continue
            shared = {e1[0], e1[1]} & {e2[0], e2[1]}
            if len(shared) != 1:
                return False  # crossing, span overlap, or duplicate edge
            v = next(iter(shared))
            o1 = e1[1] if e1[0] == v else e1[0]
            o2 = e2[1] if e2[0] == v else e2[0]
            if on_seg(o1, e2) or on_seg(o2, e1):
                return False  # contact extends beyond the shared vertex
    return True


def _triangulate(ring_closed: list[Pt]) -> list[list[Pt]] | None:
    """Ear-clipping triangulation of a SIMPLE hole-free polygon ring →
    list of closed CCW triangle rings with disjoint interiors, or None
    if clipping stalls (self-intersecting / degenerate input). The
    standard published O(n²) algorithm: repeatedly cut a convex vertex
    whose triangle contains no other reflex vertex."""
    # Simplicity check FIRST: naive ear clipping can still find "ears"
    # on a self-intersecting ring (e.g. a bowtie) and return triangles
    # covering the hull — silently wrong.
    if not _is_simple_ring(ring_closed):
        return None
    pts = list(ring_closed[:-1])
    if _signed_area_ring(pts + [pts[0]]) < 0:
        pts = pts[::-1]

    def cross(o: Pt, a: Pt, b: Pt) -> float:
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def in_tri(p: Pt, a: Pt, b: Pt, c: Pt) -> bool:
        # strict interior-or-edge containment for the ear test
        return cross(a, b, p) >= 0 and cross(b, c, p) >= 0 and cross(c, a, p) >= 0

    tris: list[list[Pt]] = []
    while len(pts) > 3:
        n = len(pts)
        for i in range(n):
            a, b, c = pts[(i - 1) % n], pts[i], pts[(i + 1) % n]
            if cross(a, b, c) <= 0:
                continue  # reflex or collinear: not an ear tip
            if any(
                in_tri(p, a, b, c)
                for j, p in enumerate(pts)
                if j not in ((i - 1) % n, i, (i + 1) % n)
            ):
                continue
            tris.append([a, b, c, a])
            del pts[i]
            break
        else:
            return None  # no ear found: not a simple polygon
    if len(pts) == 3 and abs(cross(*pts)) > 0.0:
        tris.append(pts + [pts[0]])
    # Consistency guard: FP orientation tests on NEARLY-degenerate
    # irrational rings (found by the holed-star fuzz) can cut slightly
    # overlapping ears; the triangle areas then stop summing to the
    # ring's shoelace area. Loud NULL beats a silently-wrong
    # decomposition — bit-exact inputs (integer/dyadic coords) are
    # unaffected, their sums match exactly.
    total = sum(_ring_area(t[:-1]) for t in tris)
    ring_area = _ring_area(ring_closed[:-1])
    if abs(total - ring_area) > 1e-9 * max(1.0, ring_area):
        return None
    return tris


def _convex_pieces_of(poly_rings: list[list[Pt]]) -> list[list[Pt]] | None:
    """Decompose a polygon into closed CONVEX rings with disjoint
    interiors: the ring itself if convex, its cells if rectilinear
    (holes allowed), an ear-clipping triangulation for hole-free simple
    rings, and for holed polygons the outer ring's decomposition minus
    each hole (a polygon with holes IS outer − holes, and the
    subtraction machinery below is exact for simple rings). None only
    when some ring is self-intersecting/degenerate. Coordinates are
    normalized to Fractions here so every caller (including
    union_ops) gets exact-rational pieces."""
    try:
        poly_rings = [_frac_ring(r) for r in poly_rings]
    except (ValueError, OverflowError):
        return None  # non-finite coordinate
    conv = _convex_ring_of(poly_rings)
    if conv is not None:
        return [conv]
    cells = _rects_of(poly_rings)
    if cells is not None:
        return [
            [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
            for x0, y0, x1, y1 in cells
        ]
    if len(poly_rings) != 1:
        work = _convex_pieces_of([poly_rings[0]])
        if work is None:
            return None
        try:
            for hole in poly_rings[1:]:
                work = _rings_minus_part(work, Geometry("Polygon", [hole]))
                if not work:
                    break
        except _Unsupported:
            return None
        # Consistency guard (same rationale as _triangulate's): for a
        # VALID polygon (holes strictly inside the outer ring, pairwise
        # disjoint) the pieces must sum to outer − Σholes; FP-degenerate
        # subtractions (e.g. a scaled-copy hole whose edges run parallel
        # to the outer ring's) can drift, and invalid hole layouts
        # cannot satisfy it either way → loud NULL for both.
        outer_area = _ring_area(poly_rings[0][:-1])
        holes_area = sum(_ring_area(h[:-1]) for h in poly_rings[1:])
        got = sum(_ring_area(r[:-1]) for r in work)
        if abs(got - (outer_area - holes_area)) > 1e-9 * max(1.0, outer_area):
            return None
        return work
    return _triangulate(poly_rings[0])


def _dedupe_closed(ring: list[Pt]) -> list[Pt]:
    """Normalize a CLOSED ring: drop consecutive duplicate vertices and
    zero-width SPIKES (A→B→A backtracks), iterating to a fixed point.
    Clip outputs produce both when vertices land exactly on clip lines.
    Critical for correctness, not just hygiene: a zero-length edge fed
    to the half-plane machinery has side(p) = 0 for every p (so as a
    DIFFERENCE constraint it keeps the entire minuend), and a spike's
    two anti-parallel edges impose contradictory half-plane
    constraints — the holed-star fuzz caught self-differences
    returning spurious pieces through both paths."""
    pts = list(ring[:-1])
    changed = True
    while changed and len(pts) >= 3:
        changed = False
        # consecutive duplicates (cyclic)
        out = []
        for p in pts:
            if not out or p != out[-1]:
                out.append(p)
        if len(out) > 1 and out[0] == out[-1]:
            out.pop()
        if len(out) != len(pts):
            pts, changed = out, True
            continue
        # spikes: prev == next (cyclic)
        n = len(pts)
        for i in range(n):
            if pts[(i - 1) % n] == pts[(i + 1) % n]:
                del pts[i]
                changed = True
                break
    return pts + pts[:1]


def _clip_halfplane(pts: list[Pt], a: Pt, b: Pt, keep_left: bool) -> list[Pt]:
    """Clip an OPEN convex vertex list to one side of the directed line
    a→b (the Sutherland–Hodgman single-edge step, exposed standalone)."""
    ex, ey = b[0] - a[0], b[1] - a[1]

    def side(p: Pt) -> float:
        s = ex * (p[1] - a[1]) - ey * (p[0] - a[0])
        return s if keep_left else -s

    out: list[Pt] = []
    for i, p in enumerate(pts):
        q = pts[(i + 1) % len(pts)]
        sp, sq = side(p), side(q)
        if sp >= 0:
            out.append(p)
        if (sp >= 0) != (sq >= 0):
            den = side(q) - side(p)
            t = -sp / den
            out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
    return out


def _convex_difference(ca: list[Pt], cb: list[Pt]) -> list[list[Pt]]:
    """EXACT a − b for CLOSED convex rings, as a list of closed convex
    rings with pairwise-disjoint interiors.

    The standard half-plane decomposition: orient b CCW; piece_i is a
    clipped to the RIGHT of b's edge i and to the LEFT of edges 0..i−1.
    Any point of a outside b is right of at least one edge and lands in
    the piece of the FIRST such edge (left of all earlier ones), points
    inside b are right of no edge — so the pieces partition a − b.

    ``cb`` MUST be duplicate-free (see _dedupe_closed): a zero-length
    edge's right-half-plane is everything, which would emit all of
    ``ca`` as a piece."""
    cb = _dedupe_closed(cb)
    if len(cb) < 4:
        return [ca]  # zero-area subtrahend removes nothing
    if _signed_area_ring(cb) < 0:
        cb = cb[::-1]
    pieces: list[list[Pt]] = []
    for i in range(len(cb) - 1):
        work = list(ca[:-1])
        work = _clip_halfplane(work, cb[i], cb[i + 1], keep_left=False)
        for j in range(i):
            if not work:
                break
            work = _clip_halfplane(work, cb[j], cb[j + 1], keep_left=True)
        if len(work) >= 3 and _ring_area(work) > 0:
            pieces.append(_dedupe_closed(work + [work[0]]))
    return pieces


def _ring_bbox(ring: list[Pt]) -> Rect:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return (min(xs), min(ys), max(xs), max(ys))


def _bboxes_overlap(a: Rect, b: Rect) -> bool:
    return a[0] < b[2] and b[0] < a[2] and a[1] < b[3] and b[1] < a[3]


def _rings_minus_sub(
    rings: list[list[Pt]], sub_rings: list[list[Pt]]
) -> list[list[Pt]]:
    """Subtract a PRE-DECOMPOSED list of convex subtrahend rings from a
    list of closed CONVEX rings. Callers subtracting the same part from
    many pieces decompose it ONCE and pass the rings here (code-review
    r7 — the per-piece re-decomposition was O(pieces · n²))."""
    subs = [(s, _ring_bbox(s)) for s in sub_rings]

    def diff_one(r: list[Pt], s: list[Pt], sb: Rect) -> list[list[Pt]]:
        # bbox reject, then clip test: disjoint (or 1-D touch) keeps
        # the ring whole rather than letting the half-plane
        # decomposition split it along s's extended edge lines
        if not _bboxes_overlap(_ring_bbox(r), sb) or _clip_to_poly(r, s) is None:
            return [r]
        return _convex_difference(r, s)

    work = rings
    for s, sb in subs:
        work = [piece for r in work for piece in diff_one(r, s, sb)]
        if not work:
            break
    return work


def _rings_minus_part(rings: list[list[Pt]], pb: Geometry) -> list[list[Pt]]:
    """Subtract polygon part ``pb`` from a list of closed CONVEX rings,
    staying inside the exact class (pb convex, or rectilinear via its
    cells — cells are rectangles, hence convex)."""
    sub_rings = _convex_pieces_of(pb.coords)
    if sub_rings is None:
        raise _Unsupported("subtrahend outside the decomposable class")
    return _rings_minus_sub(rings, sub_rings)


def _line_minus_convex(p: Pt, q: Pt, ring: list[Pt]) -> list[tuple[Pt, Pt]]:
    """Segment p→q minus the (closed) convex ring's interior: the ≤2
    complement sub-segments of the clipped [t0, t1] span."""
    seg = _clip_segment_convex(p, q, ring)
    if seg is None:
        return [(p, q)]
    (a, b) = seg
    out: list[tuple[Pt, Pt]] = []
    if a != p:
        out.append((p, a))
    if b != q:
        out.append((b, q))
    return out


def _line_minus_line(p: Geometry, pb: Geometry) -> list[Geometry]:
    """LineString ``p`` minus LineString ``pb``, exact: per minuend
    segment, the collinear overlap intervals with ``pb``'s segments
    are subtracted on the segment's dominant axis (1-D interval
    subtraction with closure semantics — the leftover intervals are
    closed, matching PostGIS: LINESTRING(0 0,2 0) − LINESTRING(0 0,1 0)
    = LINESTRING(1 0,2 0)). Crossing/touch points cut nothing (the
    difference of closures keeps them); zero-length leftovers drop
    (PostGIS returns EMPTY for a fully-covered line, not the leftover
    boundary points). Surviving 2-point pieces that stay connected at
    the minuend's own vertices are stitched back into one chain, so an
    untouched multi-vertex minuend returns SHAPE-identical — interior
    vertices preserved (PostGIS parity; code-review r8: the first cut
    of this function re-emitted every minuend per-segment, silently
    resegmenting lines the subtrahend never touched)."""
    spans: list[list[Pt]] = []
    for u, v in zip(p.coords, p.coords[1:]):
        d = (v[0] - u[0], v[1] - u[1])
        if d == (0.0, 0.0):
            continue  # repeated vertex: no point set of its own
        ax = 0 if abs(d[0]) >= abs(d[1]) else 1
        lo_a, hi_a = sorted((u[ax], v[ax]))
        cuts: list[tuple] = []
        for p2, q2 in zip(pb.coords, pb.coords[1:]):
            d2 = (q2[0] - p2[0], q2[1] - p2[1])
            if d2 == (0.0, 0.0):
                continue
            if d[0] * d2[1] - d[1] * d2[0] != 0.0:
                continue  # not parallel: at most a 0-D crossing
            if not G._segs_intersect(u, v, p2, q2):
                continue  # parallel but disjoint (or a different line)
            lo2, hi2 = sorted((p2[ax], q2[ax]))
            lo, hi = max(lo_a, lo2), min(hi_a, hi2)
            if lo < hi:
                cuts.append((lo, hi))
        if not cuts:
            spans.append([u, v])
            continue
        cuts.sort()
        merged = [list(cuts[0])]
        for lo, hi in cuts[1:]:
            if lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])

        def _at(t, _u=u, _d=d, _ax=ax):
            s = (t - _u[_ax]) / _d[_ax]
            return (_u[0] + s * _d[0], _u[1] + s * _d[1])

        left: list[list[Pt]] = []
        pos = lo_a
        for lo, hi in merged + [[hi_a, hi_a]]:
            if lo > pos:
                left.append([_at(pos), _at(lo)])
            pos = max(pos, hi)
        if u[ax] > v[ax]:  # keep the minuend's direction
            left = [seg[::-1] for seg in left[::-1]]
        spans.extend(left)
    # Stitch: consecutive surviving pieces are in travel order, so a
    # piece starting where the previous one ended continues the same
    # connected component of the difference — extend the chain (keeping
    # the shared vertex) instead of emitting a separate LineString.
    chains: list[list[Pt]] = []
    for seg in spans:
        if chains and chains[-1][-1] == seg[0]:
            chains[-1].extend(seg[1:])
        else:
            chains.append(list(seg))
    return [Geometry("LineString", c) for c in chains]


def _pair_difference(pieces: list, pb: Geometry) -> list:
    """Subtract simple part ``pb`` from each piece in ``pieces``
    (points / segments-as-LineStrings / rects / convex polygons), or
    raise _Unsupported. Zero-area subtrahends (points, lines) remove
    nothing from 2-D pieces — PostGIS closure semantics."""
    if pb.kind == "Point":
        return [
            p
            for p in pieces
            if isinstance(p, tuple)
            or p.kind != "Point"
            or p.coords != pb.coords
        ]
    # Decompose the subtrahend ONCE for the whole piece loop
    # (code-review r7): pb_rects feeds the rect−rect fast path,
    # pb_rings everything else.
    pb_rects: list[Rect] | None = None
    pb_rings: list[list[Pt]] | None = None
    if pb.kind == "Polygon":
        pb_rects = _rects_of(pb.coords)
        pb_rings = (
            [
                [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
                for x0, y0, x1, y1 in pb_rects
            ]
            if pb_rects is not None
            else _convex_pieces_of(pb.coords)
        )
        if pb_rings is None:
            raise _Unsupported("undecomposable subtrahend")

    out: list = []
    for p in pieces:
        if isinstance(p, tuple):  # Rect piece
            if pb.kind == "LineString":
                out.append(p)  # 1-D subtrahend: area untouched
            elif pb_rects is not None:
                work = [p]
                for c in pb_rects:
                    work = [piece for r in work for piece in _rect_sub(r, c)]
                out.extend(work)
            elif pb.kind == "Polygon":
                x0, y0, x1, y1 = p
                cell = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
                out.extend(
                    Geometry("Polygon", [r])
                    for r in _rings_minus_sub([cell], pb_rings)
                )
            else:
                raise _Unsupported(f"rect - {pb.kind}")
        elif p.kind == "Point":
            if not _point_in_closure(p.coords, pb):
                out.append(p)
        elif p.kind == "LineString":
            if pb.kind == "LineString":
                # line − line: crossing/touch points are measure-zero
                # (the closure of the difference keeps them), but
                # collinear SHARED SPANS must be cut out — the r7 code
                # kept the minuend whole, so identical lines returned
                # the input where PostGIS returns EMPTY (ADVICE r7 #2).
                out.extend(_line_minus_line(p, pb))
                continue
            if pb.kind != "Polygon":
                raise _Unsupported(f"line - {pb.kind}")
            segs = list(zip(p.coords, p.coords[1:]))
            for s in pb_rings:
                segs = [piece for (u, v) in segs for piece in _line_minus_convex(u, v, s)]
                if not segs:
                    break
            out.extend(Geometry("LineString", [u, v]) for u, v in segs)
        elif p.kind == "Polygon":  # convex piece
            ca = _convex_ring_of(p.coords)
            if ca is None:
                raise _Unsupported("non-convex residual")
            if pb.kind == "LineString":
                out.append(p)
                continue
            if pb.kind != "Polygon":
                raise _Unsupported(f"polygon - {pb.kind}")
            out.extend(
                Geometry("Polygon", [r]) for r in _rings_minus_sub([ca], pb_rings)
            )
        else:
            raise _Unsupported(f"{p.kind} difference")
    return out


# ---------------------------------------------------------------------------
# assembly
# ---------------------------------------------------------------------------


def _dissolve_collinear_spans(lines: list[Geometry]) -> list[Geometry]:
    """Union 2-point collinear spans that overlap or touch into
    maximal spans (exact: spans group by their carrier line's
    normalized ``(A, B, C)`` normal form, then 1-D interval union on
    the line's dominant axis). Line×line intersection can emit the
    same shared span once per contributing segment pair — without the
    dissolve those would surface as stacked MultiLineString members.
    Multi-vertex pieces (untouched difference minuends) pass through
    unchanged: their vertex structure is caller-visible."""
    spans = [g for g in lines if len(g.coords) == 2]
    out = [g for g in lines if len(g.coords) != 2]
    if len(spans) <= 1:
        return out + spans
    groups: dict[tuple, tuple[int, list]] = {}
    for g in spans:
        # Coerce coords through Fraction BEFORE any arithmetic: mixing
        # a Fraction with a float silently degrades to float, which
        # would turn this exact carrier-line grouping approximate for
        # any future caller passing float coords (ADVICE r8 #3).
        # Floats are exact binary rationals, so Fraction() is lossless.
        (ux, uy), (vx, vy) = (_frac_pt(p) for p in g.coords)
        dx, dy = vx - ux, vy - uy
        if dx == 0 and dy == 0:
            continue  # degenerate span: no point set beyond its ends
        A, B, C = dy, -dx, dy * ux - dx * uy
        key = (
            (Fraction(1), B / A, C / A)
            if A != 0
            else (Fraction(0), Fraction(1), C / B)
        )
        axp = 1 if key[1] == 0 else 0  # B == 0 → vertical → param on y
        u, v = sorted(g.coords, key=lambda p: p[axp])
        groups.setdefault(key, (axp, []))[1].append((u, v))
    for axp, segs in groups.values():
        segs.sort(key=lambda s: (s[0][axp], s[1][axp]))
        cur_u, cur_v = segs[0]
        for u, v in segs[1:]:
            if u[axp] <= cur_v[axp]:
                if v[axp] > cur_v[axp]:
                    cur_v = v
            else:
                out.append(Geometry("LineString", [cur_u, cur_v]))
                cur_u, cur_v = u, v
        out.append(Geometry("LineString", [cur_u, cur_v]))
    return out


def _collinear_contains(e0: Pt, e1: Pt, u: Pt, v: Pt) -> bool:
    """True iff segment u→v lies entirely on segment e0→e1 (collinear
    1-D containment, exact). Used for contact-span subsumption: a
    boundary-contact span is always a sub-segment of some input ring
    edge, so coverage by a polygon PIECE shows up as containment in one
    of that piece's ring edges."""
    dx, dy = e1[0] - e0[0], e1[1] - e0[1]
    if dx == 0 and dy == 0:
        return False
    for p in (u, v):
        if (p[0] - e0[0]) * dy != (p[1] - e0[1]) * dx:
            return False  # not on the edge's carrier line
    ax = 0 if abs(dx) >= abs(dy) else 1
    lo, hi = sorted((e0[ax], e1[ax]))
    return all(lo <= p[ax] <= hi for p in (u, v))


def _merge_contiguous_lines(lines: list[Geometry]) -> list[Geometry]:
    """GEOS-linemerge-style chaining: join line pieces end-to-end at
    nodes where EXACTLY two line ends meet (code-review r8: the
    boundary contact of a polygon with a hole came back as four
    2-point segments where PostGIS returns the single closed ring).
    Walks are deterministic — paths start from the first unmerged
    piece in input order, preferring non-degree-2 start nodes so open
    chains keep their first piece's direction; pure cycles close into
    a ring starting at that first piece."""
    if len(lines) <= 1:
        return lines
    degree: dict[Pt, int] = {}
    for ln in lines:
        if ln.coords[0] == ln.coords[-1]:
            continue  # already closed: not mergeable
        for end in (ln.coords[0], ln.coords[-1]):
            degree[end] = degree.get(end, 0) + 1
    used = [False] * len(lines)
    by_end: dict[Pt, list[int]] = {}
    for i, ln in enumerate(lines):
        if ln.coords[0] != ln.coords[-1]:
            for end in (ln.coords[0], ln.coords[-1]):
                by_end.setdefault(end, []).append(i)
    out: list[Geometry] = [
        ln for i, ln in enumerate(lines) if ln.coords[0] == ln.coords[-1]
    ]
    for i, ln in enumerate(lines):
        if used[i] or ln.coords[0] == ln.coords[-1]:
            continue
        used[i] = True
        chain = list(ln.coords)
        # If the chain's start is a degree-2 node, the path continues
        # backwards too — extend both ends until hitting a non-2 node
        # or closing a cycle.
        for backwards in (False, True):
            while True:
                tip = chain[0] if backwards else chain[-1]
                if degree.get(tip, 0) != 2 or chain[0] == chain[-1]:
                    break
                nxt = next(
                    (j for j in by_end.get(tip, []) if not used[j]), None
                )
                if nxt is None:
                    break
                used[nxt] = True
                seg = list(lines[nxt].coords)
                if backwards:
                    if seg[-1] != tip:
                        seg = seg[::-1]
                    chain = seg[:-1] + chain
                else:
                    if seg[0] != tip:
                        seg = seg[::-1]
                    chain = chain + seg[1:]
        out.append(Geometry("LineString", chain))
    return out


def _assemble(pieces: list) -> Geometry | None:
    """Combine disjoint pieces (Geometry parts and cell Rects) into one
    geometry; None means EMPTY."""
    rects = [p for p in pieces if isinstance(p, tuple)]
    geoms = [p for p in pieces if not isinstance(p, tuple)]
    if rects:
        for poly_rings in _rect_union_polys(rects):
            geoms.append(Geometry("Polygon", poly_rings))

    pts = [g for g in geoms if g.kind == "Point"]
    lines = _dissolve_collinear_spans(
        [g for g in geoms if g.kind == "LineString"]
    )
    polys = [g for g in geoms if g.kind == "Polygon"]
    # PostGIS never emits a collection member covered by a higher-dim
    # member: drop points lying on a line piece or in a polygon piece's
    # closure, and 2-point contact spans collinearly contained in a
    # polygon piece's ring edge (code-review r8: a Multi* part's
    # corner-touch point survived next to a sibling part's full 2-D
    # piece). Both tests are exact.
    if pts and (lines or polys):
        pts = [
            g
            for g in pts
            if not any(
                G._segs_intersect(g.coords, g.coords, c0, c1)
                for ln in lines
                for c0, c1 in zip(ln.coords, ln.coords[1:])
            )
            and not any(_point_in_closure(g.coords, pg) for pg in polys)
        ]
    if lines and polys:
        edges = [
            (c0, c1)
            for pg in polys
            for ring in pg.coords
            for c0, c1 in zip(ring, ring[1:])
        ]
        lines = [
            ln
            for ln in lines
            if not (
                len(ln.coords) == 2
                and any(_collinear_contains(e0, e1, *ln.coords) for e0, e1 in edges)
            )
        ]
    if not (pts or lines or polys):
        return None
    kinds = [bool(pts), bool(lines), bool(polys)].count(True)
    if kinds > 1:
        return Geometry("GeometryCollection", pts + lines + polys)
    if pts:
        uniq = sorted({g.coords for g in pts})
        if len(uniq) == 1:
            return Geometry("Point", uniq[0])
        return Geometry("MultiPoint", uniq)
    if lines:
        if len(lines) == 1:
            return lines[0]
        return Geometry("MultiLineString", [g.coords for g in lines])
    if len(polys) == 1:
        return polys[0]
    return Geometry("MultiPolygon", [g.coords for g in polys])


def intersection_geoms(a: Geometry, b: Geometry) -> Geometry | None:
    """a ∩ b over flattened simple parts (parts of a valid Multi* have
    disjoint interiors, so piecewise intersections are disjoint too).
    Returns None for EMPTY. Raises _Unsupported outside the class."""
    a_parts = [_frac_part(p) for p in _flatten(a)]
    b_parts = [_frac_part(p) for p in _flatten(b)]
    pieces: list = []
    for pa in a_parts:
        for pb in b_parts:
            pieces.extend(_pair_intersection(pa, pb))
    out = _assemble(pieces)
    return None if out is None else _drop_degenerate_float(_float_geom(out))


def _difference_pieces(a: Geometry, b: Geometry) -> list:
    """Pieces of a − b (each part of a successively loses every part of
    b) — unassembled, so ST_SymDifference can pool both directions'
    pieces into ONE assembly. Raises _Unsupported outside the class."""
    b_parts = [_frac_part(p) for p in _flatten(b)]
    out: list = []
    for pa in [_frac_part(p) for p in _flatten(a)]:
        if pa.kind == "Polygon":
            r = _rects_of(pa.coords)
            if r is not None:
                pieces: list = list(r)  # rect cells: dissolved output
            else:
                rings = _convex_pieces_of(pa.coords)
                if rings is None:
                    raise _Unsupported("minuend outside the decomposable class")
                pieces = [Geometry("Polygon", [ring]) for ring in rings]
        else:
            pieces = [pa]
        for pb in b_parts:
            pieces = _pair_difference(pieces, pb)
            if not pieces:
                break
        out.extend(pieces)
    return out


def difference_geoms(a: Geometry, b: Geometry) -> Geometry | None:
    """a − b. Returns None for EMPTY. Raises _Unsupported outside the
    class."""
    res = _assemble(_difference_pieces(a, b))
    return None if res is None else _drop_degenerate_float(_float_geom(res))


def symdifference_geoms(a: Geometry, b: Geometry) -> Geometry | None:
    """(a − b) ∪ (b − a): the two directions' piece sets have disjoint
    interiors by construction (each is carved out of the other input's
    complement), so one pooled assembly — the same dissolve the union
    sink applies — is the exact symmetric difference. Returns None for
    EMPTY. Raises _Unsupported outside the class."""
    res = _assemble(_difference_pieces(a, b) + _difference_pieces(b, a))
    return None if res is None else _drop_degenerate_float(_float_geom(res))


# ---------------------------------------------------------------------------
# WKT surface + Spark registration
# ---------------------------------------------------------------------------


def intersection_wkt(wa, wb) -> str | None:
    ga, gb = _parse(wa), _parse(wb)
    if ga is None or gb is None:
        return None
    # PostGIS empty-input shortcut: the empty INPUT is echoed back
    # (liblwgeom clones it; OverlayNG never sees empty inputs).
    # lwgeom_intersection checks geom2 FIRST, so A.Intersection(Empty)
    # echoes geom2 even when A is also empty (ADVICE r9 #3).
    if _is_empty(gb):
        return gb[1]
    if _is_empty(ga):
        return ga[1]
    try:
        out = intersection_geoms(ga, gb)
    except _Unsupported:
        return None  # documented NULL: outside the exact class
    if out is None:  # computed-empty: OverlayNG min-dimension rule
        return _EMPTY_BY_DIM[min(G.dimension(ga), G.dimension(gb))]
    return G.to_wkt(out)


def difference_wkt(wa, wb) -> str | None:
    ga, gb = _parse(wa), _parse(wb)
    if ga is None or gb is None:
        return None
    # PostGIS: Empty.Difference(A) == Empty (echo), A.Difference(Empty) == A.
    if _is_empty(ga):
        return ga[1]
    if _is_empty(gb):
        return G.to_wkt(ga)
    try:
        out = difference_geoms(ga, gb)
    except _Unsupported:
        return None
    if out is None:  # computed-empty: OverlayNG minuend-dimension rule
        return _EMPTY_BY_DIM[G.dimension(ga)]
    return G.to_wkt(out)


def symdifference_wkt(wa, wb) -> str | None:
    ga, gb = _parse(wa), _parse(wb)
    if ga is None or gb is None:
        return None
    # PostGIS: Empty.SymDifference(A) == A, A.SymDifference(Empty) == A;
    # lwgeom_symdifference echoes geom1 when BOTH are empty (ADVICE r9 #3).
    if _is_empty(ga):
        return ga[1] if _is_empty(gb) else G.to_wkt(gb)
    if _is_empty(gb):
        return G.to_wkt(ga)
    try:
        out = symdifference_geoms(ga, gb)
    except _Unsupported:
        return None
    if out is None:  # computed-empty: OverlayNG max-dimension rule
        return _EMPTY_BY_DIM[max(G.dimension(ga), G.dimension(gb))]
    return G.to_wkt(out)


@pandas_udf(StringType())
def st_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [intersection_wkt(x, y) for x, y in zip(a, b)], dtype="object"
    )


@pandas_udf(StringType())
def st_difference(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [difference_wkt(x, y) for x, y in zip(a, b)], dtype="object"
    )


@pandas_udf(StringType())
def st_symdifference(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [symdifference_wkt(x, y) for x, y in zip(a, b)], dtype="object"
    )


ALL_OVERLAY_FUNCTIONS = {
    "st_intersection": st_intersection,
    "st_difference": st_difference,
    "st_symdifference": st_symdifference,
}
