"""ST_Intersection / ST_Difference / ST_SymDifference — exact boolean
overlay on one kernel.

The reference forwards these names to PostGIS itself alongside
ST_Union (reference src/index.ts:44-63 routes any PostGIS-accepted
function through the rebuilt PostgreSQL query), so its answers are
GEOS OverlayNG's; this module computes them natively so the Spark
engine's SQL surface answers the same queries without a PostGIS
round-trip.

Exactness matrix (same design stance as union_ops.py: EXACT inside a
machine-checkable class, NULL — never a silently wrong geometry —
outside it). Every kernel runs on exact rational (Fraction)
coordinates; results convert to float only at serialization.

- **polygon × polygon** (holes and Multi* allowed) — the
  arrangement-face overlay of functions/dissolve.py, the kernel that
  also dissolves ST_Union: all rings of both operands are noded
  exactly, each arrangement face is kept by the operation's rule
  (intersection: in A and in B; difference: in A and not in B;
  symdifference: in exactly one), interior seams cancel, and the
  surviving edges stitch into the shape PostGIS returns — one
  dissolved POLYGON per connected region, holes preserved, no seams.
  Polygon pairs whose interiors do not overlap intersect in their
  boundary contact, as PostGIS does: shared edges as maximal
  LINESTRING chains (ring × ring collinear intersection) and corner
  contacts as POINTs. Remaining divergence: a part pair whose
  interiors DO overlap contributes only its 2-D part, even where it
  also touches outside it (PostGIS emits a mixed collection in that
  exotic case).
- **line × polygon** — the line is noded on the polygon's rings
  (``noding.pairwise_splits`` in cross-only mode) and each sub-segment
  is classified by its exact midpoint: inside or on the boundary goes
  to the intersection, outside to the difference. A boundary touch
  with no kept neighbouring sub-segment is a POINT in the
  intersection (a tangent line touches a polygon in PostGIS's touch
  point, not EMPTY).
- **line × line** — exact: crossing/touch points plus the collinear
  shared spans (1-D interval intersection per collinear segment pair,
  dissolved into maximal spans at assembly; points covered by a span
  are dropped, so mixed results match PostGIS's collection shape).
  Difference subtracts the shared spans with closure semantics and
  drops zero-length leftovers (identical lines → EMPTY, as PostGIS).
- **point × anything** — membership tests (closure semantics: a point
  on a polygon boundary intersects it, matching PostGIS, whose
  overlays operate on closures).
- **anything else** — a polygon with a self-intersecting ring, which
  the same non-adjacent-edge crossing check the union dissolve uses
  (``_is_simple_ring``) detects explicitly → NULL (documented here, in
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

Scale: all three functions are per-row pandas UDFs (Arrow-batched,
map-only) — no shuffle, no driver participation; candidate pair
generation for overlay joins belongs to the caller (bbox/grid
blocking, see operators/overlay_ops.py).
"""

from __future__ import annotations

from fractions import Fraction

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import dissolve as _dis
from . import geometry as G
from . import noding as _nod
from .geometry import Geometry
from .union_ops import _flatten, _seg_intersections
from .wkt import _EMPTY_RE

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
# kernels run on Fraction coordinates: noding, orientation tests, point
# location and areas are then EXACT for every input, not just
# integer/dyadic fixtures (the same stance as relations.py's
# exact-arithmetic DE-9IM predicates). The star-polygon fuzz
# demonstrated why: float kernels drifted on nearly-degenerate
# irrational rings. Results convert back to float only at assembly
# (round-to-nearest per vertex).
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
    zero area. An exact result can hold a genuine sliver face of area
    ~1e-33 (two nearly-coincident input edges bound it); such a part
    has no representable area in the float output domain — its
    vertices round to collinear points — so it does not exist in the
    result. Genuine parts keep their float area and survive."""
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


def _point_in_closure(p: Pt, g: Geometry) -> bool:
    return G.intersects(Geometry("Point", p), g)


# ---------------------------------------------------------------------------
# pairwise overlays over simple (flattened) parts
# ---------------------------------------------------------------------------


def _pair_intersection(a: Geometry, b: Geometry) -> list:
    """Pieces of a ∩ b for SIMPLE exact-rational parts, at least one of
    them a Point or LineString (areal pairs go through the face
    overlay). Returns a list of ``Geometry`` pieces."""
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
        return _clip_lines([line], [poly], inside=True)

    # polygon pairs are areal: the face overlay handles them at the
    # geometry level (intersection_geoms)
    raise _Unsupported(f"{a.kind} x {b.kind}")


def _polygon_boundary_contact(a: Geometry, b: Geometry) -> list:
    """0-/1-D contact of two polygons whose INTERIORS do not overlap
    (``intersection_geoms`` routes exactly those pairs here): the
    pairwise ring×ring line intersection — shared edges come back as
    collinear spans, corner touches as points, and disjoint pairs as
    nothing. This is the PostGIS result shape for touching polygons
    (r8 — previously a documented EMPTY divergence)."""
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


def _dedupe_closed(ring: list[Pt]) -> list[Pt]:
    """Normalize a CLOSED ring: drop consecutive duplicate vertices and
    zero-width SPIKES (A→B→A backtracks), iterating to a fixed point.
    Float rounding of exact output vertices produces both when
    exact-distinct neighbours round to one float."""
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


def _ring_bbox(ring: list[Pt]) -> Rect:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return (min(xs), min(ys), max(xs), max(ys))


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


def _clip_lines(lines: list[Geometry], polys: list[Geometry], inside: bool) -> list:
    """Pieces of exact-rational LineStrings ``lines`` in the closure of
    the exact-rational ``polys`` (``inside``) or outside all of them.
    Each line is noded on every polygon ring (cross-only: its own
    self-intersections stay), so each sub-segment lies wholly inside,
    on the boundary or outside and its exact midpoint classifies it.
    Kept sub-segments come back as 2-point LineStrings (assembly
    dissolves collinear runs); with ``inside``, a vertex in the
    closure with no kept neighbour is a touch POINT. Raises
    _Unsupported for a non-simple ring."""
    rings = [r for poly in polys for r in poly.coords]
    if not all(_is_simple_ring(r) for r in rings):
        raise _Unsupported("line x non-simple polygon")
    ring_segs = [(p, q) for r in rings for p, q in zip(r, r[1:]) if p != q]

    def covered(pt) -> bool:
        return any(G._point_in_polygon_frac(*pt, poly.coords) for poly in polys)

    pieces: list = []
    for line in lines:
        pts = line.coords[:1] + [
            q for p, q in zip(line.coords, line.coords[1:]) if q != p
        ]
        splits = _nod.pairwise_splits(list(zip(pts, pts[1:])), ring_segs)
        noded = _nod.insert_split_vertices(pts, lambda si: splits[si])
        subs = list(zip(noded, noded[1:]))
        kept = [
            covered(((u[0] + v[0]) / 2, (u[1] + v[1]) / 2)) == inside
            for u, v in subs
        ]
        pieces.extend(
            Geometry("LineString", [u, v]) for (u, v), k in zip(subs, kept) if k
        )
        if inside:
            edge_kept = [False] + kept + [False]  # vertex i's: i, i + 1
            pieces.extend(
                Geometry("Point", v)
                for i, v in enumerate(noded)
                if not (edge_kept[i] or edge_kept[i + 1]) and covered(v)
            )
    return pieces


def _pair_difference(pieces: list, pb: Geometry) -> list:
    """Subtract simple exact-rational part ``pb`` from point / line
    pieces. Zero-area subtrahends remove only what they cover in
    closure: a point removes points, a line removes points on it and
    its collinear shared spans — PostGIS closure semantics."""
    pts = [p for p in pieces if p.kind == "Point" and not _point_in_closure(p.coords, pb)]
    lines = [p for p in pieces if p.kind == "LineString"]
    if pb.kind == "LineString":
        # line − line: crossing/touch points are measure-zero (the
        # closure of the difference keeps them), but collinear SHARED
        # SPANS must be cut out — the r7 code kept the minuend whole,
        # so identical lines returned the input where PostGIS returns
        # EMPTY (ADVICE r7 #2).
        lines = [q for p in lines for q in _line_minus_line(p, pb)]
    elif pb.kind == "Polygon" and lines:
        lines = _clip_lines(lines, [pb], inside=False)
    return pts + lines


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


def _assemble(geoms: list) -> Geometry | None:
    """Combine pieces (the face overlay's polygons plus point/line
    pieces) into one geometry; None means EMPTY."""
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


def _polygons(g: Geometry) -> list[Geometry]:
    return [p for p in _flatten(g) if p.kind == "Polygon"]


def _areal(a_polys: list[Geometry], b_polys: list[Geometry], op: str) -> list:
    """``a_polys`` ``op`` ``b_polys`` through the face overlay
    (functions/dissolve.py), as exact-rational Polygons."""
    return [
        Geometry("Polygon", rings)
        for rings in _dis.overlay_rings(a_polys, b_polys, _dis.KEEP[op])
    ]


def intersection_geoms(a: Geometry, b: Geometry) -> Geometry | None:
    """a ∩ b: polygon parts through the face overlay, plus the boundary
    contact of every polygon part pair whose interiors do not overlap
    (one pair each: iff the area is empty); every other part pair
    piecewise. Returns None for EMPTY. Raises _Unsupported outside the
    class."""
    fa = [_frac_part(p) for p in _flatten(a)]
    fb = [_frac_part(p) for p in _flatten(b)]
    pieces: list = [
        piece
        for pa in fa
        for pb in fb
        if not (pa.kind == "Polygon" and pb.kind == "Polygon")
        for piece in _pair_intersection(pa, pb)
    ]
    a_polys, b_polys = _polygons(a), _polygons(b)
    if a_polys and b_polys:
        area = _areal(a_polys, b_polys, "intersection")
        single = len(a_polys) == len(b_polys) == 1
        pieces.extend(area)
        pieces.extend(
            piece
            for pa in a_polys
            for pb in b_polys
            if not (area and (single or _dis.interiors_overlap(pa, pb)))
            for piece in _polygon_boundary_contact(_frac_part(pa), _frac_part(pb))
        )
    out = _assemble(pieces)
    return None if out is None else _drop_degenerate_float(_float_geom(out))


def _difference_pieces(a: Geometry, b: Geometry) -> list:
    """Point and line pieces of a − b (each such part of a successively
    loses every part of b); the areal part is the face overlay's.
    Raises _Unsupported outside the class."""
    b_parts = [_frac_part(p) for p in _flatten(b)]
    out: list = []
    for pa in _flatten(a):
        if pa.kind == "Polygon":
            continue
        pieces = [_frac_part(pa)]
        for pb in b_parts:
            pieces = _pair_difference(pieces, pb)
            if not pieces:
                break
        out.extend(pieces)
    return out


def difference_geoms(a: Geometry, b: Geometry) -> Geometry | None:
    """a − b. Returns None for EMPTY. Raises _Unsupported outside the
    class."""
    a_polys = _polygons(a)
    area = _areal(a_polys, _polygons(b), "difference") if a_polys else []
    res = _assemble(area + _difference_pieces(a, b))
    return None if res is None else _drop_degenerate_float(_float_geom(res))


def symdifference_geoms(a: Geometry, b: Geometry) -> Geometry | None:
    """(a − b) ∪ (b − a): the areal part in ONE face overlay (faces in
    exactly one operand, so a − b and b − a pieces sharing an edge
    dissolve), the point/line parts from both directions. Returns None
    for EMPTY. Raises _Unsupported outside the class."""
    res = _assemble(
        _areal(_polygons(a), _polygons(b), "symdifference")
        + _difference_pieces(a, b)
        + _difference_pieces(b, a)
    )
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
