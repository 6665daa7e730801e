"""ST_Union — PostGIS's dissolving union, scalar and aggregate form.

The reference forwards unknown PostGIS names straight to PostGIS
(reference src/index.ts:44-63), so ``ST_Union`` is part of its accepted
SQL surface (SURVEY.md §2.6 F12); VERDICT r4 item 5 flagged it as the
last common PostGIS name missing here. This module implements the
dissolve over the WKT geometry model of ``geometry.py``:

- **Rectilinear parts** (every polygon in the fixture world — boxes,
  envelopes, point buffers — plus anything a previous union produced:
  L-shapes, frames with holes) are unioned EXACTLY: rectangles go into
  the pool directly, other rectilinear polygons are decomposed into
  covered grid cells first (``_rectilinear_cells``), then the pool is
  coordinate-compressed into a grid, covered cells are marked, and the
  covered-region boundary is traced with the interior kept on the
  walk's left. Exterior rings come out CCW and holes CW, so ring roles
  fall out of the signed area — a box frame built from four overlapping
  rectangles yields a polygon WITH its hole. Closure under union is
  what makes the cascaded aggregate exact: re-unioning stage-1 partials
  re-dissolves across partition boundaries instead of stacking
  overlapping partials. All arithmetic is comparisons and copies of
  input coordinates (the only derived values are cell/edge midpoints),
  so integer-valued inputs produce bit-exact output.
- **Non-rectangular parts** are pruned when covered by another part
  (``geometry.within``); the remaining parts form overlap components
  (edges: interiors overlap OR boundaries share positive-length
  linework) and each multi-member component dissolves EXACTLY through
  the boundary-dissolve kernel (r12, ``functions/dissolve.py``: exact
  rational noding of all member rings, arrangement faces kept when
  their interior point lies inside >=1 member, interior seams
  cancelled as opposite directed edges, boundary rings re-stitched
  interior-left) — the PostGIS output shape: ONE polygon per connected
  region, holes preserved, no internal seams, concave and holed
  members included. Component-restricted merging keeps the result a
  function of the part SET, never of input order. A member with a
  SELF-INTERSECTING ring rebuilds through the exact linework
  makevalid first (r12, ``_repair_members`` — PostGIS re-nodes
  invalid operands the same way) and its repaired areal parts join
  the dissolve; only components makevalid itself refuses (outside its
  exact classes, e.g. multiply-wound rings) are appended undissolved:
  the result is the correct point set, but
  ``st_area``/``st_perimeter`` double-count the overlap — a
  RuntimeWarning fires when this happens (ADVICE r6). Cascade stage-1 partials skip
  the dissolve entirely (``merge_convex=False``) so the final union
  makes the component decision globally — keeping the aggregate
  partition-layout-independent. Points/lines union by dedup +
  covered-by-polygon pruning, GeometryCollection when dimensions stay
  mixed.

Scale shape (SCALE.md "st_union"): the aggregate is exposed as the
scalar ``st_union_all(array<wkt>)`` so ``collect_list`` does the
grouping — but the registered query (operators/union_agg.py) does NOT
ship every geometry to its group: a ``mapInPandas`` pass first unions
each *partition's* geometries per key (PostGIS "cascaded union" done as
map-side partial aggregation), so the shuffle carries one partial
geometry per (partition, key) instead of one row per input geometry.
"""

from __future__ import annotations

import warnings
from bisect import bisect_left
from collections import defaultdict

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .geometry import Geometry

Pt = tuple[float, float]

# ---------------------------------------------------------------------------
# part decomposition
# ---------------------------------------------------------------------------


def _flatten(g: Geometry) -> list[Geometry]:
    """Simple (non-multi) parts, recursively through collections."""
    if g.kind == "MultiPoint":
        return [Geometry("Point", p) for p in g.coords]
    if g.kind == "MultiLineString":
        return [Geometry("LineString", line) for line in g.coords]
    if g.kind == "MultiPolygon":
        return [Geometry("Polygon", rings) for rings in g.coords]
    if g.kind == "GeometryCollection":
        return [p for sub in g.coords for p in _flatten(sub)]
    return [g]


def _as_rect(g: Geometry) -> tuple[float, float, float, float] | None:
    """(x0, y0, x1, y1) iff ``g`` is a hole-free axis-aligned rectangle
    with positive area (vertex order / orientation irrelevant)."""
    if g.kind != "Polygon" or len(g.coords) != 1:
        return None
    ring = g.coords[0]
    if len(ring) != 5 or ring[0] != ring[-1]:
        return None
    xs = {p[0] for p in ring}
    ys = {p[1] for p in ring}
    if len(xs) != 2 or len(ys) != 2:
        return None
    for (ax, ay), (bx, by) in zip(ring, ring[1:]):
        if ax != bx and ay != by:  # diagonal edge
            return None
    x0, x1 = min(xs), max(xs)
    y0, y1 = min(ys), max(ys)
    if x0 == x1 or y0 == y1:
        return None
    # Each corner exactly once: rejects degenerate backtracking rings
    # like (0 0, 1 0, 1 1, 1 0, 0 0) — 5 closed points, 2 distinct
    # xs/ys, axis-parallel edges, but zero shoelace area.
    if sorted(ring[:-1]) != sorted([(x0, y0), (x1, y0), (x1, y1), (x0, y1)]):
        return None
    return (x0, y0, x1, y1)


def _rectilinear_cells(
    rings: list[list[Pt]],
) -> list[tuple[float, float, float, float]] | None:
    """Decompose a RECTILINEAR polygon (every edge axis-parallel, holes
    allowed) into covered grid-cell rectangles — None if any edge is
    diagonal. This is what makes the two-stage cascade EXACT: stage-1
    partial unions emit L-shaped/holed rectilinear polygons, and feeding
    their cells back into the rectangle pool lets stage 2 re-dissolve
    across partial boundaries instead of stacking overlapping partials
    (which would double-count area whenever one group's inputs span
    multiple partitions). Cell centers sit strictly between grid lines,
    and every edge lies ON a grid line, so the even-odd test is never
    evaluated on a boundary."""
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            if ax != bx and ay != by:
                return None
    xs = sorted({p[0] for ring in rings for p in ring})
    ys = sorted({p[1] for ring in rings for p in ring})
    out = []
    for i in range(len(xs) - 1):
        cx = (xs[i] + xs[i + 1]) / 2  # / 2 not / 2.0: Fractions stay exact
        for j in range(len(ys) - 1):
            cy = (ys[j] + ys[j + 1]) / 2
            if G._point_in_polygon(cx, cy, rings):
                out.append((xs[i], ys[j], xs[i + 1], ys[j + 1]))
    return out


# ---------------------------------------------------------------------------
# exact rectilinear union
# ---------------------------------------------------------------------------


def _rect_union_polys(rects: list[tuple[float, float, float, float]]) -> list[list[list[Pt]]]:
    """Dissolve axis-aligned rectangles into polygons (exterior ring
    first, then holes; rings closed). Grid size is O(n²) cells for n
    rectangles — fine because callers bound n (per-batch partial unions,
    then one final union of partials; see module docstring)."""
    xs = sorted({r[0] for r in rects} | {r[2] for r in rects})
    ys = sorted({r[1] for r in rects} | {r[3] for r in rects})
    nx, ny = len(xs) - 1, len(ys) - 1
    covered = [[False] * ny for _ in range(nx)]
    for x0, y0, x1, y1 in rects:
        for i in range(bisect_left(xs, x0), bisect_left(xs, x1)):
            for j in range(bisect_left(ys, y0), bisect_left(ys, y1)):
                covered[i][j] = True

    # Directed boundary edges with the covered region on the LEFT of the
    # walk: exteriors trace CCW, holes CW.
    edges: list[tuple[Pt, Pt]] = []
    for i in range(nx + 1):  # vertical grid lines x = xs[i]
        for j in range(ny):
            west = covered[i - 1][j] if i > 0 else False
            east = covered[i][j] if i < nx else False
            if east and not west:  # interior to the east → walk south
                edges.append(((xs[i], ys[j + 1]), (xs[i], ys[j])))
            elif west and not east:  # interior to the west → walk north
                edges.append(((xs[i], ys[j]), (xs[i], ys[j + 1])))
    for j in range(ny + 1):  # horizontal grid lines y = ys[j]
        for i in range(nx):
            south = covered[i][j - 1] if j > 0 else False
            north = covered[i][j] if j < ny else False
            if north and not south:  # interior to the north → walk east
                edges.append(((xs[i], ys[j]), (xs[i + 1], ys[j])))
            elif south and not north:  # interior to the south → walk west
                edges.append(((xs[i + 1], ys[j]), (xs[i], ys[j])))

    out: dict[Pt, list[Pt]] = defaultdict(list)
    for a, b in edges:
        out[a].append(b)

    def turn_pref(d_in: Pt, d_out: Pt) -> int:
        """Left turn < straight < right turn < U-turn: keeps rings that
        meet at a checkerboard corner separated instead of figure-8'd."""
        cross = d_in[0] * d_out[1] - d_in[1] * d_out[0]
        dot = d_in[0] * d_out[0] + d_in[1] * d_out[1]
        if cross > 0:
            return 0
        if cross == 0:
            return 1 if dot > 0 else 3
        return 2

    rings: list[tuple[list[Pt], Pt]] = []  # (closed raw ring, sample point)
    for a, b in edges:
        if b not in out.get(a, ()):  # already consumed
            continue
        out[a].remove(b)
        ring = [a, b]
        # Sample point for hole assignment: midpoint of the first RAW
        # edge — strictly between adjacent grid coordinates, so a
        # horizontal ray through it never meets a grid vertex.
        sample = ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
        while ring[-1] != ring[0]:
            cur, prev = ring[-1], ring[-2]
            d_in = (cur[0] - prev[0], cur[1] - prev[1])
            nxt = min(
                out[cur],
                key=lambda c: turn_pref(d_in, (c[0] - cur[0], c[1] - cur[1])),
            )
            out[cur].remove(nxt)
            ring.append(nxt)
        rings.append((ring, sample))

    def simplify(ring: list[Pt]) -> list[Pt]:
        """Merge collinear runs; input closed, output closed."""
        pts = ring[:-1]
        keep = []
        n = len(pts)
        for k in range(n):
            p0, p1, p2 = pts[k - 1], pts[k], pts[(k + 1) % n]
            if (p1[0] - p0[0]) * (p2[1] - p1[1]) != (p1[1] - p0[1]) * (p2[0] - p1[0]):
                keep.append(p1)
        return keep + [keep[0]]

    def signed_area(ring: list[Pt]) -> float:
        s = 0.0
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            s += ax * by - bx * ay
        return s / 2

    def in_ring(p: Pt, ring: list[Pt]) -> bool:
        """Even-odd horizontal ray cast. Callers guarantee p.y is never a
        vertex y of ``ring`` (sample points sit between grid lines)."""
        px, py = p
        inside = False
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            if ax == bx and ax > px and min(ay, by) < py < max(ay, by):
                inside = not inside
        return inside

    exteriors: list[tuple[list[Pt], float]] = []
    holes: list[tuple[list[Pt], Pt]] = []
    for ring, sample in rings:
        slim = simplify(ring)
        a = signed_area(slim)
        if a > 0:
            exteriors.append((slim, a))
        else:
            holes.append((slim, sample))

    polys: list[list[list[Pt]]] = [[ext] for ext, _ in exteriors]
    for hole, sample in holes:
        candidates = [
            (area, idx)
            for idx, (ext, area) in enumerate(exteriors)
            if in_ring(sample, ext)
        ]
        _, idx = min(candidates)  # smallest containing exterior = direct parent
        polys[idx].append(hole)
    return polys


# ---------------------------------------------------------------------------
# exact convex-pair union (r7, VERDICT r6 item 6)
# ---------------------------------------------------------------------------


def _simple_ring(ring: list[Pt]) -> bool:
    from . import overlay as _ov  # lazy: overlay imports this module

    return _ov._is_simple_ring(ring)


def _signed_area_ring(ring: list[Pt]) -> float:
    # signed_area2's int seed keeps Fraction rings exact (float +=
    # Fraction would round every term — ADVICE r7 #3: a large-coordinate
    # ring's exact area −648 came back 0.0, breaking the ==0 sliver
    # filters and the _interiors_overlap witness). Float callers stay
    # float.
    return _nod.signed_area2(ring) / 2


def _is_convex_ring(ring: list[Pt]) -> bool:
    """True iff the closed ring is convex (collinear runs allowed)."""
    sign = 0
    pts = ring[:-1]
    n = len(pts)
    for k in range(n):
        o, a, b = pts[k], pts[(k + 1) % n], pts[(k + 2) % n]
        cr = (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])
        if cr != 0.0:
            s = 1 if cr > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


def _clip_convex(subject: list[Pt], clip: list[Pt]) -> list[Pt]:
    """Sutherland-Hodgman: subject polygon ∩ CONVEX clip polygon (both
    closed rings, any orientation) → open vertex list (may be empty /
    degenerate). The standard published algorithm — each clip edge
    half-plane clips the running vertex list."""
    if _signed_area_ring(clip) < 0:
        clip = clip[::-1]  # inside == left of each directed clip edge
    out = list(subject[:-1])
    for (cx1, cy1), (cx2, cy2) in zip(clip, clip[1:]):
        if not out:
            return []
        inp, out = out, []
        ex, ey = cx2 - cx1, cy2 - cy1

        def side(p: Pt) -> float:
            return ex * (p[1] - cy1) - ey * (p[0] - cx1)

        def hit(p: Pt, q: Pt) -> Pt:
            # side(p + t·(q−p)) = side(p) + t·den = 0  →  t = −side(p)/den;
            # den ≠ 0 whenever SH calls this (the segment strictly
            # straddles the clip line, so it cannot be parallel to it)
            den = ex * (q[1] - p[1]) - ey * (q[0] - p[0])
            t = -side(p) / den
            return (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))

        for i, p in enumerate(inp):
            q = inp[(i + 1) % len(inp)]
            sp, sq = side(p), side(q)
            if sp >= 0:
                out.append(p)
                if sq < 0:
                    out.append(hit(p, q))
            elif sq >= 0:
                out.append(hit(p, q))
    return out


def _seg_intersections(a1: Pt, a2: Pt, b1: Pt, b2: Pt) -> list[Pt]:
    """Proper or endpoint intersection points of two segments (collinear
    overlaps contribute their endpoints via the vertex candidates, so
    they are deliberately skipped here)."""
    d1x, d1y = a2[0] - a1[0], a2[1] - a1[1]
    d2x, d2y = b2[0] - b1[0], b2[1] - b1[1]
    den = d1x * d2y - d1y * d2x
    if den == 0.0:
        return []
    t = ((b1[0] - a1[0]) * d2y - (b1[1] - a1[1]) * d2x) / den
    u = ((b1[0] - a1[0]) * d1y - (b1[1] - a1[1]) * d1x) / den
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        return [(a1[0] + t * d1x, a1[1] + t * d1y)]
    return []


# ---------------------------------------------------------------------------
# general union
# ---------------------------------------------------------------------------


def _repair_members(kept: list[Geometry], members: list[int]) -> list[Geometry]:
    """Component members ready for the dissolve: simple-ring members
    pass through; a member with a non-simple ring rebuilds through the
    exact linework makevalid (functions/validity.py — PostGIS re-nodes
    invalid operands the same way) and contributes its repaired areal
    parts. Raises overlay._Unsupported when makevalid refuses (outside
    its exact classes) — the caller's stacked-warning path."""
    from . import overlay as _ov
    from . import validity as _val

    out: list[Geometry] = []
    for k in members:
        m = kept[k]
        rings_ok = True
        for ring in m.coords:
            closed = list(ring)
            if closed and closed[0] != closed[-1]:
                closed.append(closed[0])
            if len(closed) < 4 or not _ov._is_simple_ring(closed):
                rings_ok = False
                break
        if rings_ok:
            out.append(m)
            continue
        mv = _val.makevalid_geom(m)  # raises _Unsupported outside class
        if mv is None:
            continue  # fully collapsed: no area to contribute
        out.extend(p for p in _flatten(mv) if p.kind == "Polygon")
    if not out:
        raise _ov._Unsupported("union: component repaired to nothing")
    return out


def union_geoms(
    geoms: list[Geometry | None], merge_convex: bool = True
) -> Geometry | None:
    """Union of a list of geometries (nulls skipped, like a SQL
    aggregate). See module docstring for exactness boundaries.

    ``merge_convex=False`` skips the convex-pair dissolve (and its
    warning): cascade STAGE-1 partial unions must pass non-rectilinear
    parts through untouched so the FINAL union sees every original
    part and makes the merge decision globally — a stage-1 partial
    that greedily merged two members of a 3-way overlap component
    would make the result depend on how rows split across partitions
    (r7 self-review finding)."""
    parts = [p for g in geoms if g is not None for p in _flatten(g)]
    if not parts:
        return None

    rects: list[tuple[float, float, float, float]] = []
    other_polys: list[Geometry] = []
    lines: list[Geometry] = []
    points: list[Geometry] = []
    for p in parts:
        if p.kind == "Polygon":
            r = _as_rect(p)
            if r is not None:
                rects.append(r)
                continue
            cells = _rectilinear_cells(p.coords)
            if cells is not None and all(
                _simple_ring(r) for r in p.coords
            ):
                # L-shapes/holed partials re-dissolve. The simplicity
                # gate matches the overlay's (ADVICE r7 #4): a
                # SELF-INTERSECTING axis-parallel ring passes the cell
                # decomposition via even-odd reinterpretation, so
                # without the gate ST_Union silently rewrote it while
                # the overlay path correctly refused. Non-simple rings
                # fall to the undissolved/warned path below.
                rects.extend(cells)
            else:
                other_polys.append(p)
        elif p.kind == "LineString":
            lines.append(p)
        elif p.kind == "Point":
            points.append(p)

    poly_parts: list[Geometry] = [
        Geometry("Polygon", rings) for rings in _rect_union_polys(sorted(set(rects)))
    ] if rects else []
    poly_parts.extend(other_polys)

    # Prune parts covered by another part (first survivor wins on ties,
    # so duplicate parts collapse to one).
    kept: list[Geometry] = []
    for i, p in enumerate(poly_parts):
        covered = any(
            G.within(p, q) for j, q in enumerate(poly_parts) if j != i and (j < i or not G.within(q, p))
        )
        if not covered:
            kept.append(p)

    # Overlap components dissolve through the exact boundary-dissolve
    # kernel (r12, VERDICT r11 item 3 — functions/dissolve.py: noded
    # arrangement faces, inside-any-member filter, seam cancellation,
    # interior-left ring stitch). Components are a function of the part
    # SET alone, so the result stays permutation/partition invariant
    # (the r7 invariant, TestConvexMergeDeterminism). Edges connect
    # parts whose INTERIORS overlap or whose boundaries share
    # positive-length linework — PostGIS dissolves edge-adjacent
    # polygons into one polygon even without interior overlap.
    if merge_convex and len(kept) > 1:
        from . import dissolve as _dis
        from . import overlay as _ov
        from . import relations as _rel

        def _interiors_overlap(i: int, j: int) -> bool:
            # Exact witness first (r7): some arrangement face lies
            # inside both parts iff the interiors truly overlap — the
            # crossing/vertex-based predicate missed IDENTICAL polygons
            # whose coincident boundaries admit no proper crossing
            # (star fuzz: duplicates stacked silently, doubling the
            # union's area). Fall back to the predicate only for
            # non-simple rings, which the face kernel refuses (their
            # component is repaired before the dissolve below).
            try:
                return _dis.interiors_overlap(kept[i], kept[j])
            except _ov._Unsupported:
                return _rel.interiors_intersect(kept[i], kept[j])

        n = len(kept)
        segs_cache: dict[int, list | None] = {}

        def segs(k: int):
            if k not in segs_cache:
                segs_cache[k] = _dis.frac_segments(kept[k])
            return segs_cache[k]

        adj = [set() for _ in range(n)]
        overlap_pairs: set[tuple[int, int]] = set()
        for i in range(n):
            for j in range(i + 1, n):
                if _interiors_overlap(i, j):
                    overlap_pairs.add((i, j))
                elif not _dis.boundaries_share_linework(
                    kept[i], kept[j], segs(i), segs(j)
                ):
                    continue
                adj[i].add(j)
                adj[j].add(i)
        comp = list(range(n))
        for i in range(n):  # tiny n: label propagation is fine
            for j in adj[i]:
                a, b = comp[i], comp[j]
                if a != b:
                    lo, hi = min(a, b), max(a, b)
                    comp = [lo if c == hi else c for c in comp]
        by_comp: dict[int, list[int]] = defaultdict(list)
        for i, c in enumerate(comp):
            by_comp[c].append(i)

        merged_out: list[Geometry] = []
        drop: set[int] = set()
        unresolved_overlap = False
        for members in by_comp.values():
            if len(members) == 1:
                continue
            # Boundary-dissolved union of the component (r12): exact
            # rational noding + face filter + seam cancellation, the
            # PostGIS output shape — one polygon per connected region,
            # holes preserved, no internal seams. Members with a
            # non-simple ring get ONE repair attempt through the exact
            # linework makevalid first (PostGIS re-nodes invalid inputs
            # before unioning); only components makevalid itself
            # refuses (outside its exact classes) fall to the
            # documented stacked-parts warning below.
            try:
                merged_out.extend(
                    _dis.dissolve_polygons(_repair_members(kept, members))
                )
                drop.update(members)
            except _ov._Unsupported:
                # The double-count warning is about OVERLAPPING
                # interiors staying stacked; a component connected only
                # by shared boundary linework that fails the dissolve
                # (e.g. a non-simple ring) keeps exact area/perimeter,
                # so it must not fire the warning (code-review r12).
                if any(
                    (i, j) in overlap_pairs
                    for i in members
                    for j in members
                    if i < j
                ):
                    unresolved_overlap = True
        if drop:
            kept = [p for i, p in enumerate(kept) if i not in drop] + merged_out
            # A dissolved union may now cover parts outside its
            # component (touching-only parts): re-prune.
            if len(kept) > 1:
                kept = [
                    p
                    for i, p in enumerate(kept)
                    if not any(
                        G.within(p, q)
                        for j, q in enumerate(kept)
                        if j != i and (j < i or not G.within(q, p))
                    )
                ]

        # Loud signal for the remaining inexact case (ADVICE r6):
        # interiors that still overlap are kept as stacked parts — the
        # point set is right but st_area/st_perimeter over the union
        # double-count the overlap (PostGIS re-nodes; module docstring).
        if unresolved_overlap:
            warnings.warn(
                "st_union: overlapping polygon parts kept as stacked "
                "MultiPolygon members — st_area/st_perimeter over this "
                "union double-count the overlap (exact for rectilinear "
                "inputs and isolated convex pairs; PostGIS re-nodes)",
                RuntimeWarning,
                stacklevel=2,
            )

    poly_geom: Geometry | None = None
    if len(kept) == 1:
        poly_geom = kept[0]
    elif kept:
        poly_geom = Geometry("MultiPolygon", [p.coords for p in kept])

    def uncovered(g: Geometry) -> bool:
        return poly_geom is None or not G.within(g, poly_geom)

    kept_lines = []
    seen_l: set[tuple] = set()
    for line in lines:
        key = tuple(line.coords)
        if key not in seen_l and uncovered(line):
            seen_l.add(key)
            kept_lines.append(line)
    kept_points = []
    seen_p: set[Pt] = set()
    for pt in points:
        if pt.coords not in seen_p and uncovered(pt) and not any(
            G.within(pt, line) for line in kept_lines
        ):
            seen_p.add(pt.coords)
            kept_points.append(pt)

    pieces: list[Geometry] = []
    if poly_geom is not None:
        pieces.append(poly_geom)
    if kept_lines:
        pieces.append(
            kept_lines[0]
            if len(kept_lines) == 1
            else Geometry("MultiLineString", [line.coords for line in kept_lines])
        )
    if kept_points:
        pieces.append(
            kept_points[0]
            if len(kept_points) == 1
            else Geometry("MultiPoint", [pt.coords for pt in kept_points])
        )
    if not pieces:
        return None
    if len(pieces) == 1:
        return pieces[0]
    return Geometry("GeometryCollection", pieces)


def union_wkts(wkts, merge_convex: bool = True) -> str | None:
    geoms = [G.parse_wkt(w) for w in wkts if w is not None and not pd.isna(w)]
    g = union_geoms(geoms, merge_convex=merge_convex)
    return G.to_wkt(g) if g is not None else None


# ---------------------------------------------------------------------------
# UDF surface
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def st_union(a: pd.Series, b: pd.Series) -> pd.Series:
    """Binary ST_Union. PostGIS semantics for NULLs: union with NULL is
    the other geometry (aggregate-style), NULL only when both are."""
    out = []
    for x, y in zip(a, b):
        out.append(union_wkts([x, y]))
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_union_all(arr: pd.Series) -> pd.Series:
    """ST_Union aggregate form, over a collected array of WKTs:
    ``st_union_all(collect_list(geom))``. NULL/empty arrays → NULL."""
    return pd.Series(
        [None if a is None else union_wkts(list(a)) for a in arr], dtype=object
    )


ALL_UNION_FUNCTIONS = {
    "st_union": st_union,
    "st_union_all": st_union_all,
}

# Last: noding imports overlay, which imports this module's kernels.
from . import noding as _nod  # noqa: E402
