"""Derived-point and curve-measure functions: ST_IsSimple,
ST_PointOnSurface, ST_HausdorffDistance, ST_FrechetDistance, ST_Angle,
ST_TriangulatePolygon, ST_MinimumClearance(Line).

Reference parity: all six are PostGIS names the reference forwards
verbatim (F12, src/index.ts:44-63). Semantics follow GEOS/JTS:

- ``st_issimple`` — OGC simplicity. Points: always. MultiPoint: no
  repeated members. Polygonal: always (JTS: simplicity is defined for
  curves; validity is the separate question). Lines: repeated
  consecutive vertices collapse first (as JTS does), then no
  self-intersection except at per-ELEMENT Mod-2 boundary points: an
  open component's endpoints; a CLOSED component has an EMPTY
  boundary (its closing vertex passes only via first/last-segment
  adjacency, so a figure-eight through the closing point fails);
  cross-component contacts need a boundary point of BOTH components;
  any proper crossing or collinear overlap fails (JTS IsSimpleOp).
- ``st_pointonsurface`` — GEOS InteriorPoint family. Areal: each part
  bisects its OWN bbox (a global bisector could fall in the vertical
  gap between parts), intervals are even-odd over the part's rings,
  and the globally widest interval's midpoint wins; if a part's
  bisector collides with a ring vertex it re-bisects toward the
  nearest distinct vertex ordinate, and all-degenerate (zero-area)
  inputs fall back to the vertex nearest the centroid. Lines: the
  vertex nearest the centroid, interior vertices preferred
  (InteriorPointLine). Points: the member nearest the centroid.
- ``st_hausdorffdistance`` — DISCRETE Hausdorff (the PostGIS default,
  no densify fraction): max over the vertices of each geometry of the
  exact point-to-geometry distance to the other.
- ``st_frechetdistance`` — discrete Fréchet over the two vertex
  sequences (single LineStrings only, the standard dynamic program;
  JTS DiscreteFrechetDistance). Order-sensitive: a line vs its
  reverse is far apart even though Hausdorff is 0.
- ``st_angle(p1, p2, p3, p4)`` — clockwise angle from vector p1→p2 to
  vector p3→p4 in [0, 2π): ``(azimuth(p3, p4) − azimuth(p1, p2)) mod
  2π``, the same azimuth convention as ``projection.st_azimuth``.
- ``st_triangulatepolygon`` — ear-clipping triangulation
  (``_triangulate``, the standard published O(n²) algorithm) returned
  as a GEOMETRYCOLLECTION of triangles. Hole-free simple polygons
  only; anything else is a loud NULL, never a wrong tessellation.

Scale shape: all map-only Arrow-batched pandas UDFs; per-row cost is
quadratic in the row's own vertex count.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry, Point
from .relations import _line_components, _on_segment, _segs_collinear_overlap
from .union_ops import _signed_area_ring

# ---------------------------------------------------------------------------
# st_issimple
# ---------------------------------------------------------------------------


def _seg_contacts(a1, a2, b1, b2):
    """None = disjoint; 'interior' = proper crossing; 'overlap' =
    collinear 1-D overlap; else the set of vertex contact points."""
    if not G._segs_intersect(a1, a2, b1, b2):
        return None
    if G._segs_cross_properly(a1, a2, b1, b2):
        return "interior"
    if _segs_collinear_overlap(a1, a2, b1, b2):
        return "overlap"
    pts = set()
    for p in (a1, a2):
        if _on_segment(p, b1, b2):
            pts.add(p)
    for p in (b1, b2):
        if _on_segment(p, a1, a2):
            pts.add(p)
    return pts


def is_simple(g: Geometry) -> bool:
    if g.kind == "Point":
        return True
    if g.kind == "MultiPoint":
        pts = list(g.coords)
        return len(set(pts)) == len(pts)
    if g.kind in ("Polygon", "MultiPolygon"):
        return True  # JTS: polygonal inputs are simple by definition
    if g.kind == "GeometryCollection":
        return all(is_simple(sub) for sub in g.coords)
    # Drop repeated consecutive vertices first (JTS does the same):
    # a zero-length segment would make truly-adjacent segments look
    # non-adjacent to the index test below (code-review r10).
    comps = []
    for comp in _line_components(g):
        dd = [comp[0]]
        for pt in comp[1:]:
            if pt != dd[-1]:
                dd.append(pt)
        if len(dd) >= 2:
            comps.append(dd)
    segs = [
        (ci, si, comp[si], comp[si + 1])
        for ci, comp in enumerate(comps)
        for si in range(len(comp) - 1)
    ]
    # OGC Mod-2 boundaries per ELEMENT: an open component's endpoints;
    # a CLOSED component has an EMPTY boundary, so a figure-eight
    # through its own closing point is NOT simple (code-review r10).
    nseg = [len(comp) - 1 for comp in comps]
    closed = [comp[0] == comp[-1] for comp in comps]
    ends = [
        set() if closed[ci] else {comp[0], comp[-1]}
        for ci, comp in enumerate(comps)
    ]
    bboxes = [
        (min(a[0], b[0]), min(a[1], b[1]), max(a[0], b[0]), max(a[1], b[1]))
        for _ci, _si, a, b in segs
    ]
    for x in range(len(segs)):
        ci, si, a1, a2 = segs[x]
        xb = bboxes[x]
        for y in range(x + 1, len(segs)):
            cj, sj, b1, b2 = segs[y]
            yb = bboxes[y]
            if xb[2] < yb[0] or yb[2] < xb[0] or xb[3] < yb[1] or yb[3] < xb[1]:
                continue  # envelope prescreen (the _seg_bboxes idiom)
            contact = _seg_contacts(a1, a2, b1, b2)
            if contact is None:
                continue
            if contact in ("interior", "overlap"):
                return False
            adjacent = ci == cj and (
                abs(si - sj) == 1
                or (closed[ci] and {si, sj} == {0, nseg[ci] - 1})
            )
            shared = {a1, a2} & {b1, b2} if adjacent else set()
            for p in contact:
                if p in shared:
                    continue  # adjacent segments meet at their vertex
                if ci == cj:
                    if p not in ends[ci]:
                        return False  # self-contact away from the boundary
                elif not (p in ends[ci] and p in ends[cj]):
                    return False  # cross-component contact off-boundary
    return True


# ---------------------------------------------------------------------------
# st_pointonsurface
# ---------------------------------------------------------------------------


def _scanline_y(rings: list[list[Point]]) -> float | None:
    """Bisector ordinate for ONE polygon part (GEOS InteriorPointArea
    bisects each element separately — a global bisector could fall in
    the vertical gap between MultiPolygon parts; code-review r10).
    None for a degenerate (zero-height) part."""
    ys = sorted({p[1] for r in rings for p in r})
    if len(ys) < 2:
        return None
    y = (ys[0] + ys[-1]) / 2.0
    if y in ys:
        # re-bisect toward the nearest distinct ordinate above; the
        # result is strictly between two adjacent vertex ordinates, so
        # it cannot collide again (with >= 2 distinct ordinates the
        # midpoint is strictly below the max, so 'above' is nonempty)
        y = (y + min(v for v in ys if v > y)) / 2.0
    return y


def _part_intervals(rings: list[list[Point]], y: float) -> list[tuple[float, float]]:
    """Even-odd interior intervals of the horizontal line at ``y`` —
    half-open crossing rule, exact rational crossing x."""
    xs = []
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if (y1 <= y < y2) or (y2 <= y < y1):
                xs.append(x1 + (y - y1) * (x2 - x1) / (y2 - y1))
    xs.sort()
    return [(xs[i], xs[i + 1]) for i in range(0, len(xs) - 1, 2)]


def point_on_surface(g: Geometry) -> Point | None:
    polys = G._polys(g)
    if polys:
        best = None  # (width, midpoint, y)
        for rings in polys:
            rr = [list(r) for r in rings]
            y = _scanline_y(rr)
            if y is None:
                continue  # degenerate part: covered by the fallback
            for lo, hi in _part_intervals(rr, y):
                if best is None or hi - lo > best[0]:
                    best = (hi - lo, (lo + hi) / 2.0, y)
        if best is not None:
            return (best[1], best[2])
        # every part degenerate (zero area): fall back to the vertex
        # nearest the centroid so the surface still yields a point
        pts = G._points(g)
        cx, cy = G.centroid(g)
        return min(pts, key=lambda p: (p[0] - cx) ** 2 + (p[1] - cy) ** 2)
    comps = _line_components(g)
    if comps:
        cx, cy = G.centroid(g)
        interior = [p for comp in comps for p in comp[1:-1]]
        cands = interior or [p for comp in comps for p in (comp[0], comp[-1])]
        return min(cands, key=lambda p: (p[0] - cx) ** 2 + (p[1] - cy) ** 2)
    pts = G._points(g)
    if not pts:
        return None
    cx, cy = G.centroid(g)
    return min(pts, key=lambda p: (p[0] - cx) ** 2 + (p[1] - cy) ** 2)


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------


def hausdorff_distance(a: Geometry, b: Geometry) -> float:
    """Discrete Hausdorff: source side discretized to vertices, target
    side exact (point-to-segment), both directions."""
    best = 0.0
    for p in G._points(a):
        best = max(best, G.distance(Geometry("Point", p), b))
    for p in G._points(b):
        best = max(best, G.distance(Geometry("Point", p), a))
    return best


def frechet_distance(a: Geometry, b: Geometry) -> float | None:
    """Discrete Fréchet over vertex sequences (single LineStrings)."""
    if a.kind != "LineString" or b.kind != "LineString":
        return None
    p, q = list(a.coords), list(b.coords)
    n, m = len(p), len(q)
    if n == 0 or m == 0:
        return None

    def d(i: int, j: int) -> float:
        return math.hypot(p[i][0] - q[j][0], p[i][1] - q[j][1])

    ca = [[0.0] * m for _ in range(n)]
    for i in range(n):
        for j in range(m):
            dij = d(i, j)
            if i == 0 and j == 0:
                ca[i][j] = dij
            elif i == 0:
                ca[i][j] = max(ca[0][j - 1], dij)
            elif j == 0:
                ca[i][j] = max(ca[i - 1][0], dij)
            else:
                ca[i][j] = max(
                    min(ca[i - 1][j], ca[i - 1][j - 1], ca[i][j - 1]), dij
                )
    return ca[n - 1][m - 1]


# ---------------------------------------------------------------------------
# minimum clearance (r13)
# ---------------------------------------------------------------------------
#
# GEOS/PostGIS ST_MinimumClearance (Thompson & van Oosterom): the
# smallest positive distance among (a) every pair of vertices and
# (b) every vertex against every segment it is not an endpoint of —
# the magnitude of vertex perturbation the geometry can absorb before
# becoming invalid. Conventions here: zero-distance candidates are
# skipped (a repeated vertex does not drag clearance to 0 — matching
# the engine's dedup_vertices normalization stance); a geometry with
# NO positive candidate (single point, empty) has infinite clearance
# (PostGIS: Infinity; the clearance LINE is then LINESTRING EMPTY).
# Ties keep the first candidate in serialized scan order — oracle
# fixtures must make the witness unique (registry tie lesson).


# Work bound for the O(V²) candidate scans (VERDICT r13 / ADVICE r13:
# a single 10⁵-vertex polygon is 10¹⁰ Python ops in one task — the
# grids-family _MAX_CELLS idiom, loud NULL instead of a stalled
# executor). 2 000 vertices ≈ 2 s worst-row on this container.
_MAX_CLEARANCE_VERTICES = 2_000


def minimum_clearance_witness(
    g: Geometry,
) -> tuple[float, Point, Point] | None:
    """(clearance, from_vertex, to_point) or None when every candidate
    distance is zero or absent (infinite clearance). Raises ValueError
    on non-finite coordinates (garbage is NOT infinite clearance) and
    on geometries past the documented vertex budget (the scan is
    all-pairs; callers map the raise to a loud NULL)."""
    from .linearref import _project_to_segment

    pts = G._points(g)
    if len(pts) > _MAX_CLEARANCE_VERTICES:
        raise ValueError(
            f"minimum clearance vertex budget exceeded ({len(pts)} > "
            f"{_MAX_CLEARANCE_VERTICES})"
        )
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        raise ValueError("non-finite coordinates")
    segs = list(G._segments(g))
    best: tuple[float, Point, Point] | None = None
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            d = math.hypot(pts[i][0] - pts[j][0], pts[i][1] - pts[j][1])
            if d > 0.0 and (best is None or d < best[0]):
                best = (d, pts[i], pts[j])
    for p in pts:
        for a, b in segs:
            if p == a or p == b:  # positional endpoint exclusion
                continue
            _t, qx, qy = _project_to_segment(p, a, b)
            d = math.hypot(p[0] - qx, p[1] - qy)
            if d > 0.0 and (best is None or d < best[0]):
                best = (d, p, (qx, qy))
    return best


# ---------------------------------------------------------------------------
# geometric median (r13)
# ---------------------------------------------------------------------------
#
# PostGIS ST_GeometricMedian([Multi]Point): the point minimizing the
# sum of distances to the members — Weiszfeld iteration from the
# centroid with the Ostresh (1978) modification: when the estimate
# lands on an input point, that point is optimal iff the resultant of
# unit vectors toward the other members has norm ≤ 1 (symmetric
# fixtures hit this branch exactly); otherwise step off along the
# resultant. Fixed 200-iteration cap, 1e-13·scale convergence.


def geometric_median(g: Geometry) -> Point | None:
    if g.kind == "Point":
        x, y = g.coords
        return g.coords if math.isfinite(x) and math.isfinite(y) else None
    if g.kind != "MultiPoint" or not g.coords:
        return None  # PostGIS raises for non-points; house loud NULL
    pts = [tuple(p) for p in g.coords]
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        return None
    n = len(pts)
    cx = sum(p[0] for p in pts) / n
    cy = sum(p[1] for p in pts) / n
    scale = max(
        1.0, max(abs(p[0] - cx) + abs(p[1] - cy) for p in pts)
    )
    x, y = cx, cy
    for _ in range(200):
        num_x = num_y = wsum = 0.0
        rx = ry = 0.0  # resultant of unit vectors from a coincident point
        hit = None
        hits = 0  # multiplicity of the coincident input point
        for px, py in pts:
            d = math.hypot(px - x, py - y)
            if d == 0.0:
                hit = (px, py)
                hits += 1
                continue
            w = 1.0 / d
            num_x += px * w
            num_y += py * w
            wsum += w
            rx += (px - x) * w
            ry += (py - y) * w
        if hit is not None:
            r = math.hypot(rx, ry)
            if r <= hits:
                # Ostresh optimality at an input point: the others'
                # resultant pull cannot overcome the point's own
                # multiplicity-weight
                return hit
            # step off the coincident point along the resultant
            step = (r - hits) / wsum
            nx = x + step * (rx / r)
            ny = y + step * (ry / r)
        elif wsum == 0.0:
            return (x, y)
        else:
            nx, ny = num_x / wsum, num_y / wsum
        # Weiszfeld approaches an optimal INPUT point asymptotically
        # without ever reaching it — when the estimate gets near one,
        # test that point's Ostresh optimality directly and return it
        # exactly if it holds (the dominant/heavy-point class)
        for px, py in pts:
            if math.hypot(px - nx, py - ny) <= 1e-9 * scale:
                sx = sy = 0.0
                m = 0
                for qx, qy in pts:
                    d = math.hypot(qx - px, qy - py)
                    if d == 0.0:
                        m += 1
                    else:
                        sx += (qx - px) / d
                        sy += (qy - py) / d
                if math.hypot(sx, sy) <= m:
                    return (px, py)
                break
        if math.hypot(nx - x, ny - y) <= 1e-13 * scale:
            return (nx, ny)
        x, y = nx, ny
    return (x, y)


# ---------------------------------------------------------------------------
# triangulation
# ---------------------------------------------------------------------------


def _triangulate(ring_closed: list[Point]) -> list[list[Point]] | None:
    """Ear-clipping triangulation of a SIMPLE hole-free polygon ring →
    list of closed CCW triangle rings with disjoint interiors, or None
    if clipping stalls (self-intersecting / degenerate input). The
    standard published O(n²) algorithm: repeatedly cut a convex vertex
    whose triangle contains no other reflex vertex."""
    # Simplicity check FIRST: naive ear clipping can still find "ears"
    # on a self-intersecting ring (e.g. a bowtie) and return triangles
    # covering the hull — silently wrong.
    if not _ov._is_simple_ring(ring_closed):
        return None
    pts = list(ring_closed[:-1])
    if _signed_area_ring(pts + [pts[0]]) < 0:
        pts = pts[::-1]

    def cross(o: Point, a: Point, b: Point) -> float:
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def in_tri(p: Point, a: Point, b: Point, c: Point) -> bool:
        # strict interior-or-edge containment for the ear test
        return cross(a, b, p) >= 0 and cross(b, c, p) >= 0 and cross(c, a, p) >= 0

    tris: list[list[Point]] = []
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
    total = sum(abs(_signed_area_ring(t)) for t in tris)
    ring_area = abs(_signed_area_ring(ring_closed))
    if abs(total - ring_area) > 1e-9 * max(1.0, ring_area):
        return None
    return tris


def triangulate_polygon(g: Geometry) -> Geometry | None:
    """GEOMETRYCOLLECTION of ear-clipped triangles; raises _Unsupported
    for holed / non-simple / non-areal inputs."""
    polys = G._polys(g)
    if not polys:
        raise _ov._Unsupported("not an areal geometry")
    tris: list[Geometry] = []
    for rings in polys:
        if len(rings) > 1:
            raise _ov._Unsupported("holed polygon triangulation")
        t = _triangulate([tuple(p) for p in rings[0]])
        if t is None:
            raise _ov._Unsupported("non-simple ring")
        tris.extend(Geometry("Polygon", [tri]) for tri in t)
    return Geometry("GeometryCollection", tris) if tris else None


# ---------------------------------------------------------------------------
# vectorized SQL surface
# ---------------------------------------------------------------------------


@pandas_udf(BooleanType())
def st_issimple(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            if w is not None and _ov._EMPTY_RE.match(str(w).strip().upper()):
                out.append(True)  # GEOS: empty geometries are simple
                continue
            g = G.parse_wkt_opt(w)
            out.append(None if g is None else is_simple(g))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="boolean")


@pandas_udf(StringType())
def st_pointonsurface(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            if w is not None and _ov._EMPTY_RE.match(str(w).strip().upper()):
                out.append("POINT EMPTY")
                continue
            g = G.parse_wkt_opt(w)
            p = point_on_surface(g) if g is not None else None
            out.append(None if p is None else G.to_wkt(Geometry("Point", p)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def st_hausdorffdistance(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for wa, wb in zip(a, b):
        try:
            ga, gb = G.parse_wkt_opt(wa), G.parse_wkt_opt(wb)
            out.append(None if ga is None or gb is None else hausdorff_distance(ga, gb))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def st_frechetdistance(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for wa, wb in zip(a, b):
        try:
            ga, gb = G.parse_wkt_opt(wa), G.parse_wkt_opt(wb)
            out.append(None if ga is None or gb is None else frechet_distance(ga, gb))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def st_angle(p1: pd.Series, p2: pd.Series, p3: pd.Series, p4: pd.Series) -> pd.Series:
    def az(ga, gb):
        dx, dy = gb.coords[0] - ga.coords[0], gb.coords[1] - ga.coords[1]
        if dx == 0.0 and dy == 0.0:
            return None
        return math.atan2(dx, dy) % (2.0 * math.pi)

    out = []
    for w1, w2, w3, w4 in zip(p1, p2, p3, p4):
        try:
            gs = [G.parse_wkt_opt(w) for w in (w1, w2, w3, w4)]
            if any(g is None or g.kind != "Point" for g in gs):
                out.append(None)
                continue
            a1, a2 = az(gs[0], gs[1]), az(gs[2], gs[3])
            out.append(
                None if a1 is None or a2 is None else (a2 - a1) % (2.0 * math.pi)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="float64")


@pandas_udf(StringType())
def st_triangulatepolygon(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            g = G.parse_wkt_opt(w)
            if g is None:
                out.append(None)
                continue
            t = triangulate_polygon(g)
            out.append(None if t is None else G.to_wkt(t))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def st_minimumclearance(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            # typed EMPTY has no candidates: infinite clearance (the
            # documented contract; parse_wkt rejects EMPTY so it needs
            # its own gate — review r13)
            if w is not None and _ov._EMPTY_RE.match(str(w).strip().upper()):
                out.append(math.inf)
                continue
            g = G.parse_wkt_opt(w)
            if g is None:
                out.append(None)
                continue
            best = minimum_clearance_witness(g)
            out.append(math.inf if best is None else best[0])
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="float64")


@pandas_udf(StringType())
def st_minimumclearanceline(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            if w is not None and _ov._EMPTY_RE.match(str(w).strip().upper()):
                out.append("LINESTRING EMPTY")  # infinite clearance
                continue
            g = G.parse_wkt_opt(w)
            if g is None:
                out.append(None)
                continue
            best = minimum_clearance_witness(g)
            if best is None:
                out.append("LINESTRING EMPTY")  # infinite clearance
            else:
                out.append(
                    G.to_wkt(Geometry("LineString", [best[1], best[2]]))
                )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_geometricmedian(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            g = G.parse_wkt_opt(w)
            m = geometric_median(g) if g is not None else None
            out.append(None if m is None else G.to_wkt(Geometry("Point", m)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_MEASURE_FUNCTIONS = {
    "st_issimple": st_issimple,
    "st_pointonsurface": st_pointonsurface,
    "st_hausdorffdistance": st_hausdorffdistance,
    "st_frechetdistance": st_frechetdistance,
    "st_angle": st_angle,
    "st_triangulatepolygon": st_triangulatepolygon,
    "st_minimumclearance": st_minimumclearance,
    "st_minimumclearanceline": st_minimumclearanceline,
    "st_geometricmedian": st_geometricmedian,
}
