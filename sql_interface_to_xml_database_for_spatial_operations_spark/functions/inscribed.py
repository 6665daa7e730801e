"""ST_MaximumInscribedCircle (F12 remainder, r14 continuation): the
largest circle contained in a polygon — PostGIS 3.1 surface the
reference forwards verbatim (src/index.ts:44-63). PostGIS returns a
(center, nearest, radius) record; a Spark scalar UDF splits it like
the minimum-bounding pair (bounding.py): ``st_maximuminscribedcircle``
returns the center POINT and ``st_maximuminscribedradius`` the radius.

Algorithm: the GEOS MaximumInscribedCircle branch-and-bound quadtree —
cells ordered by their best possible signed boundary distance
(d(center) + half-diagonal), split until no cell can beat the best
found center by more than the tolerance. Deterministic: heap ties
break on insertion order, children expand in a fixed order, and the
tolerance is a fixed fraction of the bbox extent (1e-10·max(w, h)),
far tighter than PostGIS's default extent/1000 — so on fixtures whose
optimum is a STRICT conical peak (a triangle's incenter) the returned
center/radius pin at milli precision exactly.

Plateau contract (r15, ADVICE r14): polygons whose inscribed-circle
center is NON-unique (a plateau along the medial axis — any
rectangle) make the frontier grow like plateau-length/cell-size at
this tolerance. Once the best-so-far is proven optimal to PostGIS's
DEFAULT tolerance (extent/1000) and the search has burned 16× the
convergence floor without closing the remaining gap, the
deterministic best-so-far center returns — on a symmetric plateau
that is the exact first probe (a rectangle answers center = bbox
center, r = min(w, h)/2, the closed form). Only genuinely
unconverged pathologies (gap still > extent/1000 at the node budget)
stay a loud NULL (the grids._MAX_CELLS idiom). Unique-optimum inputs
converge in O(levels) ≈ 33 rounds of an O(1) frontier, far below the
plateau cutoff.

Interior test: even-odd ray crossing over every ring (holes handled
implicitly); distance: min point-segment distance over all rings.
Map-only Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import heapq
import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry

_MAX_VERTICES = 4096  # input budget (loud NULL, the measures idiom)
_MAX_NODES = 200_000  # search budget (loud NULL, the grids idiom)
# each node probe is O(V) point-segment distances, so the node budget
# scales DOWN with vertex count to bound total work (code-review r14:
# a 4096-vertex plateau would otherwise burn 200k × 4096 evaluations
# before its loud NULL). The 2048-node FLOOR (second review pass)
# keeps dense unique-peak polygons convergent — a shallow-ridge search
# at 33 refinement levels can legitimately need a few hundred nodes,
# and the floor's worst case (2048 × 4096 ≈ 8.4e6 evaluations, ~8 s)
# is still a bounded row, not a stall.
_MAX_WORK = 4_000_000  # target total point-segment evaluations per row
_MIN_NODES = 2048  # convergence floor for dense unique-peak inputs
_PLATEAU_NODES = 8_192  # early plateau cutoff (see the search loop):
# 4× the convergence floor; every unique-peak fixture (incl. the
# shallow-ridge holed square) converges to the 1e-10 tol in well
# under 2048 nodes, while a plateau's frontier only reaches the
# extent/1000 bound at ~2^13 nodes and never tightens further
_TOL_FRACTION = 1e-10  # of the bbox extent


def _node_budget(n_vertices: int) -> int:
    return min(_MAX_NODES, max(_MIN_NODES, _MAX_WORK // max(1, n_vertices)))


def _rings_of(g: Geometry):
    if g.kind == "Polygon":
        yield from g.coords
    elif g.kind == "MultiPolygon":
        for rings in g.coords:
            yield from rings
    elif g.kind == "GeometryCollection":
        for sub in g.coords:
            yield from _rings_of(sub)


def _inside(x: float, y: float, rings) -> bool:
    """Even-odd crossing over every ring — holes fall out implicitly."""
    crossings = 0
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            if (ay > y) != (by > y):
                xc = ax + (y - ay) / (by - ay) * (bx - ax)
                if xc > x:
                    crossings += 1
    return crossings % 2 == 1


def _boundary_dist(x: float, y: float, rings) -> float:
    best = math.inf
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring, ring[1:]):
            dx, dy = bx - ax, by - ay
            ln2 = dx * dx + dy * dy
            t = 0.0 if ln2 == 0.0 else max(
                0.0, min(1.0, ((x - ax) * dx + (y - ay) * dy) / ln2)
            )
            qx, qy = ax + t * dx, ay + t * dy
            d = math.hypot(x - qx, y - qy)
            if d < best:
                best = d
    return best


def maximum_inscribed_circle(wkt):
    """(cx, cy, r) or None (non-areal / junk / plateau budget)."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None
    g = G.parse_wkt(s)
    if g is None or g.kind not in ("Polygon", "MultiPolygon"):
        return None
    rings = [list(r) for r in _rings_of(g)]
    nv = sum(len(r) for r in rings)
    if not rings or nv > _MAX_VERTICES:
        return None
    pts = [p for r in rings for p in r]
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        return None
    minx = min(p[0] for p in pts)
    miny = min(p[1] for p in pts)
    maxx = max(p[0] for p in pts)
    maxy = max(p[1] for p in pts)
    extent = max(maxx - minx, maxy - miny)
    if extent <= 0.0:
        return None
    tol = extent * _TOL_FRACTION

    def signed(x, y):
        d = _boundary_dist(x, y, rings)
        return d if _inside(x, y, rings) else -d

    cx0, cy0 = (minx + maxx) / 2.0, (miny + maxy) / 2.0
    h0 = extent / 2.0
    sqrt2 = math.sqrt(2.0)
    d0 = signed(cx0, cy0)
    best = (d0, cx0, cy0)
    counter = 0
    heap = [(-(d0 + h0 * sqrt2), counter, cx0, cy0, h0)]
    nodes = 1
    budget = _node_budget(nv)
    while heap:
        neg_pot, _, cx, cy, h = heapq.heappop(heap)
        if -neg_pot - best[0] <= tol:
            break
        if nodes > _PLATEAU_NODES and -neg_pot - best[0] <= extent / 1000.0:
            # Optimal to PostGIS's DEFAULT tolerance but still not to
            # ours after 16× the convergence floor: a medial-axis
            # plateau (unique peaks converge in O(levels) pops). Stop
            # here — deterministic, and on symmetric plateaus (any
            # rectangle) best is already the exact first-probe center.
            return (best[1], best[2], best[0]) if best[0] > 0.0 else None
        h2 = h / 2.0
        for dx in (-h2, h2):
            for dy in (-h2, h2):
                nodes += 1
                if nodes > budget:
                    # Budget exhausted — a medial-axis PLATEAU (any
                    # rectangle) keeps the frontier growing at this
                    # tolerance. The search is deterministic and
                    # best-first, so return the best-so-far center
                    # when it is already proven optimal to PostGIS's
                    # DEFAULT tolerance (extent/1000 — ADVICE r14:
                    # plateau fixtures reach it thousands of nodes
                    # before the budget); genuinely unconverged
                    # pathologies stay a loud NULL. On a rectangle the
                    # very first probe (the bbox center) IS a medial
                    # midpoint, so the answer is the exact closed form
                    # (center = bbox center, r = min(w, h)/2).
                    bound = -neg_pot
                    if heap and -heap[0][0] > bound:
                        bound = -heap[0][0]
                    if bound - best[0] <= extent / 1000.0 and best[0] > 0.0:
                        return (best[1], best[2], best[0])
                    return None  # unconverged pathology — loud
                x, y = cx + dx, cy + dy
                d = signed(x, y)
                if d > best[0]:
                    best = (d, x, y)
                pot = d + h2 * sqrt2
                if pot - best[0] > tol:
                    counter += 1
                    heapq.heappush(heap, (-pot, counter, x, y, h2))
    if best[0] <= 0.0:
        return None  # degenerate area — no interior found
    return (best[1], best[2], best[0])


# ---- largest empty circle ----------------------------------------------
#
# ST_LargestEmptyCircle (PostGIS 3.4 / GEOS): the largest circle whose
# center lies within the CONVEX HULL of the obstacles and whose
# interior touches none of them. Puntal obstacles only (POINT /
# MULTIPOINT — GEOS accepts lineal obstacles too; documented
# restriction, loud NULL otherwise); a degenerate hull (all obstacles
# collinear) is a loud NULL. Same branch-and-bound as the inscribed
# circle, with the candidate restricted to the hull (cells that miss
# the hull prune outright — a far cell's obstacle distance grows
# without bound, so domain pruning is what keeps the search finite).


def _orient(a, b, p) -> float:
    return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])


def _in_hull(x, y, hull) -> bool:
    return all(
        _orient(a, b, (x, y)) >= 0.0 for a, b in zip(hull, hull[1:])
    )


def _cell_meets_hull(cx, cy, h, hull) -> bool:
    """Rectangle [cx±h]×[cy±h] vs CCW convex ring: separating-axis."""
    corners = (
        (cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h), (cx - h, cy + h)
    )
    for a, b in zip(hull, hull[1:]):
        if all(_orient(a, b, c) < 0.0 for c in corners):
            return False  # the whole cell is outside this hull edge
    hx = [p[0] for p in hull]
    hy = [p[1] for p in hull]
    if max(hx) < cx - h or min(hx) > cx + h:
        return False
    if max(hy) < cy - h or min(hy) > cy + h:
        return False
    return True


def largest_empty_circle(wkt):
    """(cx, cy, r) or None (non-puntal / collinear hull / budget)."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None
    g = G.parse_wkt(s)
    if g is None or g.kind not in ("Point", "MultiPoint"):
        return None
    obstacles = sorted(set(G._points(g)))
    if len(obstacles) > _MAX_VERTICES:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for x, y in obstacles
    ):
        return None
    hull_g = G.convex_hull(Geometry("MultiPoint", obstacles))
    if hull_g.kind != "Polygon":
        return None  # 1-2 points / collinear: no areal hull — loud
    hull = list(hull_g.coords[0])
    minx = min(p[0] for p in obstacles)
    miny = min(p[1] for p in obstacles)
    maxx = max(p[0] for p in obstacles)
    maxy = max(p[1] for p in obstacles)
    extent = max(maxx - minx, maxy - miny)
    if extent <= 0.0:
        return None
    tol = extent * _TOL_FRACTION

    def obstacle_dist(x, y):
        return min(math.hypot(x - px, y - py) for px, py in obstacles)

    cx0, cy0 = (minx + maxx) / 2.0, (miny + maxy) / 2.0
    h0 = extent / 2.0
    sqrt2 = math.sqrt(2.0)
    best = (-math.inf, cx0, cy0)
    if _in_hull(cx0, cy0, hull):
        best = (obstacle_dist(cx0, cy0), cx0, cy0)
    counter = 0
    heap = [(-(obstacle_dist(cx0, cy0) + h0 * sqrt2), counter, cx0, cy0, h0)]
    nodes = 1
    budget = _node_budget(len(obstacles) + len(hull))
    while heap:
        neg_pot, _, cx, cy, h = heapq.heappop(heap)
        if -neg_pot - best[0] <= tol:
            break
        h2 = h / 2.0
        for dx in (-h2, h2):
            for dy in (-h2, h2):
                nodes += 1
                if nodes > budget:
                    return None  # tie plateau/pathology — loud
                x, y = cx + dx, cy + dy
                if not _cell_meets_hull(x, y, h2, hull):
                    continue
                d = obstacle_dist(x, y)
                if d > best[0] and _in_hull(x, y, hull):
                    best = (d, x, y)
                pot = d + h2 * sqrt2
                if pot - best[0] > tol:
                    counter += 1
                    heapq.heappush(heap, (-pot, counter, x, y, h2))
    if not math.isfinite(best[0]) or best[0] <= 0.0:
        return None
    return (best[1], best[2], best[0])


def largestemptycircle_wkt(wkt) -> str | None:
    r = largest_empty_circle(wkt)
    if r is None:
        return None
    return G.to_wkt(Geometry("Point", (r[0], r[1])))


def largestemptyradius_of(wkt) -> float | None:
    r = largest_empty_circle(wkt)
    return None if r is None else r[2]


def maximuminscribedcircle_wkt(wkt) -> str | None:
    r = maximum_inscribed_circle(wkt)
    if r is None:
        return None
    return G.to_wkt(Geometry("Point", (r[0], r[1])))


def maximuminscribedradius_of(wkt) -> float | None:
    r = maximum_inscribed_circle(wkt)
    return None if r is None else r[2]


@pandas_udf(StringType())
def st_maximuminscribedcircle(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(maximuminscribedcircle_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def st_maximuminscribedradius(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(maximuminscribedradius_of(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


@pandas_udf(StringType())
def st_largestemptycircle(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(largestemptycircle_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def st_largestemptyradius(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(largestemptyradius_of(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


ALL_INSCRIBED_FUNCTIONS = {
    "st_maximuminscribedcircle": st_maximuminscribedcircle,
    "st_maximuminscribedradius": st_maximuminscribedradius,
    "st_largestemptycircle": st_largestemptycircle,
    "st_largestemptyradius": st_largestemptyradius,
}
