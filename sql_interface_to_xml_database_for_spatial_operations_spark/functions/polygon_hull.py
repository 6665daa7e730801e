"""ST_SimplifyPolygonHull (r15): GEOS 3.11's PolygonHullSimplifier
(Martin Davis, 2022 — the published corner-triangle ring hull), the
topology-safe polygon simplifier PostGIS exposes as
``ST_SimplifyPolygonHull(geom, vertex_fraction, is_outer)``.

Semantics:

- OUTER hull (``is_outer`` true): repeatedly delete the REFLEX
  (concave) corner whose corner triangle has the least area — the
  ring only ever GROWS, so the result always COVERS the input.
- INNER hull: delete least-area CONVEX corners — the result is
  always COVERED BY the input.
- A corner is deletable only when its triangle contains NO other
  vertex of any ring of the polygon (exact orient-based
  point-in-triangle, boundary inclusive) — the GEOS safety test that
  keeps the ring simple and the containment guarantee intact.
- ``vertex_fraction`` ∈ [0, 1]: the target fraction of each ring's
  ORIGINAL vertex count to retain (1 → echo; 0 → simplify as far as
  safely possible, never below a triangle). Deletion stops when the
  target is reached or no corner is safely deletable.
- Holes take the OPPOSITE hull direction (an outer polygon hull must
  grow over its holes' area too, so holes shrink — GEOS behavior).
- Ties are broken deterministically (smallest area, then smallest
  vertex index), so the result is bit-stable.
- Contract: POLYGON (holes allowed) / MULTIPOLYGON (per part);
  anything else, NaN/Inf, fraction outside [0, 1], or a ring past
  the vertex budget → loud NULL.

The corner scan is O(n² ) per deletion worst-case behind the shared
4096-vertex ring budget; map-only Arrow-batched pandas UDF.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry, _orient

_MAX_RING_VERTICES = 4096  # the measures/curves input budget


def _tri_area2(a, b, c) -> float:
    return abs(
        (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    )


def _pt_in_tri(p, a, b, c) -> bool:
    """Boundary-inclusive exact point-in-triangle (any winding)."""
    o1, o2, o3 = _orient(a, b, p), _orient(b, c, p), _orient(c, a, p)
    return (o1 >= 0 and o2 >= 0 and o3 >= 0) or (
        o1 <= 0 and o2 <= 0 and o3 <= 0
    )


def _ring_hull(ring, frac: float, remove_reflex: bool, others) -> list | None:
    """Open vertex list after hull simplification. ``ring`` is the open
    ring (no closing duplicate), CCW-signed area assumed as parsed;
    ``remove_reflex`` picks which corner class is deletable;
    ``others`` is every vertex of the polygon's OTHER rings (they must
    stay outside deleted corner triangles too)."""
    pts = list(ring)
    n0 = len(pts)
    if n0 > _MAX_RING_VERTICES:
        return None
    target = max(3, math.ceil(frac * n0))
    # ring orientation decides which orient-sign is "reflex"
    area2 = 0.0
    for i in range(len(pts)):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % len(pts)]
        area2 += x1 * y2 - x2 * y1
    ccw = area2 > 0
    # for a CCW ring: convex corner orient(prev, v, next) > 0
    want = (-1 if ccw else 1) if remove_reflex else (1 if ccw else -1)

    while len(pts) > target and len(pts) > 3:
        n = len(pts)
        best = None  # (area2, index)
        for i in range(n):
            a, v, b = pts[i - 1], pts[i], pts[(i + 1) % n]
            side = _orient(a, v, b)
            if side != want:
                continue  # wrong corner class (or collinear — free)
            # safety: no other vertex may sit inside the corner triangle
            safe = True
            for j in range(n):
                if j in (i - 1 if i else n - 1, i, (i + 1) % n):
                    continue
                if _pt_in_tri(pts[j], a, v, b):
                    safe = False
                    break
            if safe:
                for q in others:
                    if _pt_in_tri(q, a, v, b):
                        safe = False
                        break
            if not safe:
                continue
            t = _tri_area2(a, v, b)
            if best is None or (t, i) < best:
                best = (t, i)
        # collinear corners are free to drop regardless of class
        dropped_collinear = False
        for i in range(n):
            if _orient(pts[i - 1], pts[i], pts[(i + 1) % n]) == 0:
                del pts[i]
                dropped_collinear = True
                break
        if dropped_collinear:
            continue
        if best is None:
            break  # nothing safely deletable — GEOS stops too
        del pts[best[1]]
    return pts


def simplify_polygon_hull(wkt, frac, is_outer) -> str | None:
    if wkt is None or frac is None:
        return None
    try:
        fv = float(frac)
    except (TypeError, ValueError):
        return None
    if math.isnan(fv) or not 0.0 <= fv <= 1.0:
        return None
    outer = bool(is_outer) if is_outer is not None else True
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        m = _ov._EMPTY_RE.match(s.upper())
        if m.group(1) in ("POLYGON", "MULTIPOLYGON"):
            return f"{m.group(1)} EMPTY"
        return None
    g = G.parse_wkt(s)
    if g is None or g.kind not in ("Polygon", "MultiPolygon"):
        return None
    if fv == 1.0:
        return G.to_wkt(g)  # retain everything — echo

    def do_poly(rings):
        new_rings = []
        for ri, r in enumerate(rings):
            open_ring = list(r[:-1])
            others = [
                p
                for rj, r2 in enumerate(rings)
                if rj != ri
                for p in r2[:-1]
            ]
            # shell takes the requested direction; holes the opposite
            # (an OUTER polygon hull grows over hole detail too)
            remove_reflex = outer if ri == 0 else not outer
            hull = _ring_hull(open_ring, fv, remove_reflex, others)
            if hull is None or len(hull) < 3:
                return None
            new_rings.append(tuple(list(map(tuple, hull)) + [tuple(hull[0])]))
        return tuple(new_rings)

    if g.kind == "Polygon":
        out = do_poly(g.coords)
        return None if out is None else G.to_wkt(Geometry("Polygon", out))
    parts = []
    for rings in g.coords:
        out = do_poly(rings)
        if out is None:
            return None
        parts.append(out)
    return G.to_wkt(Geometry("MultiPolygon", tuple(parts)))


def _num_or_none(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


@pandas_udf(StringType())
def st_simplifypolygonhull(
    w: pd.Series, frac: pd.Series, outer: pd.Series
) -> pd.Series:
    out = []
    for x, f, o in zip(w, frac, outer):
        try:
            f2, o2 = _num_or_none(f), _num_or_none(o)
            out.append(
                None if f2 is None or o2 is None
                else simplify_polygon_hull(x, f2, o2)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


ALL_POLYGON_HULL_FUNCTIONS = {
    "st_simplifypolygonhull": st_simplifypolygonhull,
}
