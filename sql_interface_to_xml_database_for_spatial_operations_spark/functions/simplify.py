"""ST_Simplify / ST_SimplifyVW / ST_SimplifyPreserveTopology /
ST_SnapToGrid / ST_ReducePrecision — vertex reduction and precision
management (F12 remainder).

PostGIS users get ``ST_Simplify(geom, tolerance)`` from the forwarding
surface (reference src/index.ts:44-63); this implements the standard
Douglas-Peucker algorithm over the WKT geometry model:

- LineStrings: classic DP with endpoints fixed; a line reduced below 2
  points disappears (NULL).
- Polygon rings: DP over the closed ring with the seam vertex fixed; a
  ring reduced below 4 points (triangle + closure) collapses and is
  dropped — holes silently, the exterior by nulling the polygon, which
  matches PostGIS's "may produce empty geometries" documented behavior
  rather than inventing a repair step (``simplify_preserve_topology``
  below is the non-collapsing variant, r13).
- Multi*/GeometryCollection: per part; fully-collapsed parts drop.
- Points pass through untouched.

With tolerance 0 DP removes exactly the collinear vertices, so an exact
DuckDB oracle is available for a driver row (vertex counts over
fixture-built redundant rings) without re-implementing DP in SQL.

Scale shape: a pure map-side vectorized pandas UDF — no shuffle, no
state; simplification at 100 TB is embarrassingly parallel over scan
partitions and typically run BEFORE expensive spatial joins to shrink
every downstream geometry payload.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .geometry import Geometry

Pt = tuple[float, float]


def _perp_dist_sq(p: Pt, a: Pt, b: Pt) -> float:
    """Squared distance from p to segment ab (degenerate ab → distance
    to a)."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    len2 = dx * dx + dy * dy
    if len2 == 0.0:
        ex, ey = p[0] - a[0], p[1] - a[1]
        return ex * ex + ey * ey
    t = ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / len2
    t = 0.0 if t < 0.0 else (1.0 if t > 1.0 else t)
    ex, ey = p[0] - (a[0] + t * dx), p[1] - (a[1] + t * dy)
    return ex * ex + ey * ey


def _dp(points: list[Pt], tol: float) -> list[Pt]:
    """Iterative Douglas-Peucker over an open point sequence; endpoints
    always kept. tol is a distance (not squared)."""
    n = len(points)
    if n < 3:
        return list(points)
    tol2 = tol * tol
    keep = [False] * n
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        best, best_d = -1, tol2
        a, b = points[lo], points[hi]
        for k in range(lo + 1, hi):
            d = _perp_dist_sq(points[k], a, b)
            if d > best_d:
                best, best_d = k, d
        if best >= 0:
            keep[best] = True
            stack.append((lo, best))
            stack.append((best, hi))
    return [p for p, k in zip(points, keep) if k]


def _simplify_ring(ring: list[Pt], tol: float) -> list[Pt] | None:
    """Closed ring → simplified closed ring, or None if collapsed."""
    out = _dp(ring[:-1] + [ring[0]], tol)  # seam fixed at vertex 0
    if len(out) < 4:
        return None
    return out


def simplify(g: Geometry, tol: float) -> Geometry | None:
    if g is None or tol < 0:
        return None
    if g.kind in ("Point", "MultiPoint"):
        return g
    if g.kind == "LineString":
        out = _dp(g.coords, tol)
        return Geometry("LineString", out) if len(out) >= 2 else None
    if g.kind == "MultiLineString":
        parts = [_dp(line, tol) for line in g.coords]
        parts = [p for p in parts if len(p) >= 2]
        if not parts:
            return None
        # PostGIS ST_Simplify preserves the Multi* type even when only
        # one part survives (unlike ST_Union, which collapses).
        return Geometry("MultiLineString", parts)
    if g.kind == "Polygon":
        ext = _simplify_ring(g.coords[0], tol)
        if ext is None:
            return None
        holes = [_simplify_ring(r, tol) for r in g.coords[1:]]
        return Geometry("Polygon", [ext] + [h for h in holes if h is not None])
    if g.kind == "MultiPolygon":
        polys = []
        for rings in g.coords:
            p = simplify(Geometry("Polygon", rings), tol)
            if p is not None:
                polys.append(p.coords)
        if not polys:
            return None
        return Geometry("MultiPolygon", polys)  # type preserved (see above)
    if g.kind == "GeometryCollection":
        subs = [simplify(sub, tol) for sub in g.coords]
        subs = [s for s in subs if s is not None]
        if not subs:
            return None
        return Geometry("GeometryCollection", subs)  # type preserved
    return None


def _snap_seq(points: list[Pt], size: float) -> list[Pt]:
    """Snap each vertex to the grid, then drop consecutive duplicates.

    Rounding is half-UP (``floor(x/size + 0.5)``), not Python's
    banker's ``round``: half-up is a pure composition of IEEE ops, so a
    SQL oracle computing ``floor(x/size + 0.5) * size`` on the same
    doubles reproduces the snap bit-for-bit (driver row q129) — the
    engine-dependent tie behavior of native round() is exactly the
    round(x, 6) instability class documented in the r6 verdict."""
    out: list[Pt] = []
    for x, y in points:
        p = (
            math.floor(x / size + 0.5) * size,
            math.floor(y / size + 0.5) * size,
        )
        if not out or out[-1] != p:
            out.append(p)
    return out


def snap_to_grid(g: Geometry, size: float) -> Geometry | None:
    """ST_SnapToGrid: round every coordinate to the nearest multiple of
    ``size`` (origin 0,0). Same collapse rules as ``simplify``: degenerate
    lines/rings drop, Multi*/Collection types are preserved."""
    if g is None or size <= 0:
        return None
    if g.kind == "Point":
        return Geometry("Point", _snap_seq([g.coords], size)[0])
    if g.kind == "MultiPoint":
        seen: list[Pt] = []
        for p in g.coords:
            s = _snap_seq([p], size)[0]
            if s not in seen:
                seen.append(s)
        return Geometry("MultiPoint", seen)
    if g.kind == "LineString":
        out = _snap_seq(g.coords, size)
        return Geometry("LineString", out) if len(out) >= 2 else None
    if g.kind == "MultiLineString":
        parts = [_snap_seq(line, size) for line in g.coords]
        parts = [p for p in parts if len(p) >= 2]
        return Geometry("MultiLineString", parts) if parts else None
    if g.kind == "Polygon":

        def ring(r: list[Pt]) -> list[Pt] | None:
            out = _snap_seq(r, size)
            if out[0] != out[-1]:
                out.append(out[0])
            return out if len(out) >= 4 else None

        ext = ring(g.coords[0])
        if ext is None:
            return None
        holes = [ring(r) for r in g.coords[1:]]
        return Geometry("Polygon", [ext] + [h for h in holes if h is not None])
    if g.kind == "MultiPolygon":
        polys = []
        for rings in g.coords:
            p = snap_to_grid(Geometry("Polygon", rings), size)
            if p is not None:
                polys.append(p.coords)
        return Geometry("MultiPolygon", polys) if polys else None
    if g.kind == "GeometryCollection":
        subs = [snap_to_grid(sub, size) for sub in g.coords]
        subs = [s for s in subs if s is not None]
        return Geometry("GeometryCollection", subs) if subs else None
    return None


# ---------------------------------------------------------------------------
# Visvalingam–Whyatt, topology-preserving DP, precision reduction (r13)
# ---------------------------------------------------------------------------


def _tri_area2(a: Pt, b: Pt, c: Pt) -> float:
    """Twice the triangle area (the shoelace cross product magnitude)."""
    return abs(
        (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    )


def _vw(points: list[Pt], tol: float, closed: bool) -> list[Pt]:
    """Visvalingam–Whyatt: repeatedly delete the interior vertex whose
    triangle with its CURRENT neighbors has the smallest area, while
    that minimum is < tol (the PostGIS/JTS area-tolerance convention).
    Endpoints (and a ring's seam vertex) are pinned like DP's.

    Min-heap with lazy invalidation over a doubly-linked index list —
    only the two neighbors of a deleted vertex change area, so each
    deletion costs O(log n), not an O(n) rescan (the standard VW
    structure; the 100 TB pre-join shrink path is per-row hot). Ties
    pop the smallest vertex index, matching the scan-order contract.

    An open line may reduce to its 2 endpoints; a closed ring may shed
    its last triangle vertex (len 4 → 3) when even the remaining
    triangle's area is under tol — the caller's ring gate then drops
    the collapsed ring, PostGIS's empty-output behavior."""
    import heapq

    pts = list(points)
    n = len(pts)
    if n < 3:
        return pts
    floor_len = 2 if not closed else 3
    prv = list(range(-1, n - 1))
    nxt = list(range(1, n + 1))
    alive = [True] * n
    version = [0] * n

    def area(i: int) -> float:
        return _tri_area2(pts[prv[i]], pts[i], pts[nxt[i]]) / 2.0

    heap = [(area(i), i, 0) for i in range(1, n - 1)]
    heapq.heapify(heap)
    remaining = n
    while heap and remaining > floor_len:
        a, i, ver = heapq.heappop(heap)
        if not alive[i] or ver != version[i]:
            continue  # stale entry for a moved/deleted vertex
        if a >= tol:
            break
        alive[i] = False
        remaining -= 1
        p, q = prv[i], nxt[i]
        nxt[p], prv[q] = q, p
        for j in (p, q):
            if 0 < j < n - 1 and alive[j]:
                version[j] += 1
                heapq.heappush(heap, (area(j), j, version[j]))
    return [pts[i] for i in range(n) if alive[i]]


def simplify_vw(g: Geometry, tol: float) -> Geometry | None:
    """ST_SimplifyVW: same shape contract as ``simplify`` (collapsed
    parts drop, Multi*/Collection types preserved) with VW's area
    tolerance instead of DP's distance tolerance."""
    if g is None or tol < 0:
        return None
    if g.kind in ("Point", "MultiPoint"):
        return g
    if g.kind == "LineString":
        out = _vw(g.coords, tol, closed=False)
        return Geometry("LineString", out) if len(out) >= 2 else None
    if g.kind == "MultiLineString":
        parts = [_vw(line, tol, closed=False) for line in g.coords]
        parts = [p for p in parts if len(p) >= 2]
        return Geometry("MultiLineString", parts) if parts else None
    if g.kind == "Polygon":

        def ring(r: list[Pt]) -> list[Pt] | None:
            out = _vw(r[:-1] + [r[0]], tol, closed=True)
            return out if len(out) >= 4 else None

        ext = ring(g.coords[0])
        if ext is None:
            return None
        holes = [ring(r) for r in g.coords[1:]]
        return Geometry("Polygon", [ext] + [h for h in holes if h is not None])
    if g.kind == "MultiPolygon":
        polys = []
        for rings in g.coords:
            p = simplify_vw(Geometry("Polygon", rings), tol)
            if p is not None:
                polys.append(p.coords)
        return Geometry("MultiPolygon", polys) if polys else None
    if g.kind == "GeometryCollection":
        subs = [simplify_vw(sub, tol) for sub in g.coords]
        subs = [s for s in subs if s is not None]
        return Geometry("GeometryCollection", subs) if subs else None
    return None


def _spt_line(line: list[Pt], tol: float) -> list[Pt]:
    """DP a lineal part but refuse a simplification that breaks the
    part's simplicity (a simple input must stay simple — review r13);
    non-simple inputs simplify best-effort like plain DP."""
    out = _dp(line, tol)
    if len(out) < 2 or out == list(line):
        return list(line)
    from .measures import is_simple

    if is_simple(Geometry("LineString", line)) and not is_simple(
        Geometry("LineString", out)
    ):
        return list(line)
    return out


def simplify_preserve_topology(g: Geometry, tol: float) -> Geometry | None:
    """ST_SimplifyPreserveTopology: Douglas-Peucker that never trades
    validity for reduction. Contract (vs JTS's local repairs): every
    part/ring survives — a ring DP would collapse stays UNSIMPLIFIED —
    and an areal result must pass the exact validity test or the whole
    input polygon comes back unsimplified; lineal parts likewise keep
    their original linework when DP breaks their simplicity. Honest
    fallback over silent repair, same stance as makevalid's refusals."""
    if g is None or tol < 0:
        return None
    if g.kind in ("Point", "MultiPoint"):
        return g
    if g.kind == "LineString":
        return Geometry("LineString", _spt_line(g.coords, tol))
    if g.kind == "MultiLineString":
        return Geometry(
            "MultiLineString", [_spt_line(line, tol) for line in g.coords]
        )
    if g.kind == "Polygon":
        from .validity import invalid_reason

        rings = []
        for r in g.coords:
            out = _simplify_ring(r, tol)
            rings.append(out if out is not None else list(r))
        cand = Geometry("Polygon", rings)
        return cand if invalid_reason(cand) is None else g
    if g.kind == "MultiPolygon":
        from .validity import invalid_reason

        polys = []
        for rings in g.coords:
            p = simplify_preserve_topology(Geometry("Polygon", rings), tol)
            polys.append(p.coords)
        cand = Geometry("MultiPolygon", polys)
        # parts may be individually valid yet overlap or nest after
        # simplification — the WHOLE result must pass too, or the whole
        # input comes back (review r13)
        return cand if invalid_reason(cand) is None else g
    if g.kind == "GeometryCollection":
        return Geometry(
            "GeometryCollection",
            [simplify_preserve_topology(sub, tol) for sub in g.coords],
        )
    return None


def reduce_precision(g: Geometry, size: float) -> Geometry | None:
    """ST_ReducePrecision: grid-snap (the st_snaptogrid kernel), then
    guarantee validity — a snapped areal part that went invalid rebuilds
    through the exact linework makevalid; a repair the exact
    re-validation refuses is a loud NULL (the makevalid contract)."""
    if g is None or size <= 0:
        return None
    snapped = snap_to_grid(g, size)
    if snapped is None:
        return None
    return _revalidate_snapped(snapped)


def _revalidate_snapped(snapped: Geometry) -> Geometry | None:
    """Validity guarantee for reduce_precision: areal parts rebuild
    through makevalid when the snap broke them; collection members are
    revalidated individually (review r13 — the GC path used to skip the
    check); a member whose repair is refused nulls the whole result."""
    if snapped.kind == "GeometryCollection":
        subs = []
        for sub in snapped.coords:
            fixed = _revalidate_snapped(sub)
            if fixed is None:
                return None
            subs.append(fixed)
        return Geometry("GeometryCollection", subs)
    if snapped.kind not in ("Polygon", "MultiPolygon"):
        return snapped
    from .validity import invalid_reason, makevalid_geom

    if invalid_reason(snapped) is None:
        return snapped
    return makevalid_geom(snapped)


def _tolerance_udf(kernel):
    def run(wkt: pd.Series, tol: pd.Series) -> pd.Series:
        out = []
        for w, t in zip(wkt, tol):
            try:
                if w is None or t is None or (isinstance(t, float) and pd.isna(t)):
                    out.append(None)
                    continue
                g = G.parse_wkt(w)
                s = kernel(g, float(t)) if g is not None else None
                out.append(G.to_wkt(s) if s is not None else None)
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return run


st_snaptogrid = pandas_udf(_tolerance_udf(snap_to_grid), StringType())
st_simplify = pandas_udf(_tolerance_udf(simplify), StringType())
st_simplifyvw = pandas_udf(_tolerance_udf(simplify_vw), StringType())
st_simplifypreservetopology = pandas_udf(
    _tolerance_udf(simplify_preserve_topology), StringType()
)
st_reduceprecision = pandas_udf(_tolerance_udf(reduce_precision), StringType())

ALL_SIMPLIFY_FUNCTIONS = {
    "st_simplify": st_simplify,
    "st_snaptogrid": st_snaptogrid,
    "st_simplifyvw": st_simplifyvw,
    "st_simplifypreservetopology": st_simplifypreservetopology,
    "st_reduceprecision": st_reduceprecision,
}
