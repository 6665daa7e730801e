"""Spatial grid generators + small PostGIS editors (F12 remainder,
r12). The reference forwards any PostGIS-accepted name verbatim
(src/index.ts:44-63); these are the binning/tiling tools a 100 TB
spatial pipeline reaches for first — a grid cell id is the shuffle key
that turns an unbounded spatial join into a bounded per-cell one.

- ``st_squaregrid(size, bounds)`` — ARRAY<STRING> of square cells of
  side ``size`` covering the bounds' envelope, aligned to the SRS
  origin (cell corners at integer multiples of ``size``, PostGIS's
  alignment), exploded by the caller (the ``st_subdivide`` idiom).
- ``st_hexagongrid(size, bounds)`` — flat-top hexagons, circumradius
  ``size``, origin-registered: column pitch 1.5·size, row pitch
  √3·size, odd columns offset UP by √3/2·size (a fixed documented
  registration; PostGIS's generator shares the cell shape and pitch
  but registers rows differently, so cell IDENTITIES are not
  PostGIS-interchangeable — the deterministic tiling is the contract).
  A cell is emitted when its BOUNDING BOX overlaps the bounds'
  envelope (boundary touch included) — a superset of true hex overlap
  by at most the bbox corner triangles, stated exactly so callers can
  rely on it.
- ``st_tileenvelope(z, x, y)`` — the standard XYZ Web-Mercator tile
  envelope: world = [−πR, πR]², tile side = world/2^z, y counted from
  the top (the published slippy-map convention PostGIS implements).
- ``st_removerepeatedpoints(wkt)`` — GEOS removeRepeatedPoints
  (tolerance 0): exposes the engine's ``geometry.dedup_vertices``.
- ``st_forcepolygonccw(wkt)`` / ``st_forcepolygoncw(wkt)`` — shells
  CCW/CW and holes opposite, other kinds echoed (PostGIS semantics).
- ``st_normalize(wkt)`` — canonical form: polygon shells CCW / holes
  CW with each ring rotated to start at its minimum vertex;
  multi-part members sorted canonically — points and linestrings by
  NUMERIC coordinate value, polygons and collection members by their
  WKT string (a deterministic pinned order; GEOS's exact member order
  is an implementation detail).
- ``st_swapordinates(wkt)`` — (x, y) → (y, x) on every vertex.
- ``st_project(wkt_point, distance, azimuth)`` — spherical forward
  geodesic on the WGS84 authalic-style sphere R = 6371008.8 m (the
  IUGG mean radius; PostGIS geography uses the spheroid — documented
  spherical divergence, same stance as st_distancesphere):
  φ₂ = asin(sin φ₁ cos δ + cos φ₁ sin δ cos α),
  λ₂ = λ₁ + atan2(sin α sin δ cos φ₁, cos δ − sin φ₁ sin φ₂).

Scale shape: all map-only Arrow-batched pandas UDFs; grid fan-out is
bounded by the caller's bounds/size choice and explodes AFTER the
filter, exactly like st_subdivide.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry

_MEAN_R = 6371008.8  # IUGG mean Earth radius (st_distancesphere's R)
_MERC_R = 6378137.0
_MAX_CELLS = 65536  # loud NULL instead of an OOM-sized array


def _bounds_of(wkt) -> tuple[float, float, float, float] | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None
    g = G.parse_wkt(s)
    if g is None:
        return None
    pts = G._points(g)
    if not pts or not all(
        math.isfinite(x) and math.isfinite(y) for x, y in pts
    ):
        return None
    return G.bbox(g)


def square_grid(size, bounds_wkt) -> list[str] | None:
    try:
        size = float(size)
    except (TypeError, ValueError):
        return None
    if not math.isfinite(size) or size <= 0:
        return None
    bb = _bounds_of(bounds_wkt)
    if bb is None:
        return None
    minx, miny, maxx, maxy = bb
    i0, i1 = math.floor(minx / size), math.ceil(maxx / size)
    j0, j1 = math.floor(miny / size), math.ceil(maxy / size)
    if i1 == i0:
        i1 += 1  # degenerate (line/point) bounds still get one column
    if j1 == j0:
        j1 += 1
    if (i1 - i0) * (j1 - j0) > _MAX_CELLS:
        return None  # loud: a grid this size must be generated distributed
    out = []
    for i in range(i0, i1):
        for j in range(j0, j1):
            out.append(
                G.to_wkt(
                    Geometry.box(i * size, j * size, (i + 1) * size, (j + 1) * size)
                )
            )
    return out


def hexagon_grid(size, bounds_wkt) -> list[str] | None:
    try:
        size = float(size)
    except (TypeError, ValueError):
        return None
    if not math.isfinite(size) or size <= 0:
        return None
    bb = _bounds_of(bounds_wkt)
    if bb is None:
        return None
    minx, miny, maxx, maxy = bb
    # Every hex vertex lies on the (size/2, √3·size/2) half-lattice.
    # Computing coordinates as INTEGER lattice indices × one shared
    # float scale makes shared vertices BIT-IDENTICAL across
    # neighboring cells, so adjacent hexagons share exact edges and
    # their interiors are exactly disjoint (the engine's exact
    # predicates see real tiling, not microscopic FP slivers).
    half_s = size / 2.0
    half_h = math.sqrt(3.0) * size / 2.0
    h = 2.0 * half_h  # row pitch (hex height)
    cp = 3.0 * half_s  # column pitch
    i0 = math.floor((minx - size) / cp)
    i1 = math.ceil((maxx + size) / cp)
    j0 = math.floor((miny - h) / h)
    j1 = math.ceil((maxy + h) / h)
    # The loud-NULL bomb gate counts EMITTED cells exactly (like
    # square_grid's), not the unfiltered candidate lattice — a request
    # whose fringe-trimmed output fits the cap must not NULL out. The
    # pre-loop gate is only a WORK bound: the overlap filter trims at
    # most 2 fringe columns and 4 fringe rows off the candidate
    # lattice, so emitted ≥ (cols−2)·(rows−4) and any lattice past
    # 16·cap + 64 provably emits past the cap anyway (worst aspect
    # ratios: a 1-column or 1-row strip keeps ≥ 1/5 of candidates).
    if (i1 - i0 + 1) * (j1 - j0 + 1) > 16 * _MAX_CELLS + 64:
        return None
    out = []
    for i in range(i0, i1 + 1):
        kx = 3 * i  # center x in half_s units
        for j in range(j0, j1 + 1):
            ky = 2 * j + (1 if i % 2 else 0)  # center y in half_h units
            cx, cy = kx * half_s, ky * half_h
            # bbox-overlap filter (module docstring): the hex bbox is
            # [cx - size, cx + size] x [cy - h/2, cy + h/2]
            if not (
                minx - size <= cx <= maxx + size
                and miny - half_h <= cy <= maxy + half_h
            ):
                continue
            if len(out) >= _MAX_CELLS:
                return None  # loud: generate a grid this size distributed
            ring = [
                ((kx + 2) * half_s, ky * half_h),
                ((kx + 1) * half_s, (ky + 1) * half_h),
                ((kx - 1) * half_s, (ky + 1) * half_h),
                ((kx - 2) * half_s, ky * half_h),
                ((kx - 1) * half_s, (ky - 1) * half_h),
                ((kx + 1) * half_s, (ky - 1) * half_h),
            ]
            out.append(Geometry("Polygon", [ring + [ring[0]]]))
    return [G.to_wkt(p) for p in out]


def tile_envelope(z, x, y) -> str | None:
    try:
        z, x, y = int(z), int(x), int(y)
    except (TypeError, ValueError):
        return None
    if z < 0 or z > 31 or not (0 <= x < 2**z) or not (0 <= y < 2**z):
        return None
    world = 2.0 * math.pi * _MERC_R
    side = world / (2.0**z)
    minx = -math.pi * _MERC_R + x * side
    maxy = math.pi * _MERC_R - y * side
    return G.to_wkt(Geometry.box(minx, maxy - side, minx + side, maxy))


def _force_orientation(g: Geometry, shell_ccw: bool) -> Geometry:
    def fix_rings(rings):
        out = []
        for idx, ring in enumerate(rings):
            a2 = sum(
                x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2) in zip(ring, ring[1:])
            )
            want_ccw = shell_ccw if idx == 0 else not shell_ccw
            if (a2 > 0) != want_ccw and a2 != 0:
                ring = ring[::-1]
            out.append(list(ring))
        return out

    if g.kind == "Polygon":
        return Geometry("Polygon", fix_rings(g.coords))
    if g.kind == "MultiPolygon":
        return Geometry("MultiPolygon", [fix_rings(r) for r in g.coords])
    if g.kind == "GeometryCollection":
        return Geometry(
            "GeometryCollection", [_force_orientation(s, shell_ccw) for s in g.coords]
        )
    return g


def _rotate_ring_min(ring: list) -> list:
    body = list(ring[:-1])
    k = body.index(min(body))
    body = body[k:] + body[:k]
    return body + [body[0]]


def normalize_geom(g: Geometry) -> Geometry:
    """Canonical form (module docstring): orientation + min-vertex ring
    rotation + WKT-sorted multi members."""
    g = _force_orientation(g, shell_ccw=True)
    if g.kind == "Polygon":
        return Geometry("Polygon", [_rotate_ring_min(r) for r in g.coords])
    if g.kind == "MultiPolygon":
        parts = [
            Geometry("Polygon", [_rotate_ring_min(r) for r in rings])
            for rings in g.coords
        ]
        return Geometry(
            "MultiPolygon", [p.coords for p in sorted(parts, key=G.to_wkt)]
        )
    if g.kind in ("MultiPoint",):
        return Geometry("MultiPoint", sorted(g.coords))
    if g.kind == "MultiLineString":
        return Geometry("MultiLineString", sorted(g.coords))
    if g.kind == "GeometryCollection":
        subs = [normalize_geom(s) for s in g.coords]
        return Geometry(
            "GeometryCollection", sorted(subs, key=G.to_wkt)
        )
    return g


def _swap(g: Geometry) -> Geometry:
    if g.kind == "Point":
        return Geometry("Point", (g.coords[1], g.coords[0]))
    if g.kind in ("LineString", "MultiPoint"):
        return Geometry(g.kind, [(y, x) for x, y in g.coords])
    if g.kind in ("Polygon", "MultiLineString"):
        return Geometry(g.kind, [[(y, x) for x, y in seq] for seq in g.coords])
    if g.kind == "MultiPolygon":
        return Geometry(
            "MultiPolygon",
            [[[(y, x) for x, y in r] for r in rings] for rings in g.coords],
        )
    return Geometry("GeometryCollection", [_swap(s) for s in g.coords])


def project_point(wkt, distance, azimuth) -> str | None:
    if wkt is None or distance is None or azimuth is None:
        return None
    try:
        distance, azimuth = float(distance), float(azimuth)
    except (TypeError, ValueError):
        return None
    if not (math.isfinite(distance) and math.isfinite(azimuth)):
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "Point":
        return None
    lon, lat = g.coords
    if not (math.isfinite(lon) and math.isfinite(lat)):
        return None
    d = distance / _MEAN_R
    p1 = math.radians(lat)
    l1 = math.radians(lon)
    p2 = math.asin(
        math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(azimuth)
    )
    l2 = l1 + math.atan2(
        math.sin(azimuth) * math.sin(d) * math.cos(p1),
        math.cos(d) - math.sin(p1) * math.sin(p2),
    )
    # normalize to [-180, 180) (lon = 180 maps to -180 — the same
    # point) — floor-based modulo so the q169 oracle can mirror it
    # term for term (DuckDB's % is fmod-signed, Python's % is
    # divisor-signed; floor avoids both)
    lon2 = math.degrees(l2)
    lon2 = (lon2 + 180.0) - 360.0 * math.floor((lon2 + 180.0) / 360.0) - 180.0
    return G.to_wkt(Geometry("Point", (lon2, math.degrees(p2))))


def _geom_map_wkt(fn):
    def run(wkt) -> str | None:
        if wkt is None:
            return None
        s = str(wkt).strip()
        if _ov._EMPTY_RE.match(s.upper()):
            return s
        g = G.parse_wkt(s)
        if g is None:
            return None
        return G.to_wkt(fn(g))

    return run


@pandas_udf(ArrayType(StringType()))
def st_squaregrid(size: pd.Series, bounds: pd.Series) -> pd.Series:
    out = []
    for s, b in zip(size, bounds):
        try:
            out.append(square_grid(s, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def st_hexagongrid(size: pd.Series, bounds: pd.Series) -> pd.Series:
    out = []
    for s, b in zip(size, bounds):
        try:
            out.append(hexagon_grid(s, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_tileenvelope(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    out = []
    for zz, xx, yy in zip(z, x, y):
        try:
            if zz is None or xx is None or yy is None or pd.isna(zz) or pd.isna(xx) or pd.isna(yy):
                out.append(None)
            else:
                out.append(tile_envelope(zz, xx, yy))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_removerepeatedpoints(wkt: pd.Series) -> pd.Series:
    run = _geom_map_wkt(G.dedup_vertices)
    out = []
    for w in wkt:
        try:
            out.append(run(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_forcepolygonccw(wkt: pd.Series) -> pd.Series:
    run = _geom_map_wkt(lambda g: _force_orientation(g, True))
    out = []
    for w in wkt:
        try:
            out.append(run(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_forcepolygoncw(wkt: pd.Series) -> pd.Series:
    run = _geom_map_wkt(lambda g: _force_orientation(g, False))
    out = []
    for w in wkt:
        try:
            out.append(run(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_normalize(wkt: pd.Series) -> pd.Series:
    run = _geom_map_wkt(normalize_geom)
    out = []
    for w in wkt:
        try:
            out.append(run(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_swapordinates(wkt: pd.Series) -> pd.Series:
    run = _geom_map_wkt(_swap)
    out = []
    for w in wkt:
        try:
            out.append(run(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_project(wkt: pd.Series, distance: pd.Series, azimuth: pd.Series) -> pd.Series:
    out = []
    for w, d, a in zip(wkt, distance, azimuth):
        try:
            if d is None or a is None or pd.isna(d) or pd.isna(a):
                out.append(None)
            else:
                out.append(project_point(w, d, a))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


# --- deterministic point sampling (r13) ------------------------------------
#
# ST_GeneratePoints(geom, n, seed): points inside an areal geometry.
# DOCUMENTED DIVERGENCE from PostGIS: PostGIS draws from its own PRNG
# (irreproducible across engines); this engine uses the (2,3)-Halton
# low-discrepancy sequence over the bbox with point-in-polygon
# rejection — bit-reproducible anywhere (the property a training-data
# pipeline actually wants from seeded sampling), better-spread than
# uniform PRNG draws, and SQL-mirrorable for the oracle (radical
# inverse base 2 is exact dyadic arithmetic; base 3 is a term-for-term
# float mirror). `seed` offsets the sequence start (k = seed+1, ...).
# Candidates are capped at 64·n + 1024 — a polygon thin enough to
# reject that much of its bbox is a loud NULL, never a stall.


def _radical_inverse(k: int, base: int) -> float:
    inv = 0.0
    denom = float(base)
    while k > 0:
        inv += (k % base) / denom
        k //= base
        denom *= base
    return inv


def generate_points(wkt, n, seed=0) -> str | None:
    try:
        n = int(n)
        seed = int(seed)
    except (TypeError, ValueError):
        return None
    if n < 0 or seed < 0:
        return None
    if n > _MAX_CELLS:
        return None  # loud: sample a set this size distributed
    if wkt is None:
        return None
    geom = G.parse_wkt(str(wkt).strip())
    if geom is None or geom.kind not in ("Polygon", "MultiPolygon"):
        return None  # PostGIS: only areal inputs produce points
    pts_all = G._points(geom)
    if not pts_all or not all(
        math.isfinite(x) and math.isfinite(y) for x, y in pts_all
    ):
        return None
    if n == 0:
        return "MULTIPOINT EMPTY"  # a VALID areal input, zero samples
    minx, miny, maxx, maxy = G.bbox(geom)
    w, h = maxx - minx, maxy - miny
    if w <= 0 or h <= 0:
        return None  # degenerate areal bbox
    # hoist the ring lists once — the rejection loop runs up to
    # 64·n + 1024 candidates per row, so per-candidate kind dispatch
    # and Geometry wrappers are pure waste (review r13)
    polys = G._polys(geom)
    pts = []
    k = seed
    budget = 64 * n + 1024
    while len(pts) < n and budget > 0:
        k += 1
        budget -= 1
        x = minx + _radical_inverse(k, 2) * w
        y = miny + _radical_inverse(k, 3) * h
        if any(G._point_in_polygon(x, y, rings) for rings in polys):
            pts.append((x, y))
    if len(pts) < n:
        return None  # rejection budget exhausted: loud NULL
    return G.to_wkt(Geometry("MultiPoint", pts))


@pandas_udf(StringType())
def st_generatepoints(wkt: pd.Series, n: pd.Series, seed: pd.Series) -> pd.Series:
    out = []
    for w, c, s in zip(wkt, n, seed):
        try:
            if c is None or s is None or pd.isna(c) or pd.isna(s):
                out.append(None)
            else:
                out.append(generate_points(w, int(c), int(s)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_GRID_FUNCTIONS = {
    "st_squaregrid": st_squaregrid,
    "st_hexagongrid": st_hexagongrid,
    "st_tileenvelope": st_tileenvelope,
    "st_removerepeatedpoints": st_removerepeatedpoints,
    "st_forcepolygonccw": st_forcepolygonccw,
    "st_forcepolygoncw": st_forcepolygoncw,
    "st_normalize": st_normalize,
    "st_swapordinates": st_swapordinates,
    "st_project": st_project,
    "st_generatepoints": st_generatepoints,
}


# --- smoothing / dumps / line editors (late r12) --------------------------
#
# ST_ChaikinSmoothing(geom, n_iterations): the published corner-cutting
# scheme — each segment (p, q) contributes Q = 3/4·p + 1/4·q and
# R = 1/4·p + 3/4·q; open lines keep their endpoints (PostGIS
# behavior), closed rings smooth every corner. Iterations cap at 5
# like PostGIS. Quarters are exact dyadic floats, so integer fixtures
# produce bit-exact string-buildable oracles.
# ST_Scroll(closed_line, point): rotate a closed LINESTRING to start at
# the given vertex (NULL if not closed / point not a vertex).
# ST_LineExtend(line, dist_forward, dist_backward): extend the last
# segment's direction forward and the first segment's backward.
# ST_DumpSegments / ST_DumpRings / ST_DumpPoints: explodable
# ARRAY<STRING> surfaces (the st_subdivide idiom) of the PostGIS
# set-returning dumps.


def _chaikin_chain(pts: list, closed: bool) -> list:
    seq = list(pts)
    if closed:
        out = []
        for p, q in zip(seq, seq[1:]):
            out.append((0.75 * p[0] + 0.25 * q[0], 0.75 * p[1] + 0.25 * q[1]))
            out.append((0.25 * p[0] + 0.75 * q[0], 0.25 * p[1] + 0.75 * q[1]))
        return out + [out[0]]
    # open line: cut each INTERIOR corner symmetrically and keep both
    # endpoints — smoothing a line and its reverse must be mirror
    # images (code-review r12: the segment-based form kept the first
    # Q but overwrote the last R, breaking the symmetry and PostGIS
    # parity)
    out = [seq[0]]
    for prev, v, nxt in zip(seq, seq[1:], seq[2:]):
        out.append((0.25 * prev[0] + 0.75 * v[0], 0.25 * prev[1] + 0.75 * v[1]))
        out.append((0.75 * v[0] + 0.25 * nxt[0], 0.75 * v[1] + 0.25 * nxt[1]))
    out.append(seq[-1])
    return out


def chaikin_geom(g: Geometry, n: int) -> Geometry | None:
    n = int(n)
    if n < 0:
        return None  # loud NULL at the surface
    n = min(5, n)  # PostGIS caps at 5; n = 0 echoes the input
    for _ in range(n):
        if g.kind == "LineString":
            closed = g.coords[0] == g.coords[-1]
            g = Geometry("LineString", _chaikin_chain(g.coords, closed))
        elif g.kind == "MultiLineString":
            g = Geometry(
                "MultiLineString",
                [_chaikin_chain(c, c[0] == c[-1]) for c in g.coords],
            )
        elif g.kind == "Polygon":
            g = Geometry("Polygon", [_chaikin_chain(r, True) for r in g.coords])
        elif g.kind == "MultiPolygon":
            g = Geometry(
                "MultiPolygon",
                [[_chaikin_chain(r, True) for r in rings] for rings in g.coords],
            )
        else:
            return g  # points unchanged (PostGIS echoes)
    return g


def scroll_geom(g: Geometry, pt: Geometry) -> Geometry | None:
    if g.kind != "LineString" or pt.kind != "Point":
        return None
    if g.coords[0] != g.coords[-1]:
        return None  # PostGIS: works on closed linestrings
    body = list(g.coords[:-1])
    if tuple(pt.coords) not in {tuple(p) for p in body}:
        return None
    k = [tuple(p) for p in body].index(tuple(pt.coords))
    body = body[k:] + body[:k]
    return Geometry("LineString", body + [body[0]])


def line_extend(g: Geometry, fwd: float, back: float) -> Geometry | None:
    if g.kind != "LineString" or len(g.coords) < 2:
        return None
    pts = [list(p) for p in g.coords]
    if back > 0:
        (x1, y1), (x2, y2) = pts[0], pts[1]
        d = math.hypot(x2 - x1, y2 - y1)
        if d == 0:
            return None
        pts[0] = [x1 - back * (x2 - x1) / d, y1 - back * (y2 - y1) / d]
    if fwd > 0:
        (x1, y1), (x2, y2) = pts[-2], pts[-1]
        d = math.hypot(x2 - x1, y2 - y1)
        if d == 0:
            return None
        pts[-1] = [x2 + fwd * (x2 - x1) / d, y2 + fwd * (y2 - y1) / d]
    return Geometry("LineString", [tuple(p) for p in pts])


def dump_segments(g: Geometry) -> list[str]:
    # every consecutive vertex pair, REPEATED points included —
    # PostGIS ST_DumpSegments emits degenerate segments too
    return [G.to_wkt(Geometry("LineString", [a, b])) for a, b in G._segments(g)]


def dump_rings(g: Geometry) -> list[str] | None:
    if g.kind == "Polygon":
        return [G.to_wkt(Geometry("Polygon", [list(r)])) for r in g.coords]
    if g.kind == "MultiPolygon":
        return [
            G.to_wkt(Geometry("Polygon", [list(r)]))
            for rings in g.coords
            for r in rings
        ]
    return None  # PostGIS: polygon input only


def dump_points(g: Geometry) -> list[str]:
    return [G.to_wkt(Geometry("Point", p)) for p in G._points(g)]


def _wkt_in(w):
    g = G.parse_wkt_opt(w)
    if g is None or not G._points(g):
        return None  # NULL/junk/EMPTY -> None (the shared idiom)
    return g


@pandas_udf(StringType())
def st_chaikinsmoothing(wkt: pd.Series, n: pd.Series) -> pd.Series:
    out = []
    for w, k in zip(wkt, n):
        try:
            g = _wkt_in(w)
            if g is None or k is None or pd.isna(k):
                out.append(None)
            else:
                r = chaikin_geom(g, int(k))
                out.append(None if r is None else G.to_wkt(r))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_scroll(wkt: pd.Series, pt: pd.Series) -> pd.Series:
    out = []
    for w, p in zip(wkt, pt):
        try:
            g, gp = _wkt_in(w), _wkt_in(p)
            if g is None or gp is None:
                out.append(None)
            else:
                r = scroll_geom(g, gp)
                out.append(None if r is None else G.to_wkt(r))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_lineextend(wkt: pd.Series, fwd: pd.Series, back: pd.Series) -> pd.Series:
    out = []
    for w, f, b in zip(wkt, fwd, back):
        try:
            g = _wkt_in(w)
            if g is None or f is None or b is None or pd.isna(f) or pd.isna(b):
                out.append(None)
            elif not (math.isfinite(float(f)) and math.isfinite(float(b))) or float(f) < 0 or float(b) < 0:
                out.append(None)
            else:
                r = line_extend(g, float(f), float(b))
                out.append(None if r is None else G.to_wkt(r))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def st_dumpsegments(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            g = _wkt_in(w)
            out.append(None if g is None else dump_segments(g))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def st_dumprings(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            g = _wkt_in(w)
            out.append(None if g is None else dump_rings(g))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def st_dumppoints(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            g = _wkt_in(w)
            out.append(None if g is None else dump_points(g))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_GRID_FUNCTIONS.update(
    {
        "st_chaikinsmoothing": st_chaikinsmoothing,
        "st_scroll": st_scroll,
        "st_lineextend": st_lineextend,
        "st_dumpsegments": st_dumpsegments,
        "st_dumprings": st_dumprings,
        "st_dumppoints": st_dumppoints,
    }
)
