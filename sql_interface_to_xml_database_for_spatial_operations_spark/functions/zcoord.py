"""Z (3-D) coordinate support (F12 remainder, r15 — VERDICT r14
missing item 1): ST_Z / ST_ZMin / ST_ZMax / ST_Force3D(Z) /
ST_3DDistance / ST_3DLength. The reference forwards PostGIS names
verbatim (src/index.ts:44-63), and elevation / LiDAR / GPS-altitude
datasets carry Z on day one — previously the engine's
highest-frequency loud-NULL refusal.

Z and ZM text reads and writes through the one WKT codec (``wkt``),
whose output mirrors PostGIS ST_AsText: ``POINT Z (1 2 3)``,
``POLYGON Z ((x y z, …))``, ``MULTIPOINT ZM ((x y z m), …)``.

Semantics (PostGIS-matching unless noted):

- ``st_z(point)`` — the Z of a POINT Z / POINT ZM; NULL for 2-D or
  M-only points (the coordinate is absent) and non-points (loud).
- ``st_zmin(g)`` / ``st_zmax(g)`` — min/max Z over all vertices of a
  Z/ZM geometry; no Z or EMPTY → loud NULL.
- ``st_force3d(g)`` / ``st_force3dz(g, z)`` — force XYZ mode: 2-D
  input gains Z = z (default 0), Z input echoes canonically, ZM and
  M-only input drop M and keep/gain Z (liblwgeom ``force_dims(hasz=1,
  hasm=0)`` — PostGIS ST_Force3DZ discards M); collections re-dim
  member by member.
- ``st_3dlength(line)`` — cumulative 3-D arc length of a lineal
  geometry; 2-D / M-only lineal input computes with Z = 0 (PostGIS
  behavior: missing Z contributes nothing). Non-lineal → loud NULL.
- ``st_3ddistance(a, b)`` — minimum 3-D distance between puntal /
  lineal geometries (any mix of 2-D / M / Z / ZM — absent Z reads 0,
  PostGIS's convention for mixed-dimension pairs). Point–point,
  point–segment, and segment–segment closed forms (Ericson,
  *Real-Time Collision Detection* §5.1.9 — the public algorithm GEOS
  uses); areal operands are a documented loud NULL (PostGIS supports
  planar polygon faces; this engine's 3-D surface model does not).
- ``st_3ddwithin(a, b, d)`` / ``st_3dclosestpoint(a, b)`` /
  ``st_3dshortestline(a, b)`` — the same kernel's predicate and
  witness forms (ties take the first minimum in scan order —
  deterministic); ``st_3dmaxdistance(a, b)`` — |p − q| is convex
  along each segment, so the maximum is EXACT over vertex pairs.
- ``st_3dlineinterpolatepoint(line, f)`` — the POINT Z at fraction f
  of the 3-D arc length of a LINESTRING (last-segment fallback by
  index — the measure_m r14 lesson); ``st_3dperimeter(areal)`` — the
  3-D length of every ring.

All map-only Arrow-batched pandas UDFs — no shuffle; pairwise
kernels carry the linearref-style work budget so adversarial
many-vertex rows degrade to a loud NULL, never a hot loop.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, StringType

from . import geometry as G
from . import wkt as W
from .wkt import _num, _safe

# point-segment-evaluation budget for the pairwise 3-D distance kernel
# (the linearref.py:209 convention): beyond this the row is a loud
# NULL, never a multi-second driver-side loop
_MAX_PAIR_WORK = 4_000_000


def z_of_point(wkt) -> float | None:
    g = W.read(wkt)
    if g is None or g[0] != "Point" or "Z" not in g[1] or not g[2]:
        return None
    return g[2][2]


def _all_z(wkt, _depth: int = 0) -> list | None:
    if _depth > W.MAX_DEPTH:
        return None
    parts = W.members(wkt)
    if parts is not None:
        # collection: concatenate members' Z values; Z-less members
        # contribute nothing (PostGIS ST_ZMin over mixed collections)
        zs: list = []
        for t in parts:
            sub = _all_z(t, _depth + 1)
            if sub is not None:
                zs.extend(sub)
        return zs
    g = W.read(wkt)
    if g is None or g[0] == "GeometryCollection" or "Z" not in g[1]:
        return None
    return [p[2] for p in W.points(g[0], g[2])]


def zmin_of(wkt) -> float | None:
    zs = _all_z(wkt)
    return min(zs) if zs else None


def zmax_of(wkt) -> float | None:
    zs = _all_z(wkt)
    return max(zs) if zs else None


def force_wkt(wkt, dims: str, z0=0.0, m0=0.0, _depth: int = 0) -> str | None:
    """PostGIS ST_Force2D / ST_Force3DZ / ST_Force3DM / ST_Force4D: the
    geometry in ``dims``. A missing Z or M is filled with ``z0`` or
    ``m0``, an unwanted one dropped (liblwgeom ``force_dims``: ST_Force3DZ
    discards M); collections recurse member-wise under the new tag. Only
    ST_Force2D also takes a 2-D collection the planar reader takes."""
    z, m = _num(z0), _num(m0)
    if wkt is None or z is None or m is None or _depth > W.MAX_DEPTH:
        return None
    parts = W.members(wkt)
    if parts is not None:
        out = [force_wkt(t, dims, z, m, _depth + 1) for t in parts]
        if None in out:
            return None
        head = f"GEOMETRYCOLLECTION {dims}".rstrip()
        return f"{head} (" + ", ".join(out) + ")" if out else f"{head} EMPTY"
    g = W.read(wkt)
    if g is None or g[0] == "GeometryCollection" and (dims or G._xy(g) is None):
        return None
    return W.write(*W.redim(g, dims, z, m))


def force3d_wkt(wkt, z0=0.0) -> str | None:
    return force_wkt(wkt, "Z", z0=z0)


def force3dm_wkt(wkt, m0=0.0) -> str | None:
    return force_wkt(wkt, "M", m0=m0)


def force4d_wkt(wkt, z0=0.0, m0=0.0) -> str | None:
    return force_wkt(wkt, "ZM", z0, m0)


def dims_of(wkt) -> str | None:
    """'', 'Z', 'M' or 'ZM' of any WKT the library reads (collections
    report their members' union, surfaces their tag); None for junk."""
    g = W.read(wkt)
    if g is not None:
        return W.member_dims(g)
    from . import surface3d as _s3

    ps = _s3.parse_surface_wkt(wkt)
    return None if ps is None else ps[1]


def ndims_of(wkt) -> int | None:
    """PostGIS ST_NDims / ST_CoordDim: 2 (XY), 3 (XYZ or XYM), 4
    (XYZM) — across the full codec stack incl. surfaces."""
    d = dims_of(wkt)
    return None if d is None else 2 + len(d)


# ---------------------------------------------------------------------------
# 3-D primitives: any puntal/lineal WKT (2-D, M, Z, ZM) → points + segments
# ---------------------------------------------------------------------------


def _prims_3d(wkt, _depth: int = 0):
    """([points], [segments]) in XYZ (absent Z reads 0), or None for
    non-puntal/lineal input. Segments are ((x,y,z), (x,y,z)).
    Collections concatenate their members' primitives (r16); any areal
    member keeps the whole input loud-NULL."""
    if _depth > W.MAX_DEPTH:
        return None
    parts = W.members(wkt)
    if parts is not None:
        pts: list = []
        segs: list = []
        for t in parts:
            sub = _prims_3d(t, _depth + 1)
            if sub is None:
                return None
            pts.extend(sub[0])
            segs.extend(sub[1])
        return (pts, segs)
    g = W.read(wkt)
    if g is None or g[0] in ("Polygon", "MultiPolygon", "GeometryCollection"):
        return None
    kind, dims, coords = g
    if "Z" in dims:
        xyz = lambda p: (p[0], p[1], p[2])  # noqa: E731
    else:
        xyz = lambda p: (p[0], p[1], 0.0)  # noqa: E731
    if kind in ("Point", "MultiPoint"):
        return ([xyz(p) for p in W.points(kind, coords)], [])
    chains = [coords] if kind == "LineString" else coords
    segs = [(xyz(p), xyz(q)) for ch in chains for p, q in zip(ch, ch[1:])]
    return ([], segs)


def _d3(p, q) -> float:
    return math.sqrt(
        (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2
    )


def _pt_seg_w3(p, a, b):
    """(distance, closest point on [a, b]) for a 3-D point."""
    ab = (b[0] - a[0], b[1] - a[1], b[2] - a[2])
    ap = (p[0] - a[0], p[1] - a[1], p[2] - a[2])
    denom = ab[0] ** 2 + ab[1] ** 2 + ab[2] ** 2
    if denom == 0.0:
        return (_d3(p, a), a)
    t = (ap[0] * ab[0] + ap[1] * ab[1] + ap[2] * ab[2]) / denom
    t = 0.0 if t < 0.0 else 1.0 if t > 1.0 else t
    c = (a[0] + t * ab[0], a[1] + t * ab[1], a[2] + t * ab[2])
    return (_d3(p, c), c)


def _pt_seg_d3(p, a, b) -> float:
    return _pt_seg_w3(p, a, b)[0]


def _seg_seg_w3(p1, q1, p2, q2):
    """(distance, witness on A, witness on B) for 3-D segments —
    Ericson RTCD §5.1.9 (clamped quadratic; degenerate segments fall
    back to the point kernels)."""
    d1 = (q1[0] - p1[0], q1[1] - p1[1], q1[2] - p1[2])
    d2 = (q2[0] - p2[0], q2[1] - p2[1], q2[2] - p2[2])
    r = (p1[0] - p2[0], p1[1] - p2[1], p1[2] - p2[2])
    a = d1[0] ** 2 + d1[1] ** 2 + d1[2] ** 2
    e = d2[0] ** 2 + d2[1] ** 2 + d2[2] ** 2
    f = d2[0] * r[0] + d2[1] * r[1] + d2[2] * r[2]
    if a == 0.0 and e == 0.0:
        return (_d3(p1, p2), p1, p2)
    if a == 0.0:
        d, c = _pt_seg_w3(p1, p2, q2)
        return (d, p1, c)
    if e == 0.0:
        d, c = _pt_seg_w3(p2, p1, q1)
        return (d, c, p2)
    c = d1[0] * r[0] + d1[1] * r[1] + d1[2] * r[2]
    b = d1[0] * d2[0] + d1[1] * d2[1] + d1[2] * d2[2]
    denom = a * e - b * b
    s = 0.0 if denom == 0.0 else max(0.0, min(1.0, (b * f - c * e) / denom))
    t = (b * s + f) / e
    if t < 0.0:
        t = 0.0
        s = max(0.0, min(1.0, -c / a))
    elif t > 1.0:
        t = 1.0
        s = max(0.0, min(1.0, (b - c) / a))
    c1 = (p1[0] + s * d1[0], p1[1] + s * d1[1], p1[2] + s * d1[2])
    c2 = (p2[0] + t * d2[0], p2[1] + t * d2[1], p2[2] + t * d2[2])
    return (_d3(c1, c2), c1, c2)


def _seg_seg_d3(p1, q1, p2, q2) -> float:
    return _seg_seg_w3(p1, q1, p2, q2)[0]


def length3d_wkt(wkt) -> float | None:
    """3-D arc length of a lineal geometry (absent Z reads 0)."""
    if wkt is None:
        return None
    prims = _prims_3d(wkt)
    if prims is None:
        return None
    pts, segs = prims
    if pts:
        return None  # puntal input has no length — loud NULL
    return sum(_d3(a, b) for a, b in segs)


def _closest3d(a_wkt, b_wkt):
    """(distance, witness on a, witness on b) — None outside the
    puntal/lineal contract or past the work budget. Ties take the
    first minimum in scan order (deterministic)."""
    if a_wkt is None or b_wkt is None:
        return None
    pa = _prims_3d(a_wkt)
    pb = _prims_3d(b_wkt)
    if pa is None or pb is None:
        return None
    pts_a, segs_a = pa
    pts_b, segs_b = pb
    if not (pts_a or segs_a) or not (pts_b or segs_b):
        return None  # EMPTY operand
    na = len(pts_a) + 2 * len(segs_a)
    nb = len(pts_b) + 2 * len(segs_b)
    if na * nb > _MAX_PAIR_WORK:
        return None  # loud work budget (linearref.py convention)
    best = (math.inf, None, None)
    for p in pts_a:
        for q in pts_b:
            d = _d3(p, q)
            if d < best[0]:
                best = (d, p, q)
        for s, t in segs_b:
            d, c = _pt_seg_w3(p, s, t)
            if d < best[0]:
                best = (d, p, c)
    for s, t in segs_a:
        for q in pts_b:
            d, c = _pt_seg_w3(q, s, t)
            if d < best[0]:
                best = (d, c, q)
        for u, v in segs_b:
            d, c1, c2 = _seg_seg_w3(s, t, u, v)
            if d < best[0]:
                best = (d, c1, c2)
    return best


def distance3d_wkt(a_wkt, b_wkt) -> float | None:
    out = _closest3d(a_wkt, b_wkt)
    return None if out is None else out[0]


def dwithin3d_wkt(a_wkt, b_wkt, d) -> bool | None:
    """ST_3DDWithin over the same puntal/lineal kernel."""
    dv = _num(d)
    if dv is None or dv < 0.0:
        return None
    out = _closest3d(a_wkt, b_wkt)
    return None if out is None else out[0] <= dv


def closestpoint3d_wkt(a_wkt, b_wkt) -> str | None:
    """ST_3DClosestPoint: the point ON a nearest to b (POINT Z)."""
    out = _closest3d(a_wkt, b_wkt)
    if out is None:
        return None
    return W.write("Point", "Z", out[1])


def shortestline3d_wkt(a_wkt, b_wkt) -> str | None:
    """ST_3DShortestLine as LINESTRING Z (degenerate when touching —
    PostGIS returns the zero-length line too)."""
    out = _closest3d(a_wkt, b_wkt)
    if out is None:
        return None
    return W.write("LineString", "Z", [out[1], out[2]])


def locatebetweenelevations_wkt(wkt, z_lo, z_hi) -> str | None:
    """ST_LocateBetweenElevations (r17): the sub-geometry whose Z lies
    in [z_lo, z_hi], over the Z / ZM codec — the measure_m
    locatebetween_wkt kernel transposed to ordinate index 2, with the
    same output conventions (spans → MULTILINESTRING, zero-length
    contacts → MULTIPOINT parts, mixed → GEOMETRYCOLLECTION — the
    ADVICE r14 contact rules; exact endpoints at t = 0/1; clip in
    ELEVATION space so a clamped-out segment never fabricates a
    contact). ZM input interpolates the measure along with x/y and
    keeps the ZM tag. 2-D / M-only input → loud NULL (PostGIS requires
    a Z ordinate)."""
    lo, hi = _num(z_lo), _num(z_hi)
    if wkt is None or lo is None or hi is None or hi < lo:
        return None
    g = W.read(wkt)
    if g is None or "Z" not in g[1]:
        return None
    kind, dims, payload = g
    if kind == "Point":
        hits = [payload] if payload and lo <= payload[2] <= hi else []
        return W.write("MultiPoint", dims, hits)
    if kind == "MultiPoint":
        return W.write(
            "MultiPoint", dims, [p for p in payload if lo <= p[2] <= hi]
        )
    if kind not in ("LineString", "MultiLineString"):
        return None  # areal clip-by-elevation is outside this kernel
    chains = [payload] if kind == "LineString" else payload
    spans, cur, contacts = [], [], []
    for ch in chains:
        for a, b in zip(ch, ch[1:]):
            az, bz = a[2], b[2]

            def at(t, a=a, b=b):
                if t == 0.0:
                    return a
                if t == 1.0:
                    return b
                return tuple(av + t * (bv - av) for av, bv in zip(a, b))

            if az == bz:
                if lo <= az <= hi:
                    t0, t1 = 0.0, 1.0
                else:
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
            else:
                zlo, zhi = (az, bz) if az < bz else (bz, az)
                ilo, ihi = max(lo, zlo), min(hi, zhi)
                if ilo > ihi:
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
                if ilo == ihi:
                    contacts.append(at((ilo - az) / (bz - az)))
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
                ta = (ilo - az) / (bz - az)
                tb = (ihi - az) / (bz - az)
                t0, t1 = (ta, tb) if ta <= tb else (tb, ta)

            entry, exit_ = at(t0), at(t1)
            if cur and cur[-1] == entry:
                cur.append(exit_)
            else:
                if cur:
                    spans.append(cur)
                cur = [entry, exit_]
        if cur:
            spans.append(cur)
            cur = []
    span_pts = {p for s in spans for p in (s[0], s[-1])}
    pts = []
    for c in contacts:
        if c not in span_pts and c not in pts:
            pts.append(c)
    if spans and pts:
        return W.write(
            "GeometryCollection",
            dims,
            [("LineString", dims, s) for s in spans]
            + [("Point", dims, p) for p in pts],
        )
    if pts:
        return W.write("MultiPoint", dims, pts)
    return W.write("MultiLineString", dims, spans)


def longestline3d_wkt(a_wkt, b_wkt) -> str | None:
    """ST_3DLongestLine as LINESTRING Z (r17): |p − q| is convex along
    each segment, so the maximum is attained at a VERTEX pair — the
    argmax of the st_3dmaxdistance scan, first-found on ties (the scan
    order is the deterministic WKT vertex order)."""
    if a_wkt is None or b_wkt is None:
        return None
    pa = _prims_3d(a_wkt)
    pb = _prims_3d(b_wkt)
    if pa is None or pb is None:
        return None
    va = pa[0] + [p for s in pa[1] for p in s]
    vb = pb[0] + [p for s in pb[1] for p in s]
    if not va or not vb:
        return None
    if len(va) * len(vb) > _MAX_PAIR_WORK:
        return None
    best = None
    best_d = -1.0
    for p in va:
        for q in vb:
            d = _d3(p, q)
            if d > best_d:
                best_d, best = d, (p, q)
    return W.write("LineString", "Z", [best[0], best[1]])


def maxdistance3d_wkt(a_wkt, b_wkt) -> float | None:
    """ST_3DMaxDistance: |p − q| is convex along each segment, so the
    maximum over two bounded segment sets is attained at VERTEX pairs
    — an exact vertex×vertex scan."""
    if a_wkt is None or b_wkt is None:
        return None
    pa = _prims_3d(a_wkt)
    pb = _prims_3d(b_wkt)
    if pa is None or pb is None:
        return None
    va = pa[0] + [p for s in pa[1] for p in s]
    vb = pb[0] + [p for s in pb[1] for p in s]
    if not va or not vb:
        return None
    if len(va) * len(vb) > _MAX_PAIR_WORK:
        return None
    return max(_d3(p, q) for p in va for q in vb)


def lineinterpolatepoint3d_wkt(wkt, fraction) -> str | None:
    """ST_3DLineInterpolatePoint: the point at ``fraction`` of the
    3-D arc length of a LINESTRING Z/ZM (2-D/M lineal input reads
    Z = 0, like the other 3-D measures). fraction ∈ [0, 1]."""
    f = _num(fraction)
    if wkt is None or f is None or not 0.0 <= f <= 1.0:
        return None
    prims = _prims_3d(wkt)
    if prims is None:
        return None
    pts, segs = prims
    if pts or not segs:
        return None  # puntal / EMPTY — loud (PostGIS wants a line)
    # segments of one LineString arrive in order; reject multi-part
    # input the way PostGIS does (linestring only)
    if W.read(wkt)[0] != "LineString":
        return None
    lens = [_d3(a, b) for a, b in segs]
    total = sum(lens)
    if total == 0.0:
        return W.write("Point", "Z", segs[0][0])
    target = f * total
    cum = 0.0
    last = len(segs) - 1
    for i, ((a, b), ln) in enumerate(zip(segs, lens)):
        # last-segment fallback BY INDEX (the measure_m r14 lesson:
        # value-equality guards snap duplicate segments wrong)
        if cum + ln >= target or i == last:
            t = 0.0 if ln == 0.0 else min(1.0, max(0.0, (target - cum) / ln))
            if t == 0.0:
                return W.write("Point", "Z", a)
            if t == 1.0:
                return W.write("Point", "Z", b)
            return W.write(
                "Point",
                "Z",
                (
                    a[0] + t * (b[0] - a[0]),
                    a[1] + t * (b[1] - a[1]),
                    a[2] + t * (b[2] - a[2]),
                ),
            )
        cum += ln
    return W.write("Point", "Z", segs[-1][1])


def perimeter3d_wkt(wkt) -> float | None:
    """ST_3DPerimeter: the 3-D length of every ring of an areal Z
    geometry (2-D areal input reads Z = 0 → the plain perimeter)."""
    g = W.read(wkt)
    if g is None or g[0] not in ("Polygon", "MultiPolygon"):
        return None
    kind, dims, coords = g
    rings = coords if kind == "Polygon" else [r for rs in coords for r in rs]
    if "Z" in dims:
        return sum(
            _d3((p[0], p[1], p[2]), (q[0], q[1], q[2]))
            for ring in rings
            for p, q in zip(ring, ring[1:])
        )
    return float(sum(
        math.hypot(q[0] - p[0], q[1] - p[1])
        for ring in rings
        for p, q in zip(ring, ring[1:])
    ))


# ---------------------------------------------------------------------------
# UDF surface
# ---------------------------------------------------------------------------


@pandas_udf(DoubleType())
def st_z(wkt: pd.Series) -> pd.Series:
    """ST_Z: the Z of a POINT Z / POINT ZM; NULL otherwise."""
    return pd.Series([_safe(z_of_point, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_zmin(wkt: pd.Series) -> pd.Series:
    """ST_ZMin over all vertices; NULL without a Z dimension."""
    return pd.Series([_safe(zmin_of, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_zmax(wkt: pd.Series) -> pd.Series:
    """ST_ZMax over all vertices; NULL without a Z dimension."""
    return pd.Series([_safe(zmax_of, w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_force3d(wkt: pd.Series) -> pd.Series:
    """ST_Force3D(g): XYZ mode with default Z = 0."""
    return pd.Series([_safe(force3d_wkt, w, 0.0) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_force3dz(wkt: pd.Series, z: pd.Series) -> pd.Series:
    """ST_Force3DZ(g, z): XYZ mode with an explicit default Z."""
    return pd.Series(
        [_safe(force3d_wkt, w, zv) for w, zv in zip(wkt, z)], dtype=object
    )


@pandas_udf(DoubleType())
def st_3dlength(wkt: pd.Series) -> pd.Series:
    """ST_3DLength of a lineal geometry (absent Z reads 0)."""
    return pd.Series([_safe(length3d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_3ddistance(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DDistance between puntal/lineal geometries."""
    return pd.Series(
        [_safe(distance3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(BooleanType())
def st_3ddwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    """ST_3DDWithin over the 3-D distance kernel."""
    return pd.Series(
        [_safe(dwithin3d_wkt, x, y, dv) for x, y, dv in zip(a, b, d)],
        dtype=object,
    )


@pandas_udf(DoubleType())
def st_3dmaxdistance(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DMaxDistance (exact vertex-pair maximum)."""
    return pd.Series(
        [_safe(maxdistance3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_3dclosestpoint(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DClosestPoint: the POINT Z on a nearest to b."""
    return pd.Series(
        [_safe(closestpoint3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_3dshortestline(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DShortestLine as LINESTRING Z."""
    return pd.Series(
        [_safe(shortestline3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_3dlineinterpolatepoint(wkt: pd.Series, f: pd.Series) -> pd.Series:
    """ST_3DLineInterpolatePoint at a 3-D arc-length fraction."""
    return pd.Series(
        [_safe(lineinterpolatepoint3d_wkt, w, fv) for w, fv in zip(wkt, f)],
        dtype=object,
    )


@pandas_udf(DoubleType())
def st_3dperimeter(wkt: pd.Series) -> pd.Series:
    """ST_3DPerimeter of an areal geometry (absent Z reads 0)."""
    return pd.Series([_safe(perimeter3d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_3dlongestline(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DLongestLine as LINESTRING Z (the st_3dmaxdistance argmax
    vertex pair, r17)."""
    return pd.Series(
        [_safe(longestline3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_locatebetweenelevations(
    wkt: pd.Series, z1: pd.Series, z2: pd.Series
) -> pd.Series:
    """ST_LocateBetweenElevations over the Z / ZM codec (r17)."""
    return pd.Series(
        [
            _safe(locatebetweenelevations_wkt, w, a, b)
            for w, a, b in zip(wkt, z1, z2)
        ],
        dtype=object,
    )


@pandas_udf(StringType())
def st_force3dm(wkt: pd.Series) -> pd.Series:
    """ST_Force3DM with PostGIS's default m = 0 (fixed-arity name)."""
    return pd.Series([_safe(force3dm_wkt, w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_force4d(wkt: pd.Series) -> pd.Series:
    """ST_Force4D with PostGIS's defaults z = m = 0 (fixed-arity)."""
    return pd.Series([_safe(force4d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(IntegerType())
def st_ndims(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(ndims_of, w) for w in wkt], dtype="object")


ALL_ZCOORD_FUNCTIONS = {
    "st_z": st_z,
    "st_zmin": st_zmin,
    "st_zmax": st_zmax,
    "st_force3d": st_force3d,
    "st_force3dz": st_force3dz,
    "st_force3dm": st_force3dm,
    "st_force4d": st_force4d,
    "st_ndims": st_ndims,
    # PostGIS documents ST_CoordDim as the SQL/MM alias of ST_NDims
    "st_coorddim": st_ndims,
    "st_3dlength": st_3dlength,
    "st_3ddistance": st_3ddistance,
    "st_3ddwithin": st_3ddwithin,
    "st_3dmaxdistance": st_3dmaxdistance,
    "st_3dclosestpoint": st_3dclosestpoint,
    "st_3dshortestline": st_3dshortestline,
    "st_3dlineinterpolatepoint": st_3dlineinterpolatepoint,
    "st_3dperimeter": st_3dperimeter,
    "st_3dlongestline": st_3dlongestline,
    "st_locatebetweenelevations": st_locatebetweenelevations,
}
