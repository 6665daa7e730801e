"""ST_Transform — closed-form reprojection (F12): a named-SRID table
plus a parameterized '+proj=' grammar over the same kernels.

PostGIS users reach ``ST_Transform(geom, srid)`` through the forwarding
surface (reference src/index.ts:44-63). A general CRS engine needs proj
(not in this runtime); this module instead implements the published
closed forms for the projection FAMILIES those CRSs instantiate, and
accepts BOTH spellings:

- **Named SRIDs**: 4326 ↔ 3857 (spherical Web Mercator), UTM
  EPSG:326xx/327xx (third-order Krüger series), LCC 2SP (2154/3034),
  LAEA (3035), Albers (5070/3577), polar stereographic
  (3413/3031/3032), national TM grids (27700/2180), World Mercator
  (3395), the Swiss grids (21781/2056). Pairs compose through 4326.
- **'+proj=' parameter strings** (the PostGIS from_proj/to_proj text
  forms, r16+): tmerc / utm / lcc(2SP) / aea / laea / stere(polar) /
  merc / somerc / omerc (Hotine) / sterea (oblique stereographic) /
  krovak (Czech S-JTSK) / longlat, with +ellps/+a/+rf/+b, +towgs84 Helmert datum legs,
  +datum=WGS84|NAD83, and projected +units=m|us-ft|ft or +to_meter=
  (r17 — US state-plane strings in survey feet work as published;
  +x_0/+y_0 stay in meters, the proj convention). Anything outside
  the grammar — unknown projections or parameters, malformed or
  degenerate values (+k=0, empty '+key=', near-polar oblique LAEA,
  omerc azimuths at 0/90°) — raises a loud ValueError at parse time:
  a silently ignored or defaulted parameter would corrupt every
  coordinate.

The spherical Web-Mercator forms (EPSG guidance note 7-2 / the
standard derivation):

    x = R·λ·π/180          λ = x/R · 180/π
    y = R·ln(tan(π/4 + φ·π/360))    φ = (2·atan(exp(y/R)) − π/2)·180/π

with R = 6378137 (the WGS84 semi-major axis — spherical Mercator by
definition uses it for both axes). 3857 latitudes are clamped to
±85.051129° (the Mercator square's edge), matching the web-mapping
convention; the ELLIPSOIDAL Mercators instead send the poles to ±inf
honestly and st_transform maps the row to NULL (ADVICE r16).
Unsupported named-SRID pairs raise a loud ValueError rather than
silently passing coordinates through.

Scale shape: map-only vectorized pandas UDF over WKT, no shuffle, same
batch-level parse memoization pattern as the rest of the registry. The
transform is a per-vertex closed form, so cost is linear in vertices
regardless of geometry complexity.

Oracle note: pairing with DuckDB requires transcendental functions
(ln/tan/atan/exp) whose last-ulp behavior differs across libm builds, so
a driver row should use the micro-int idiom at a precision the ulp noise
cannot reach (≤1e-6 of a meter is safe: doubles carry ~1e-9 relative
error at Mercator magnitudes ~2e7, i.e. ~1e-2 µm).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from . import geometry as G
from .geometry import Geometry

R = 6378137.0
MAX_LAT = 85.05112877980659  # atan(sinh(pi)) in degrees: the Mercator square


def _fwd(lon: float, lat: float) -> tuple[float, float]:
    lat = max(-MAX_LAT, min(MAX_LAT, lat))
    x = R * math.radians(lon)
    # atanh(sin φ) ≡ ln(tan(π/4 + φ/2)), but exact at φ=0 in floats
    # (tan(π/4) is not exactly 1, which would put the equator at y≈-7e-10)
    y = R * math.atanh(math.sin(math.radians(lat)))
    return x, y


def _inv(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / R)
    lat = math.degrees(2.0 * math.atan(math.exp(y / R)) - math.pi / 2.0)
    return lon, lat


# --- UTM (EPSG:326xx north / 327xx south) ↔ WGS84 ------------------------
#
# Transverse Mercator via the third-order Krüger series (the standard
# public formulas — Karney 2011 "Transverse Mercator with an accuracy of
# a few nanometers" §3, truncated at n³, ≈0.1 mm accuracy within a UTM
# zone; no proj dependency). WGS84 ellipsoid, k0 = 0.9996,
# E0 = 500 km, N0 = 0 north / 10 000 km south, λ0 = 6·zone − 183°.
_F = 1.0 / 298.257223563  # WGS84 flattening
_K0 = 0.9996
_E0 = 500_000.0
_N0_SOUTH = 10_000_000.0


def _utm_zone(srid: int) -> tuple[int, bool] | None:
    """(zone, is_north) for EPSG:326xx/327xx, else None."""
    if 32601 <= srid <= 32660:
        return srid - 32600, True
    if 32701 <= srid <= 32760:
        return srid - 32700, False
    return None


# UTM forward/inverse delegate to the general _TmCrs below (r14
# review: the Krüger series lived here twice). UTM is the special case
# lat0 = 0 (so ξ₀ = 0.0 exactly — sin(0) kills every series term) with
# k0 = 0.9996, FE 500 km, FN 0/10 000 km; float addition commutes, so
# the delegated arithmetic is value-identical to the old inline loops.
_UTM_CACHE: dict[tuple[int, bool], "_TmCrs"] = {}


def _utm_crs(zone: int, north: bool) -> "_TmCrs":
    key = (zone, north)
    crs = _UTM_CACHE.get(key)
    if crs is None:
        crs = _TmCrs(
            R, 298.257223563, 0.0, 6.0 * zone - 183.0, _K0,
            _E0, 0.0 if north else _N0_SOUTH,
        )
        _UTM_CACHE[key] = crs
    return crs


def _utm_fwd(lon: float, lat: float, zone: int, north: bool) -> tuple[float, float]:
    return _utm_crs(zone, north).fwd_local(lon, lat)


def _utm_inv(e: float, n: float, zone: int, north: bool) -> tuple[float, float]:
    return _utm_crs(zone, north).inv_local(e, n)


# --- General transverse Mercator (national grids, r14) -------------------
#
# The same third-order Krüger series as UTM above, generalized to a
# per-CRS ellipsoid (a, 1/f), natural origin (φ₀, λ₀), scale k₀ and
# false origin — the national-grid TM class PostGIS users hit right
# after UTM (VERDICT r13 item 3's "national TM grids"):
#
# - EPSG:27700 OSGB36 / British National Grid — Airy 1830 ellipsoid,
#   origin (49°N, 2°W), k₀ = 0.9996012717, FE 400 km, FN −100 km. The
#   DATUM differs from WGS84 by ~120 m, so the dispatcher composes the
#   published 7-parameter Helmert (EPSG transformation 1314 "OSGB36 to
#   WGS 84 (6)": tx +446.448, ty −125.157, tz +542.060 m, rx +0.1502″,
#   ry +0.2470″, rz +0.8421″, s −20.4894 ppm, position-vector
#   convention; the WGS84→OSGB36 leg is the exact algebraic inverse,
#   not the negated-parameter approximation) through geocentric XYZ —
#   the same single-Helmert answer proj gives without the OSTN15
#   correction grid (~2-5 m vs grid truth; documented).
# - EPSG:2180 ETRS89 / Poland CS92 — GRS80, origin (0°, 19°E),
#   k₀ = 0.9993, FE 500 km, FN −5 300 km; ETRS89 keeps the usual
#   no-datum-shift stance.
#
# The natural-origin northing offset is the Krüger ξ at (φ₀, λ₀) itself
# (η ≡ 0 on the central meridian), so the origin anchors are EXACT:
# ξ−ξ₀ is a float subtraction of identical computations.


class _TmCrs:
    def __init__(self, a, inv_f, lat0, lon0, k0, e0, n0, helmert=None):
        f = 1.0 / inv_f
        n = f / (2.0 - f)
        self.a = a
        self.e2 = f * (2.0 - f)
        self.b = a * math.sqrt(1.0 - self.e2)
        self.acap = (a / (1.0 + n)) * (1.0 + n * n / 4.0 + n**4 / 64.0)
        self.alpha = (
            n / 2.0 - 2.0 * n**2 / 3.0 + 5.0 * n**3 / 16.0,
            13.0 * n**2 / 48.0 - 3.0 * n**3 / 5.0,
            61.0 * n**3 / 240.0,
        )
        self.beta = (
            n / 2.0 - 2.0 * n**2 / 3.0 + 37.0 * n**3 / 96.0,
            n**2 / 48.0 + n**3 / 15.0,
            17.0 * n**3 / 480.0,
        )
        self.delta = (
            2.0 * n - 2.0 * n**2 / 3.0 - 2.0 * n**3,
            7.0 * n**2 / 3.0 - 8.0 * n**3 / 5.0,
            56.0 * n**3 / 15.0,
        )
        self.two_sqn = 2.0 * math.sqrt(n) / (1.0 + n)
        self.lam0 = math.radians(lon0)
        self.k0, self.e0, self.n0 = k0, e0, n0
        self.helmert = helmert  # local-datum → WGS84 7-param, or None
        self.xi0 = self._xi_eta(math.radians(lat0), 0.0)[0]

    def _xi_eta(self, phi: float, lam: float) -> tuple[float, float]:
        s = math.sin(phi)
        if abs(s) >= 1.0:
            # the pole: atanh(±1) would raise, but the limit is clean
            # (t → ±∞ ⇒ ξ′ = ±π/2, η′ = 0 — code-review r14: one pole
            # row must not crash the whole Spark task; proj projects
            # the pole finitely)
            xi_p, eta_p = math.copysign(math.pi / 2.0, s), 0.0
        else:
            t = math.sinh(
                math.atanh(s) - self.two_sqn * math.atanh(self.two_sqn * s)
            )
            xi_p = math.atan2(t, math.cos(lam))
            eta_p = math.asinh(math.sin(lam) / math.hypot(t, math.cos(lam)))
        xi, eta = xi_p, eta_p
        for j, al in enumerate(self.alpha, start=1):
            xi += al * math.sin(2 * j * xi_p) * math.cosh(2 * j * eta_p)
            eta += al * math.cos(2 * j * xi_p) * math.sinh(2 * j * eta_p)
        return xi, eta

    def fwd_local(self, lon: float, lat: float) -> tuple[float, float]:
        """TM forward from LOCAL-datum geodetic degrees."""
        xi, eta = self._xi_eta(math.radians(lat), math.radians(lon) - self.lam0)
        return (
            self.e0 + self.k0 * self.acap * eta,
            self.n0 + self.k0 * self.acap * (xi - self.xi0),
        )

    def inv_local(self, e: float, n: float) -> tuple[float, float]:
        xi = (n - self.n0) / (self.k0 * self.acap) + self.xi0
        eta = (e - self.e0) / (self.k0 * self.acap)
        xi_p, eta_p = xi, eta
        for j, be in enumerate(self.beta, start=1):
            xi_p -= be * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
            eta_p -= be * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
        chi = math.asin(math.sin(xi_p) / math.cosh(eta_p))
        phi = chi
        for j, de in enumerate(self.delta, start=1):
            phi += de * math.sin(2 * j * chi)
        lam = math.atan2(math.sinh(eta_p), math.cos(xi_p))
        return math.degrees(lam + self.lam0), math.degrees(phi)

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        """From WGS84 geodetic degrees (datum shift first if any)."""
        if self.helmert is not None:
            lon, lat = _helmert_geodetic(
                lon, lat, _WGS84_AB, self._ab(), self.helmert, inverse=True
            )
        return self.fwd_local(lon, lat)

    def inv(self, e: float, n: float) -> tuple[float, float]:
        lon, lat = self.inv_local(e, n)
        if self.helmert is not None:
            lon, lat = _helmert_geodetic(
                lon, lat, self._ab(), _WGS84_AB, self.helmert, inverse=False
            )
        return lon, lat

    def _ab(self) -> tuple[float, float]:
        return self.a, self.b


_WGS84_AB = (R, R * math.sqrt(1.0 - _F * (2.0 - _F)))


def _geodetic_to_xyz(lon, lat, ab):
    a, b = ab
    e2 = 1.0 - (b * b) / (a * a)
    phi, lam = math.radians(lat), math.radians(lon)
    s, c = math.sin(phi), math.cos(phi)
    nu = a / math.sqrt(1.0 - e2 * s * s)
    return (nu * c * math.cos(lam), nu * c * math.sin(lam), nu * (1.0 - e2) * s)


def _xyz_to_geodetic(x, y, z, ab):
    a, b = ab
    e2 = 1.0 - (b * b) / (a * a)
    lam = math.atan2(y, x)
    p = math.hypot(x, y)
    phi = math.atan2(z, p * (1.0 - e2))
    for _ in range(8):  # converges to <1e-12 rad in ~4 rounds
        s = math.sin(phi)
        nu = a / math.sqrt(1.0 - e2 * s * s)
        phi = math.atan2(z + e2 * nu * s, p)
    return math.degrees(lam), math.degrees(phi)


def _helmert_geodetic(lon, lat, ab_from, ab_to, params, inverse):
    """7-parameter Helmert (position-vector sign convention) between
    geodetic datums, through geocentric XYZ. ``params`` transforms the
    LOCAL datum to WGS84; ``inverse=True`` applies the reverse."""
    tx, ty, tz, rx, ry, rz, s_ppm = params
    sc = 1.0 + s_ppm * 1e-6
    x, y, z = _geodetic_to_xyz(lon, lat, ab_from)
    if not inverse:
        x2 = tx + sc * (x - rz * y + ry * z)
        y2 = ty + sc * (rz * x + y - rx * z)
        z2 = tz + sc * (-ry * x + rx * y + z)
    else:
        # exact algebraic inverse of the small-angle forward above
        # (not the negated-parameter approximation): unscale, then
        # solve the 3x3 rotation
        u, v, w = (x - tx) / sc, (y - ty) / sc, (z - tz) / sc
        det = 1.0 + rx * rx + ry * ry + rz * rz
        x2 = (u * (1.0 + rx * rx) + v * (rz + rx * ry) + w * (rx * rz - ry)) / det
        y2 = (u * (rx * ry - rz) + v * (1.0 + ry * ry) + w * (rx + ry * rz)) / det
        z2 = (u * (ry + rx * rz) + v * (ry * rz - rx) + w * (1.0 + rz * rz)) / det
    return _xyz_to_geodetic(x2, y2, z2, ab_to)


_ARCSEC = math.pi / 180.0 / 3600.0

_TM: dict[int, _TmCrs] = {
    # OSGB36 / British National Grid (Airy 1830; EPSG transformation
    # 1314 "OSGB36 to WGS 84 (6)" Helmert, position-vector convention,
    # ~2-5 m vs the OSTN15 grid — the proj answer without grid files)
    27700: _TmCrs(
        6377563.396, 299.3249646, 49.0, -2.0, 0.9996012717,
        400_000.0, -100_000.0,
        helmert=(
            446.448, -125.157, 542.060,
            0.1502 * _ARCSEC, 0.2470 * _ARCSEC, 0.8421 * _ARCSEC,
            -20.4894,
        ),
    ),
    # ETRS89 / Poland CS92 (GRS80 = 298.257222101, no datum shift)
    2180: _TmCrs(
        6378137.0, 298.257222101, 0.0, 19.0, 0.9993, 500_000.0, -5_300_000.0
    ),
}


# --- Lambert conformal conic 2SP ↔ WGS84 (r12, VERDICT r11 item 4) ------
#
# The national-grid class PostGIS users hit right after UTM. Snyder,
# "Map Projections: A Working Manual" (USGS PP 1395, 1987), pp. 104-110
# — the published 2SP ellipsoidal closed forms:
#
#   m(φ) = cos φ / √(1 − e² sin² φ)
#   t(φ) = tan(π/4 − φ/2) / ((1 − e sin φ)/(1 + e sin φ))^(e/2)
#   n = (ln m₁ − ln m₂)/(ln t₁ − ln t₂);  F = m₁/(n t₁ⁿ);  ρ = a F tⁿ
#   E = E₀ + ρ sin(n(λ−λ₀));  N = N₀ + ρ_F − ρ cos(n(λ−λ₀))
#
# Inverse latitude by the standard fixed-point iteration on
# φ = π/2 − 2 atan(t'·((1−e sinφ)/(1+e sinφ))^(e/2)).
#
# Parameter table: the published EPSG definitions. ETRS89/RGF93 agree
# with WGS84 to centimeter level (no datum shift modeled — same stance
# PostGIS users take for web workflows; both CRSs use GRS80).
_GRS80_INV_F = 298.257222101


class _LccCrs:
    def __init__(self, phi1, phi2, phi0, lam0, e0, n0, inv_f, a=R):
        # default: GRS80/WGS84 share the semi-major axis; +proj= defs
        # may carry another ellipsoid (r16)
        f = 1.0 / inv_f
        self.e = math.sqrt(f * (2.0 - f))
        self.a = a
        p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
        self.lam0 = math.radians(lam0)
        self.e0, self.n0 = e0, n0
        m1, m2 = self._m(p1), self._m(p2)
        t1, t2, t0 = self._t(p1), self._t(p2), self._t(p0)
        self.n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
        self.f_cap = m1 / (self.n * t1**self.n)
        self.rho0 = a * self.f_cap * t0**self.n

    def _m(self, phi):
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - self.e * self.e * s * s)

    def _t(self, phi):
        s = self.e * math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - s) / (1.0 + s)
        ) ** (self.e / 2.0)

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        rho = self.a * self.f_cap * self._t(math.radians(lat)) ** self.n
        th = self.n * (math.radians(lon) - self.lam0)
        return self.e0 + rho * math.sin(th), self.n0 + self.rho0 - rho * math.cos(th)

    def inv(self, e: float, n: float) -> tuple[float, float]:
        de, dn = e - self.e0, self.rho0 - (n - self.n0)
        rho = math.copysign(math.hypot(de, dn), self.n)
        tp = (rho / (self.a * self.f_cap)) ** (1.0 / self.n)
        th = math.atan2(de, dn)
        lam = th / self.n + self.lam0
        phi = math.pi / 2.0 - 2.0 * math.atan(tp)
        for _ in range(15):
            s = self.e * math.sin(phi)
            nxt = math.pi / 2.0 - 2.0 * math.atan(
                tp * ((1.0 - s) / (1.0 + s)) ** (self.e / 2.0)
            )
            if abs(nxt - phi) < 1e-14:
                phi = nxt
                break
            phi = nxt
        return math.degrees(lam), math.degrees(phi)


# --- Lambert azimuthal equal-area ↔ WGS84 (r12) --------------------------
#
# EPSG:3035 (ETRS89-extended / LAEA Europe) — the EU statistical grid.
# Snyder, USGS PP 1395, pp. 187-190: the ellipsoidal oblique-aspect
# closed forms over the authalic sphere:
#
#   q(φ) = (1−e²)[sin φ/(1−e² sin² φ) − (1/2e)·ln((1−e sin φ)/(1+e sin φ))]
#   β = asin(q/q_p);  R_q = a √(q_p/2);  D = a m(φ₀)/(R_q cos β₀)
#   B = R_q √(2/(1 + sin β₀ sin β + cos β₀ cos β cos(λ−λ₀)))
#   E = E₀ + B D cos β sin(λ−λ₀)
#   N = N₀ + (B/D)(cos β₀ sin β − sin β₀ cos β cos(λ−λ₀))
#
# Inverse via ρ, c_e = 2 asin(ρ/2R_q), then the published
# authalic-to-geodetic latitude series.


class _LaeaCrs:
    def __init__(self, phi0, lam0, e0, n0, inv_f, a=R):
        f = 1.0 / inv_f
        self.a = a
        self.e = math.sqrt(f * (2.0 - f))
        self.e2 = self.e * self.e
        self.lam0 = math.radians(lam0)
        self.e0, self.n0 = e0, n0
        self.qp = self._q(math.pi / 2.0)
        self.rq = a * math.sqrt(self.qp / 2.0)
        p0 = math.radians(phi0)
        self.sb0 = math.sin(self._beta(p0))
        self.cb0 = math.cos(self._beta(p0))
        s0 = math.sin(p0)
        m0 = math.cos(p0) / math.sqrt(1.0 - self.e2 * s0 * s0)
        self.d = a * m0 / (self.rq * self.cb0)

    def _q(self, phi):
        s = math.sin(phi)
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * self.e))
            * math.log((1.0 - self.e * s) / (1.0 + self.e * s))
        )

    def _beta(self, phi):
        return math.asin(max(-1.0, min(1.0, self._q(phi) / self.qp)))

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        b = self._beta(math.radians(lat))
        dl = math.radians(lon) - self.lam0
        sb, cb = math.sin(b), math.cos(b)
        bb = self.rq * math.sqrt(
            2.0 / (1.0 + self.sb0 * sb + self.cb0 * cb * math.cos(dl))
        )
        e = self.e0 + bb * self.d * cb * math.sin(dl)
        n = self.n0 + (bb / self.d) * (
            self.cb0 * sb - self.sb0 * cb * math.cos(dl)
        )
        return e, n

    def inv(self, e: float, n: float) -> tuple[float, float]:
        de = (e - self.e0) / self.d
        dn = (n - self.n0) * self.d
        rho = math.hypot(de, dn)
        if rho == 0.0:
            bp = math.asin(self.sb0)
            lam = self.lam0
        else:
            ce = 2.0 * math.asin(max(-1.0, min(1.0, rho / (2.0 * self.rq))))
            sc, cc = math.sin(ce), math.cos(ce)
            bp = math.asin(
                max(-1.0, min(1.0, cc * self.sb0 + dn * sc * self.cb0 / rho))
            )
            lam = self.lam0 + math.atan2(
                de * sc, rho * self.cb0 * cc - dn * self.sb0 * sc
            )
        e2 = self.e2
        phi = (
            bp
            + (e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0)
            * math.sin(2.0 * bp)
            + (23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0)
            * math.sin(4.0 * bp)
            + (761.0 * e2**3 / 45360.0) * math.sin(6.0 * bp)
        )
        return math.degrees(lam), math.degrees(phi)


class _MercCrs:
    """Ellipsoidal Mercator, EPSG variants A (+k scale) and B
    (+lat_ts standard parallel): Snyder PP 1395 pp. 41-44 —
    N = a·k₀·(atanh(sin φ) − e·atanh(e·sin φ)), E = a·k₀·(λ−λ₀);
    variant B's k₀ = cos φ_ts / √(1 − e² sin² φ_ts). The inverse runs
    the conformal-to-geodetic series (Snyder 3-5, the polar-stereo
    coefficients). EPSG:3395 (WGS84 / World Mercator) is the named
    instance in the SRID table (r16)."""

    def __init__(self, lam0, e0, n0, inv_f, a=R, k0=1.0, lat_ts=None):
        f = 1.0 / inv_f
        self.a = a
        self.e = math.sqrt(f * (2.0 - f))
        self.lam0 = math.radians(lam0)
        self.e0, self.n0 = e0, n0
        if lat_ts is not None:
            s = math.sin(math.radians(lat_ts))
            self.k0 = math.cos(math.radians(lat_ts)) / math.sqrt(
                1.0 - self.e * self.e * s * s
            )
        else:
            self.k0 = k0
        e2 = self.e * self.e
        self._c2 = e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0
        self._c4 = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
        self._c6 = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
        self._c8 = 4279.0 * e2**4 / 161280.0

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        if abs(lat) >= 90.0:
            # the poles are at ±∞ on any Mercator — emit the infinity
            # honestly instead of clamping to a plausible finite
            # northing (ADVICE r16); st_transform's output-finiteness
            # gate maps the row to NULL (the loud-NULL convention)
            return (
                self.e0 + self.a * self.k0 * (math.radians(lon) - self.lam0),
                math.copysign(math.inf, lat),
            )
        s = math.sin(math.radians(lat))
        n = self.a * self.k0 * (
            math.atanh(s) - self.e * math.atanh(self.e * s)
        )
        return (
            self.e0 + self.a * self.k0 * (math.radians(lon) - self.lam0),
            self.n0 + n,
        )

    def inv(self, e: float, n: float) -> tuple[float, float]:
        lam = (e - self.e0) / (self.a * self.k0) + self.lam0
        t = math.exp(-(n - self.n0) / (self.a * self.k0))
        chi = math.pi / 2.0 - 2.0 * math.atan(t)
        phi = (
            chi
            + self._c2 * math.sin(2.0 * chi)
            + self._c4 * math.sin(4.0 * chi)
            + self._c6 * math.sin(6.0 * chi)
            + self._c8 * math.sin(8.0 * chi)
        )
        return math.degrees(lam), math.degrees(phi)


class _LaeaPolarCrs:
    """Polar-aspect LAEA (Snyder, USGS PP 1395 pp. 188-190, eqs.
    24-23/24-25 and the 24-31/24-32 inverses): ρ = a·√(q_p ∓ q(φ)),
    E = FE + ρ sin(λ−λ₀), N = FN ∓ ρ cos(λ−λ₀) (upper signs north).
    The pole itself is EXACT (q(±90°) = ±q_p → ρ = 0 → the false
    origin). Used by the '+proj=laea +lat_0=±90' parameter path —
    the EPSG:3574/3575/3576 Arctic/Antarctic grids (r16)."""

    def __init__(self, north: bool, lam0, e0, n0, inv_f, a=R):
        f = 1.0 / inv_f
        self.a = a
        self.e = math.sqrt(f * (2.0 - f))
        self.e2 = self.e * self.e
        self.north = north
        self.lam0 = math.radians(lam0)
        self.e0, self.n0 = e0, n0
        self.qp = self._q(math.pi / 2.0)

    def _q(self, phi):
        s = math.sin(phi)
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * self.e))
            * math.log((1.0 - self.e * s) / (1.0 + self.e * s))
        )

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        q = self._q(math.radians(lat))
        rad = self.qp - q if self.north else self.qp + q
        rho = self.a * math.sqrt(max(0.0, rad))
        dl = math.radians(lon) - self.lam0
        e = self.e0 + rho * math.sin(dl)
        if self.north:
            return e, self.n0 - rho * math.cos(dl)
        return e, self.n0 + rho * math.cos(dl)

    def inv(self, e: float, n: float) -> tuple[float, float]:
        de, dn = e - self.e0, n - self.n0
        rho = math.hypot(de, dn)
        q = self.qp - (rho / self.a) ** 2
        if not self.north:
            q = -q
        if rho == 0.0:
            lam = self.lam0  # the pole: longitude is the CRS's own λ₀
        elif self.north:
            lam = self.lam0 + math.atan2(de, -dn)
        else:
            lam = self.lam0 + math.atan2(de, dn)
        bp = math.asin(max(-1.0, min(1.0, q / self.qp)))
        e2 = self.e2
        phi = (
            bp
            + (e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0)
            * math.sin(2.0 * bp)
            + (23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0)
            * math.sin(4.0 * bp)
            + (761.0 * e2**3 / 45360.0) * math.sin(6.0 * bp)
        )
        lon = math.degrees(lam)
        if lon <= -180.0:
            lon += 360.0
        elif lon > 180.0:
            lon -= 360.0
        return lon, math.degrees(phi)


# --- Albers equal-area conic 2SP ↔ WGS84 (r13) ---------------------------
#
# The continental statistical grids (US NAD83/Conus Albers EPSG:5070,
# GDA94/Australian Albers EPSG:3577). Snyder, USGS PP 1395, pp. 98-103,
# ellipsoidal closed forms sharing q(φ) with LAEA above:
#
#   n = (m₁² − m₂²)/(q₂ − q₁);  C = m₁² + n q₁
#   ρ(φ) = a √(C − n q(φ)) / n;  θ = n (λ − λ₀)
#   E = E₀ + ρ sin θ;  N = N₀ + ρ₀ − ρ cos θ
#
# Inverse: ρ, θ from (E, N) (axes flip when n < 0, Snyder eq. 14-11),
# q = (C − (ρ n / a)²)/n, then the same authalic-to-geodetic latitude
# series LAEA uses. NAD83/GDA94 agree with WGS84 at the same
# centimeter-level no-datum-shift stance as the entries above (all
# GRS80).


class _AeaCrs:
    def __init__(self, phi1, phi2, phi0, lam0, e0, n0, inv_f, a=R):
        f = 1.0 / inv_f
        self.a = a
        self.e = math.sqrt(f * (2.0 - f))
        self.e2 = self.e * self.e
        self.lam0 = math.radians(lam0)
        self.e0, self.n0 = e0, n0
        self.qp = self._q(math.pi / 2.0)
        p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
        m1, m2 = self._m(p1), self._m(p2)
        q1, q2, q0 = self._q(p1), self._q(p2), self._q(p0)
        self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        self.c = m1 * m1 + self.n * q1
        self.rho0 = a * math.sqrt(self.c - self.n * q0) / self.n

    def _m(self, phi):
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - self.e2 * s * s)

    def _q(self, phi):
        s = math.sin(phi)
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * self.e))
            * math.log((1.0 - self.e * s) / (1.0 + self.e * s))
        )

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        rad = self.c - self.n * self._q(math.radians(lat))
        rho = self.a * math.sqrt(max(0.0, rad)) / self.n
        th = self.n * (math.radians(lon) - self.lam0)
        return self.e0 + rho * math.sin(th), self.n0 + self.rho0 - rho * math.cos(th)

    def inv(self, e: float, n: float) -> tuple[float, float]:
        de, dn = e - self.e0, self.rho0 - (n - self.n0)
        rho = math.hypot(de, dn)
        if self.n < 0.0:  # Snyder 14-11: flip axes for a south-aspect cone
            de, dn, rho = -de, -dn, -rho
        th = math.atan2(de, dn)
        lam = th / self.n + self.lam0
        q = (self.c - (rho * self.n / self.a) ** 2) / self.n
        if abs(q) >= self.qp:
            bp = math.copysign(math.pi / 2.0, q)
        else:
            bp = math.asin(q / self.qp)
        e2 = self.e2
        phi = (
            bp
            + (e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0)
            * math.sin(2.0 * bp)
            + (23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0)
            * math.sin(4.0 * bp)
            + (761.0 * e2**3 / 45360.0) * math.sin(6.0 * bp)
        )
        return math.degrees(lam), math.degrees(phi)


# Polar stereographic, EPSG "variant B" (standard parallel + central
# meridian) — the polar/ice-dataset class (VERDICT r13 item 6). Snyder,
# USGS PP 1395, pp. 160-162, ellipsoidal forms (EPSG Guidance Note 7-2
# uses the same):
#
#   t(φ)  = tan(π/4 − φ/2) · [(1 + e sinφ)/(1 − e sinφ)]^{e/2}   (north)
#   t(φ)  = tan(π/4 + φ/2) / [(1 + e sinφ)/(1 − e sinφ)]^{e/2}   (south)
#   m(φ)  = cosφ / √(1 − e² sin²φ)
#   ρ     = a · m(φ_F) · t(φ) / t(φ_F)
#   E = FE + ρ sin(λ − λ₀);  N = FN − ρ cos(λ − λ₀)   (north)
#                            N = FN + ρ cos(λ − λ₀)   (south)
#
# Inverse: ρ′ = hypot(E−FE, N−FN), t′ = ρ′ t_F/(a m_F), conformal
# latitude χ = ±(π/2 − 2 atan t′), then the standard conformal-to-
# geodetic series (Snyder 3-5). The pole itself is EXACT: t(±90°) = 0
# → ρ = 0 → (FE, FN) with no transcendental residue.


class _PsCrs:
    def __init__(self, phi_f, lam0, e0, n0, inv_f, a=R, k0=None):
        """Variant B (standard parallel ``phi_f``) by default; passing
        ``k0`` selects EPSG variant A (scale factor at the pole, EPSG
        GN 7-2 §3.2.4: ρ = 2 a k₀ t / √((1+e)^{1+e}(1−e)^{1−e})) —
        ``phi_f`` then only carries the hemisphere sign (±90)."""
        f = 1.0 / inv_f
        self.a = a
        self.e = math.sqrt(f * (2.0 - f))
        self.north = phi_f > 0.0
        self.lam0 = math.radians(lam0)
        self.e0, self.n0 = e0, n0
        if k0 is not None:
            e = self.e
            self.mf = 2.0 * k0 / math.sqrt(
                (1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e)
            )
            self.tf = 1.0
        else:
            pf = math.radians(phi_f)
            s = math.sin(pf)
            self.mf = math.cos(pf) / math.sqrt(1.0 - self.e * self.e * s * s)
            self.tf = self._t(pf)
        e2 = self.e * self.e
        # conformal → geodetic series coefficients (Snyder 3-5)
        self._c2 = e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0
        self._c4 = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
        self._c6 = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
        self._c8 = 4279.0 * e2**4 / 161280.0

    def _t(self, phi):
        s = math.sin(phi)
        es = ((1.0 + self.e * s) / (1.0 - self.e * s)) ** (self.e / 2.0)
        if self.north:
            return math.tan(math.pi / 4.0 - phi / 2.0) * es
        return math.tan(math.pi / 4.0 + phi / 2.0) / es

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        rho = self.a * self.mf * self._t(math.radians(lat)) / self.tf
        dl = math.radians(lon) - self.lam0
        e = self.e0 + rho * math.sin(dl)
        if self.north:
            return e, self.n0 - rho * math.cos(dl)
        return e, self.n0 + rho * math.cos(dl)

    def inv(self, e: float, n: float) -> tuple[float, float]:
        de, dn = e - self.e0, n - self.n0
        rho = math.hypot(de, dn)
        t = rho * self.tf / (self.a * self.mf)
        chi = math.pi / 2.0 - 2.0 * math.atan(t)
        if not self.north:
            chi = -chi
        phi = (
            chi
            + self._c2 * math.sin(2.0 * chi)
            + self._c4 * math.sin(4.0 * chi)
            + self._c6 * math.sin(6.0 * chi)
            + self._c8 * math.sin(8.0 * chi)
        )
        if rho == 0.0:
            lam = self.lam0  # the pole: longitude is the CRS's own λ₀
        elif self.north:
            lam = self.lam0 + math.atan2(de, -dn)
        else:
            lam = self.lam0 + math.atan2(de, dn)
        # λ₀ + atan2 ranges over (λ₀ − π, λ₀ + π]: wrap into (−180, 180]
        # like proj (a 136.5°E point through EPSG:3413 otherwise comes
        # back as −223.5°)
        lon = math.degrees(lam)
        if lon <= -180.0:
            lon += 360.0
        elif lon > 180.0:
            lon -= 360.0
        return lon, math.degrees(phi)


_WGS84_INV_F = 298.257223563


_MERC: dict[int, _MercCrs] = {
    # WGS84 / World Mercator: natural origin (0, 0), k0 = 1, FE/FN 0
    3395: _MercCrs(0.0, 0.0, 0.0, _WGS84_INV_F),
}


class _SwissCrs:
    """CH1903 / LV03 (EPSG:21781) and CH1903+ / LV95 (EPSG:2056) —
    the swisstopo rigorous 'double projection' ("Formulas and
    constants for the calculation of the Swiss conformal cylindrical
    projection", swisstopo 2016): Bessel 1841 → conformal sphere of
    radius R = √(M₀N₀) at the Bern fundamental point
    (46°57′08.66″ N, 7°26′22.50″ E), then an oblique spherical
    Mercator about the pseudo-equator through Bern. The fundamental
    point maps EXACTLY to the false origin; the WGS84 leg is the
    published CH1903 3-parameter shift (674.374, 15.056, 405.346 m),
    validated in tests against swisstopo's own WGS84 test point
    (8°43′49.79″ E, 46°02′38.87″ N → 700 000 / 100 000, matched to
    ~4 cm — the single-Helmert-vs-grid residue class)."""

    def __init__(
        self, lat0, lon0, k0, e0, n0,
        inv_f=299.1528128, a=6377397.155, helmert=None,
    ):
        """Generalized: the proj '+proj=somerc' parameterization
        (natural origin φ₀/λ₀, scale k₀ multiplying the conformal
        sphere radius, false origin, any ellipsoid, optional datum
        leg). The Swiss table entries below instantiate it with the
        Bern constants + the CH1903 shift."""
        f = 1.0 / inv_f
        e2 = f * (2.0 - f)
        self.e = math.sqrt(e2)
        self.e0, self.n0 = e0, n0
        phi0 = math.radians(lat0)
        self.lam0 = math.radians(lon0)
        sp = math.sin(phi0)
        m0 = a * (1.0 - e2) / (1.0 - e2 * sp * sp) ** 1.5
        n0r = a / math.sqrt(1.0 - e2 * sp * sp)
        self.r = k0 * math.sqrt(m0 * n0r)
        self.alpha = math.sqrt(1.0 + e2 / (1.0 - e2) * math.cos(phi0) ** 4)
        self.b0 = math.asin(sp / self.alpha)
        self.k = (
            math.log(math.tan(math.pi / 4.0 + self.b0 / 2.0))
            - self.alpha * math.log(math.tan(math.pi / 4.0 + phi0 / 2.0))
            + self.alpha * self.e / 2.0
            * math.log((1.0 + self.e * sp) / (1.0 - self.e * sp))
        )
        self.ab = (a, a * math.sqrt(1.0 - e2))
        self.helmert = helmert

    def _fwd_local(self, lon: float, lat: float) -> tuple[float, float]:
        phi, lam = math.radians(lat), math.radians(lon)
        s = (
            self.alpha * math.log(math.tan(math.pi / 4.0 + phi / 2.0))
            - self.alpha * self.e / 2.0
            * math.log(
                (1.0 + self.e * math.sin(phi)) / (1.0 - self.e * math.sin(phi))
            )
            + self.k
        )
        b = 2.0 * (math.atan(math.exp(s)) - math.pi / 4.0)
        l = self.alpha * (lam - self.lam0)
        lbar = math.atan2(
            math.sin(l),
            math.sin(self.b0) * math.tan(b) + math.cos(self.b0) * math.cos(l),
        )
        bbar = math.asin(
            math.cos(self.b0) * math.sin(b)
            - math.sin(self.b0) * math.cos(b) * math.cos(l)
        )
        y = self.e0 + self.r * lbar
        x = self.n0 + self.r / 2.0 * math.log(
            (1.0 + math.sin(bbar)) / (1.0 - math.sin(bbar))
        )
        return y, x

    def _inv_local(self, y: float, x: float) -> tuple[float, float]:
        lbar = (y - self.e0) / self.r
        bbar = 2.0 * (
            math.atan(math.exp((x - self.n0) / self.r)) - math.pi / 4.0
        )
        b = math.asin(
            math.cos(self.b0) * math.sin(bbar)
            + math.sin(self.b0) * math.cos(bbar) * math.cos(lbar)
        )
        l = math.atan2(
            math.sin(lbar) * math.cos(bbar),
            math.cos(self.b0) * math.cos(bbar) * math.cos(lbar)
            - math.sin(self.b0) * math.sin(bbar),
        )
        lam = self.lam0 + l / self.alpha
        # invert the conformal-latitude map by fixed point (linear
        # rate ~e²; 10 rounds reach 1e-13 rad)
        base = (math.log(math.tan(math.pi / 4.0 + b / 2.0)) - self.k) / self.alpha
        phi = b
        for _ in range(12):
            s = math.sin(phi)
            phi = 2.0 * (
                math.atan(
                    math.exp(
                        base
                        + self.e / 2.0
                        * math.log((1.0 + self.e * s) / (1.0 - self.e * s))
                    )
                )
                - math.pi / 4.0
            )
        return math.degrees(lam), math.degrees(phi)

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        if self.helmert is not None:
            lon, lat = _helmert_geodetic(
                lon, lat, _WGS84_AB, self.ab, self.helmert, inverse=True
            )
        return self._fwd_local(lon, lat)

    def inv(self, y: float, x: float) -> tuple[float, float]:
        lon, lat = self._inv_local(y, x)
        if self.helmert is None:
            return lon, lat
        return _helmert_geodetic(
            lon, lat, self.ab, _WGS84_AB, self.helmert, inverse=False
        )


class _HomCrs:
    """Hotine Oblique Mercator (EPSG 9812 variant A / 9815 variant B;
    '+proj=omerc'): EPSG Guidance Note 7-2 closed forms — the aposphere
    construction (B, A, t₀, D, F, H, G, γ₀, λ₀) then the (u, v) skew
    coordinates rotated by the rectified grid angle γc. Covers the
    national grids the somerc specialization (azimuth = 90°) cannot:
    Borneo RSO (Timbalai 1948 — the GN 7-2 worked example pinned in
    tests: 5°23'14.1129"N 115°48'19.8196"E → 679245.73 / 596562.78 m,
    variant B), Alaska zone 1, Malaysia BRSO. Variant B subtracts the
    center-point offset u_c (proj default); +no_uoff selects variant A.
    The inverse runs the conformal-to-geodetic series (the _MercCrs
    coefficients). Degenerate azimuths (0°, ±90°, 180° — where the
    aposphere construction loses its meaning or somerc applies) refuse
    at parse time (r17)."""

    def __init__(self, lat0, lonc, alpha, gamma, k0, e0, n0, inv_f, a=R,
                 no_uoff=False):
        f = 1.0 / inv_f
        e2 = f * (2.0 - f)
        self.e = e = math.sqrt(e2)
        self.e0, self.n0 = e0, n0
        phi0 = math.radians(lat0)
        lamc = math.radians(lonc)
        alphac = math.radians(alpha)
        self.gammac = math.radians(gamma)
        sp = math.sin(phi0)
        cp = math.cos(phi0)
        self.B = B = math.sqrt(1.0 + e2 * cp**4 / (1.0 - e2))
        self.A = A = a * B * k0 * math.sqrt(1.0 - e2) / (1.0 - e2 * sp * sp)
        t0 = math.tan(math.pi / 4.0 - phi0 / 2.0) / (
            (1.0 - e * sp) / (1.0 + e * sp)
        ) ** (e / 2.0)
        D = B * math.sqrt(1.0 - e2) / (cp * math.sqrt(1.0 - e2 * sp * sp))
        D2 = max(D * D, 1.0)
        F = D + math.copysign(math.sqrt(D2 - 1.0), phi0)
        self.H = F * t0**B
        G = (F - 1.0 / F) / 2.0
        self.gamma0 = math.asin(math.sin(alphac) / D)
        self.lam0 = lamc - math.asin(G * math.tan(self.gamma0)) / B
        # variant B's center-point offset along the u axis
        self.uc = 0.0
        if not no_uoff:
            self.uc = math.copysign(
                (A / B) * math.atan2(math.sqrt(D2 - 1.0), math.cos(alphac)),
                phi0,
            )
        # conformal-to-geodetic series (Snyder 3-5)
        self._c2 = e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0
        self._c4 = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
        self._c6 = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
        self._c8 = 4279.0 * e2**4 / 161280.0

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        if abs(lat) >= 90.0:
            return (math.nan, math.nan)  # poles: outside the aposphere map
        e, B, A = self.e, self.B, self.A
        s = math.sin(math.radians(lat))
        t = math.tan(math.pi / 4.0 - math.radians(lat) / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)
        Q = self.H / t**B
        S = (Q - 1.0 / Q) / 2.0
        T = (Q + 1.0 / Q) / 2.0
        dl = B * (math.radians(lon) - self.lam0)
        V = math.sin(dl)
        U = (-V * math.cos(self.gamma0) + S * math.sin(self.gamma0)) / T
        v = A * math.log((1.0 - U) / (1.0 + U)) / (2.0 * B)
        u = (
            A
            * math.atan2(
                S * math.cos(self.gamma0) + V * math.sin(self.gamma0),
                math.cos(dl),
            )
            / B
            - self.uc
        )
        cg, sg = math.cos(self.gammac), math.sin(self.gammac)
        return (self.e0 + v * cg + u * sg, self.n0 + u * cg - v * sg)

    def inv(self, E: float, N: float) -> tuple[float, float]:
        e, B, A = self.e, self.B, self.A
        cg, sg = math.cos(self.gammac), math.sin(self.gammac)
        dE, dN = E - self.e0, N - self.n0
        vp = dE * cg - dN * sg
        up = dN * cg + dE * sg + self.uc
        Qp = math.exp(-B * vp / A)
        Sp = (Qp - 1.0 / Qp) / 2.0
        Tp = (Qp + 1.0 / Qp) / 2.0
        Vp = math.sin(B * up / A)
        Up = (Vp * math.cos(self.gamma0) + Sp * math.sin(self.gamma0)) / Tp
        tp = (self.H / math.sqrt((1.0 + Up) / (1.0 - Up))) ** (1.0 / B)
        chi = math.pi / 2.0 - 2.0 * math.atan(tp)
        phi = (
            chi
            + self._c2 * math.sin(2.0 * chi)
            + self._c4 * math.sin(4.0 * chi)
            + self._c6 * math.sin(6.0 * chi)
            + self._c8 * math.sin(8.0 * chi)
        )
        lam = self.lam0 - math.atan2(
            Sp * math.cos(self.gamma0) - Vp * math.sin(self.gamma0),
            math.cos(B * up / A),
        ) / B
        return math.degrees(lam), math.degrees(phi)


class _MeridianArc:
    """Meridian arc length M(φ) and its inverse via the rectifying
    latitude (Snyder PP 1395 eqs. 3-21 / 3-26 — the published n-series;
    the same coefficient family the Krüger TM kernel uses). Shared by
    the Equidistant Cylindrical and Cassini-Soldner kernels (r17)."""

    def __init__(self, a, inv_f):
        f = 1.0 / inv_f
        n = f / (2.0 - f)
        self.acap = (a / (1.0 + n)) * (1.0 + n * n / 4.0 + n**4 / 64.0)
        # φ → μ (3-21, rewritten in n)
        self._to_mu = (
            -(3.0 * n / 2.0 - 9.0 * n**3 / 16.0),
            15.0 * n**2 / 16.0 - 15.0 * n**4 / 32.0,
            -(35.0 * n**3 / 48.0),
            315.0 * n**4 / 512.0,
        )
        # μ → φ (3-26)
        self._to_phi = (
            3.0 * n / 2.0 - 27.0 * n**3 / 32.0,
            21.0 * n**2 / 16.0 - 55.0 * n**4 / 32.0,
            151.0 * n**3 / 96.0,
            1097.0 * n**4 / 512.0,
        )

    def m(self, phi: float) -> float:
        mu = phi
        for j, c in enumerate(self._to_mu, start=1):
            mu += c * math.sin(2.0 * j * phi)
        return self.acap * mu

    def phi(self, m: float) -> float:
        mu = m / self.acap
        p = mu
        for j, c in enumerate(self._to_phi, start=1):
            p += c * math.sin(2.0 * j * mu)
        return p


class _EqcCrs:
    """Equidistant Cylindrical (EPSG 1028; '+proj=eqc') — WGS84 World
    Equidistant Cylindrical EPSG:4087 and the Plate Carrée family:
    E = FE + ν₁ cos φ₁ (λ − λ₀), N = FN + M(φ) with φ₁ = +lat_ts
    (default 0). Exact closed forms either way (the inverse runs the
    rectifying series). r17."""

    def __init__(self, lat_ts, lon0, e0, n0, inv_f, a=R):
        f = 1.0 / inv_f
        e2 = f * (2.0 - f)
        phi1 = math.radians(lat_ts)
        s1 = math.sin(phi1)
        self.nu1cos = a * math.cos(phi1) / math.sqrt(1.0 - e2 * s1 * s1)
        self.lam0 = math.radians(lon0)
        self.e0, self.n0 = e0, n0
        self.arc = _MeridianArc(a, inv_f)

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        return (
            self.e0 + self.nu1cos * (math.radians(lon) - self.lam0),
            self.n0 + self.arc.m(math.radians(lat)),
        )

    def inv(self, e: float, n: float) -> tuple[float, float]:
        return (
            math.degrees(self.lam0 + (e - self.e0) / self.nu1cos),
            math.degrees(self.arc.phi(n - self.n0)),
        )


class _CassCrs:
    """Cassini-Soldner (EPSG 9806; '+proj=cass') — the Trinidad 1903
    and old cadastral grids. EPSG GN 7-2 closed forms: A = Δλ cos φ,
    T = tan²φ, C = e²cos²φ/(1−e²), ν = a/√(1−e²sin²φ);
    E = FE + ν[A − T A³/6 − (8 − T + 8C) T A⁵/120],
    N = FN + M − M₀ + ν tan φ [A²/2 + (5 − T + 6C) A⁴/24].
    The inverse recovers φ₁ from the rectifying series then applies
    the GN 7-2 D-polynomials. Accurate within the method's own design
    band (Δλ a few degrees — Cassini is a cadastral, not a zone-wide,
    projection). r17."""

    def __init__(self, lat0, lon0, e0, n0, inv_f, a=R):
        f = 1.0 / inv_f
        self.e2 = f * (2.0 - f)
        self.a = a
        self.lam0 = math.radians(lon0)
        self.e0, self.n0 = e0, n0
        self.arc = _MeridianArc(a, inv_f)
        self.m0 = self.arc.m(math.radians(lat0))

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        e2, a = self.e2, self.a
        phi = math.radians(lat)
        s, c = math.sin(phi), math.cos(phi)
        A = (math.radians(lon) - self.lam0) * c
        T = math.tan(phi) ** 2
        C = e2 * c * c / (1.0 - e2)
        nu = a / math.sqrt(1.0 - e2 * s * s)
        E = self.e0 + nu * (
            A - T * A**3 / 6.0 - (8.0 - T + 8.0 * C) * T * A**5 / 120.0
        )
        N = self.n0 + self.arc.m(phi) - self.m0 + nu * math.tan(phi) * (
            A * A / 2.0 + (5.0 - T + 6.0 * C) * A**4 / 24.0
        )
        return E, N

    def inv(self, E: float, N: float) -> tuple[float, float]:
        e2, a = self.e2, self.a
        phi1 = self.arc.phi(self.m0 + (N - self.n0))
        s1, c1 = math.sin(phi1), math.cos(phi1)
        T1 = math.tan(phi1) ** 2
        nu1 = a / math.sqrt(1.0 - e2 * s1 * s1)
        rho1 = a * (1.0 - e2) / (1.0 - e2 * s1 * s1) ** 1.5
        D = (E - self.e0) / nu1
        phi = phi1 - (nu1 * math.tan(phi1) / rho1) * (
            D * D / 2.0 - (1.0 + 3.0 * T1) * D**4 / 24.0
        )
        lam = self.lam0 + (
            D - T1 * D**3 / 3.0 + (1.0 + 3.0 * T1) * T1 * D**5 / 15.0
        ) / c1
        return math.degrees(lam), math.degrees(phi)


class _KrovakCrs:
    """Krovak oblique conformal conic (EPSG 9819; '+proj=krovak') —
    the Czech/Slovak S-JTSK grid. EPSG Guidance Note 7-2 closed forms:
    Bessel 1841 → conformal sphere (B, γ₀, t₀ at the projection
    center), rotate to the oblique pole (azimuth αc), then a conformal
    conic at the pseudo standard parallel φp = 78°30' (fixed in the
    method, like proj). Natural output is SOUTHING/WESTING; the
    default axes here are Krovak East North (EPSG:5514: E = −westing,
    N = −southing — negative on Czech territory); '+czech' selects
    the positive southing/westing form (EPSG:5513 axis order aside).
    The GN 7-2 worked example (50°12'32.4416"N 16°50'59.1790"E →
    southing 1 050 538.64, westing 568 991.00) is pinned in tests.
    The inverse iterates the conformal latitude (quadratic, 12
    rounds)."""

    PHI_P = math.radians(78.5)  # pseudo standard parallel (method-fixed)

    def __init__(self, lat0, lon0, alpha, k0, e0, n0, inv_f, a=R,
                 czech=False):
        f = 1.0 / inv_f
        e2 = f * (2.0 - f)
        self.e = e = math.sqrt(e2)
        self.e0, self.n0 = e0, n0
        self.czech = czech
        phic = math.radians(lat0)
        self.lam0 = math.radians(lon0)
        self.alphac = math.radians(alpha)
        sp = math.sin(phic)
        self.A = a * math.sqrt(1.0 - e2) / (1.0 - e2 * sp * sp)
        self.B = B = math.sqrt(1.0 + e2 * math.cos(phic) ** 4 / (1.0 - e2))
        self.gamma0 = math.asin(sp / B)
        self.t0 = (
            math.tan(math.pi / 4.0 + self.gamma0 / 2.0)
            * ((1.0 + e * sp) / (1.0 - e * sp)) ** (e * B / 2.0)
            / math.tan(math.pi / 4.0 + phic / 2.0) ** B
        )
        self.n = math.sin(self.PHI_P)
        self.r0 = k0 * self.A / math.tan(self.PHI_P)
        self._tppc = math.tan(math.pi / 4.0 + self.PHI_P / 2.0)

    def _fwd_sw(self, lon: float, lat: float) -> tuple[float, float]:
        """(southing, westing) of a geodetic point on the def's datum."""
        e, B = self.e, self.B
        phi, lam = math.radians(lat), math.radians(lon)
        s = math.sin(phi)
        U = 2.0 * (
            math.atan(
                self.t0
                * math.tan(phi / 2.0 + math.pi / 4.0) ** B
                / ((1.0 + e * s) / (1.0 - e * s)) ** (e * B / 2.0)
            )
            - math.pi / 4.0
        )
        V = B * (self.lam0 - lam)
        T = math.asin(
            math.cos(self.alphac) * math.sin(U)
            + math.sin(self.alphac) * math.cos(U) * math.cos(V)
        )
        D = math.asin(math.cos(U) * math.sin(V) / math.cos(T))
        theta = self.n * D
        r = (
            self.r0
            * self._tppc**self.n
            / math.tan(T / 2.0 + math.pi / 4.0) ** self.n
        )
        return r * math.cos(theta), r * math.sin(theta)

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        X, Y = self._fwd_sw(lon, lat)
        if self.czech:
            return self.e0 + X, self.n0 + Y  # southing, westing
        return self.e0 - Y, self.n0 - X  # Krovak East North (5514)

    def inv(self, E: float, N: float) -> tuple[float, float]:
        if self.czech:
            X, Y = E - self.e0, N - self.n0
        else:
            X, Y = -(N - self.n0), -(E - self.e0)
        e, B = self.e, self.B
        r = math.hypot(X, Y)
        theta = math.atan2(Y, X)
        D = theta / self.n
        T = 2.0 * (
            math.atan((self.r0 / r) ** (1.0 / self.n) * self._tppc)
            - math.pi / 4.0
        )
        U = math.asin(
            math.cos(self.alphac) * math.sin(T)
            - math.sin(self.alphac) * math.cos(T) * math.cos(D)
        )
        V = math.asin(math.cos(T) * math.sin(D) / math.cos(U))
        lam = self.lam0 - V / B
        # invert the conformal-latitude map by fixed point (rate ~e²)
        base = math.tan(U / 2.0 + math.pi / 4.0) / self.t0
        phi = U
        for _ in range(12):
            s = math.sin(phi)
            phi = 2.0 * (
                math.atan(
                    base ** (1.0 / B)
                    * ((1.0 + e * s) / (1.0 - e * s)) ** (e / 2.0)
                )
                - math.pi / 4.0
            )
        return math.degrees(lam), math.degrees(phi)


class _ObliqueStereoCrs:
    """Oblique Stereographic (EPSG 9809; '+proj=sterea'): the EPSG
    Guidance Note 7-2 double-projection closed forms — Gauss conformal
    sphere of radius R = √(ρ₀ν₀) at the origin (constants n, c, χ₀),
    then the spherical oblique stereographic. This is the Netherlands
    RD grid (Amersfoort / RD New, EPSG:28992 — the GN 7-2 worked
    example pinned in tests: 53°N 6°E → 196105.283 / 557057.739 m) and
    the Romanian/Polish stereographic grids. The inverse recovers χ/Λ
    with the GN 7-2 g/h/i/j construction, then Newton-iterates the
    ellipsoidal isometric latitude (quadratic; 8 rounds reach 1e-14
    rad). Polar origins belong to '+proj=stere' and refuse at parse
    time (r17)."""

    def __init__(self, lat0, lon0, k0, e0, n0, inv_f, a=R):
        f = 1.0 / inv_f
        e2 = f * (2.0 - f)
        self.e = e = math.sqrt(e2)
        self.e0, self.n0 = e0, n0
        self.lam0 = math.radians(lon0)
        phi0 = math.radians(lat0)
        sp = math.sin(phi0)
        rho0 = a * (1.0 - e2) / (1.0 - e2 * sp * sp) ** 1.5
        nu0 = a / math.sqrt(1.0 - e2 * sp * sp)
        self.R = math.sqrt(rho0 * nu0)
        self.n = n = math.sqrt(1.0 + e2 * math.cos(phi0) ** 4 / (1.0 - e2))
        s1 = (1.0 + sp) / (1.0 - sp)
        s2 = (1.0 - e * sp) / (1.0 + e * sp)
        w1 = (s1 * s2**e) ** n
        sin_chi0 = (w1 - 1.0) / (w1 + 1.0)
        self.c = c = (
            (n + sp) * (1.0 - sin_chi0) / ((n - sp) * (1.0 + sin_chi0))
        )
        w2 = c * w1
        self.chi0 = math.asin((w2 - 1.0) / (w2 + 1.0))
        self.k0 = k0

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        if abs(lat) >= 90.0:
            # the conformal-sphere w blows up at the poles
            return (math.nan, math.nan)
        e, n = self.e, self.n
        phi, lam = math.radians(lat), math.radians(lon)
        Lam_d = n * (lam - self.lam0)  # Λ − Λ₀
        s = math.sin(phi)
        sa = (1.0 + s) / (1.0 - s)
        sb = (1.0 - e * s) / (1.0 + e * s)
        w = self.c * (sa * sb**e) ** n
        chi = math.asin((w - 1.0) / (w + 1.0))
        B = (
            1.0
            + math.sin(chi) * math.sin(self.chi0)
            + math.cos(chi) * math.cos(self.chi0) * math.cos(Lam_d)
        )
        rk2 = 2.0 * self.R * self.k0
        return (
            self.e0 + rk2 * math.cos(chi) * math.sin(Lam_d) / B,
            self.n0
            + rk2
            * (
                math.sin(chi) * math.cos(self.chi0)
                - math.cos(chi) * math.sin(self.chi0) * math.cos(Lam_d)
            )
            / B,
        )

    def inv(self, E: float, N: float) -> tuple[float, float]:
        e, n = self.e, self.n
        rk2 = 2.0 * self.R * self.k0
        g = rk2 * math.tan(math.pi / 4.0 - self.chi0 / 2.0)
        h = 2.0 * rk2 * math.tan(self.chi0) + g
        dE, dN = E - self.e0, N - self.n0
        i = math.atan2(dE, h + dN)
        j = math.atan2(dE, g - dN) - i
        chi = self.chi0 + 2.0 * math.atan((dN - dE * math.tan(j / 2.0)) / rk2)
        Lam_d = j + 2.0 * i  # Λ − Λ₀
        lam = Lam_d / n + self.lam0
        # ellipsoidal isometric latitude from the conformal-sphere χ:
        # e^{2ψ} = [(1+sinφ)/(1−sinφ)]·[(1−e sinφ)/(1+e sinφ)]^e
        #        = (w/c)^{1/n} with w = (1+sinχ)/(1−sinχ)
        psi = (math.atanh(math.sin(chi)) - 0.5 * math.log(self.c)) / n
        phi = 2.0 * math.atan(math.exp(psi)) - math.pi / 2.0  # first guess
        for _ in range(8):
            s = math.sin(phi)
            psi_i = math.atanh(s) - e * math.atanh(e * s)
            # Newton: dψ/dφ = (1 − e²)/(cos φ (1 − e² sin²φ))
            phi -= (psi_i - psi) * math.cos(phi) * (1.0 - e * e * s * s) / (
                1.0 - e * e
            )
        return math.degrees(lam), math.degrees(phi)


_BERN_LAT = 46.0 + 57.0 / 60.0 + 8.66 / 3600.0
_BERN_LON = 7.0 + 26.0 / 60.0 + 22.50 / 3600.0
# CH1903 -> WGS84 (position-vector, rotations 0): swisstopo's
# published geocentric shift
_CH1903_HELMERT = (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)

_SWISS: dict[int, _SwissCrs] = {
    # CH1903 / LV03
    21781: _SwissCrs(
        _BERN_LAT, _BERN_LON, 1.0, 600_000.0, 200_000.0,
        helmert=_CH1903_HELMERT,
    ),
    # CH1903+ / LV95
    2056: _SwissCrs(
        _BERN_LAT, _BERN_LON, 1.0, 2_600_000.0, 1_200_000.0,
        helmert=_CH1903_HELMERT,
    ),
}

_PS: dict[int, _PsCrs] = {
    # NSIDC Sea Ice Polar Stereographic North: SP 70°N, λ₀ 45°W, FE/FN 0
    3413: _PsCrs(70.0, -45.0, 0.0, 0.0, _WGS84_INV_F),
    # Antarctic Polar Stereographic: SP 71°S, λ₀ 0°, FE/FN 0
    3031: _PsCrs(-71.0, 0.0, 0.0, 0.0, _WGS84_INV_F),
    # Australian Antarctic Polar Stereographic — the EPSG Guidance Note
    # 7-2 worked example (SP 71°S, λ₀ 70°E, FE/FN 6 000 km), pinned in
    # tests/test_projection.py against the published E/N values
    3032: _PsCrs(-71.0, 70.0, 6_000_000.0, 6_000_000.0, _WGS84_INV_F),
}

_AEA: dict[int, _AeaCrs] = {
    # NAD83 / Conus Albers: SP 29.5°/45.5°, origin (23°N, 96°W), FE/FN 0
    5070: _AeaCrs(29.5, 45.5, 23.0, -96.0, 0.0, 0.0, _GRS80_INV_F),
    # GDA94 / Australian Albers: SP -18°/-36°, origin (0°, 132°E), FE/FN 0
    3577: _AeaCrs(-18.0, -36.0, 0.0, 132.0, 0.0, 0.0, _GRS80_INV_F),
}

_LAEA: dict[int, _LaeaCrs] = {
    # ETRS89-extended / LAEA Europe: origin (52°N, 10°E),
    # FE 4 321 km, FN 3 210 km
    3035: _LaeaCrs(52.0, 10.0, 4_321_000.0, 3_210_000.0, _GRS80_INV_F),
}

_LCC: dict[int, _LccCrs] = {
    # RGF93 / Lambert-93 (France): SP 49°/44°, origin (46.5°N, 3°E),
    # FE 700 km, FN 6600 km
    2154: _LccCrs(49.0, 44.0, 46.5, 3.0, 700_000.0, 6_600_000.0, _GRS80_INV_F),
    # ETRS89-extended / LCC Europe: SP 35°/65°, origin (52°N, 10°E),
    # FE 4000 km, FN 2800 km
    3034: _LccCrs(35.0, 65.0, 52.0, 10.0, 4_000_000.0, 2_800_000.0, _GRS80_INV_F),
}


def _map_coords(g: Geometry, fn) -> Geometry:
    if g.kind == "Point":
        return Geometry("Point", fn(*g.coords))
    if g.kind in ("LineString", "MultiPoint"):
        return Geometry(g.kind, [fn(*p) for p in g.coords])
    if g.kind in ("Polygon", "MultiLineString"):
        return Geometry(g.kind, [[fn(*p) for p in seq] for seq in g.coords])
    if g.kind == "MultiPolygon":
        return Geometry(
            "MultiPolygon", [[[fn(*p) for p in ring] for ring in rings] for rings in g.coords]
        )
    if g.kind == "GeometryCollection":
        return Geometry("GeometryCollection", [_map_coords(sub, fn) for sub in g.coords])
    raise ValueError(f"unknown geometry kind {g.kind!r}")


def transform(g: Geometry, srid_from: int, srid_to: int) -> Geometry:
    if srid_from == srid_to:
        return g
    if (srid_from, srid_to) == (4326, 3857):
        return _map_coords(g, _fwd)
    if (srid_from, srid_to) == (3857, 4326):
        return _map_coords(g, _inv)
    zone_to = _utm_zone(srid_to)
    if srid_from == 4326 and zone_to is not None:
        z, north = zone_to
        return _map_coords(g, lambda lon, lat: _utm_fwd(lon, lat, z, north))
    zone_from = _utm_zone(srid_from)
    if zone_from is not None and srid_to == 4326:
        z, north = zone_from
        return _map_coords(g, lambda e, n: _utm_inv(e, n, z, north))
    if srid_from == 4326 and srid_to in _LCC:
        return _map_coords(g, _LCC[srid_to].fwd)
    if srid_from in _LCC and srid_to == 4326:
        return _map_coords(g, _LCC[srid_from].inv)
    if srid_from == 4326 and srid_to in _LAEA:
        return _map_coords(g, _LAEA[srid_to].fwd)
    if srid_from in _LAEA and srid_to == 4326:
        return _map_coords(g, _LAEA[srid_from].inv)
    if srid_from == 4326 and srid_to in _AEA:
        return _map_coords(g, _AEA[srid_to].fwd)
    if srid_from in _AEA and srid_to == 4326:
        return _map_coords(g, _AEA[srid_from].inv)
    if srid_from == 4326 and srid_to in _PS:
        return _map_coords(g, _PS[srid_to].fwd)
    if srid_from in _PS and srid_to == 4326:
        return _map_coords(g, _PS[srid_from].inv)
    if srid_from == 4326 and srid_to in _TM:
        return _map_coords(g, _TM[srid_to].fwd)
    if srid_from in _TM and srid_to == 4326:
        return _map_coords(g, _TM[srid_from].inv)
    if srid_from == 4326 and srid_to in _MERC:
        return _map_coords(g, _MERC[srid_to].fwd)
    if srid_from in _MERC and srid_to == 4326:
        return _map_coords(g, _MERC[srid_from].inv)
    if srid_from == 4326 and srid_to in _SWISS:
        return _map_coords(g, _SWISS[srid_to].fwd)
    if srid_from in _SWISS and srid_to == 4326:
        return _map_coords(g, _SWISS[srid_from].inv)
    if (
        zone_from is not None
        or zone_to is not None
        or 3857 in (srid_from, srid_to)
        or srid_from in _LCC
        or srid_to in _LCC
        or srid_from in _LAEA
        or srid_to in _LAEA
        or srid_from in _AEA
        or srid_to in _AEA
        or srid_from in _PS
        or srid_to in _PS
        or srid_from in _TM
        or srid_to in _TM
        or srid_from in _MERC
        or srid_to in _MERC
        or srid_from in _SWISS
        or srid_to in _SWISS
    ):
        # Composable pairs (e.g. 3857 -> UTM, 2154 -> 3035) route
        # through 4326.
        return transform(transform(g, srid_from, 4326), 4326, srid_to)
    raise ValueError(
        f"no transform {srid_from}->{srid_to} in this runtime (closed forms "
        "for 4326<->3857, 4326<->UTM EPSG:326xx/327xx, LCC 2SP "
        "EPSG:2154/3034, LAEA EPSG:3035, Albers EAC EPSG:5070/3577, "
        "polar stereographic EPSG:3413/3031/3032, national TM grids "
        "EPSG:27700/2180, World Mercator EPSG:3395, and the Swiss "
        "grids EPSG:21781/2056; pass an explicit '+proj=' parameter "
        "string for any other tmerc/utm/lcc/aea/laea/stere/merc CRS)"
    )


# --- parameterized '+proj=' definitions (r16, VERDICT r15 task 3) --------
#
# PostGIS forwards ST_Transform(geom, from_proj, to_proj) text arguments
# straight to proj (reference parity: src/index.ts:44-63 forwards
# arbitrary ST_Transform calls to PostGIS). This runtime accepts the
# same public proj-string grammar for the projection families whose
# closed-form kernels already exist above — tmerc / utm / lcc (2SP) /
# aea / laea / stere (polar, variants A and B) / merc / somerc /
# omerc (Hotine, r17) / sterea (oblique stereographic, r17) /
# krovak (r17) / longlat — so arbitrary state-plane / national codes work without
# shipping proj: look up the EPSG definition once, pass its
# parameters explicitly.
#
# Grammar subset: +proj= +lat_0= +lon_0= +lonc= +lat_1= +lat_2=
# +lat_ts= +alpha= +gamma= +no_uoff +k=/+k_0= +x_0= +y_0= +zone=
# +south +ellps= +a= +b= +rf= +datum=WGS84|NAD83
# +towgs84=tx,ty,tz[,rx,ry,rz,s] (position-vector: arcsec + ppm, the
# EPSG/proj convention) +units=m|us-ft|ft / +to_meter= (r17 — the
# output-unit scale; +x_0/+y_0 stay in meters like proj) +no_defs
# +type=crs. Anything else — unknown projections or units, grid-file
# datums, empty '+key=' values — raises loudly: a silently ignored
# parameter would corrupt every coordinate.

_ELLPS: dict[str, tuple[float, float]] = {
    # published defining parameters (proj -le): (a, 1/f)
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "airy": (6377563.396, 299.3249646),
    "intl": (6378388.0, 297.0),
    "clrk66": (6378206.4, 294.9786982138982),
    "bessel": (6377397.155, 299.1528128),
    "krass": (6378245.0, 298.3),
    "WGS72": (6378135.0, 298.26),
    # Everest 1830 (1967 definition) — Borneo RSO grids (proj -le)
    "evrstSS": (6377298.556, 300.8017),
}

_HANDLED_KEYS = {
    "proj", "lat_0", "lon_0", "lat_1", "lat_2", "lat_ts", "k", "k_0",
    "x_0", "y_0", "zone", "south", "ellps", "a", "b", "rf", "datum",
    "towgs84", "units", "no_defs", "type", "wktext",
    "to_meter", "lonc", "alpha", "gamma", "no_uoff", "czech", "pm",
}

# proj's named prime meridians (proj -lm) — +pm= shifts every
# longitude-type parameter: a +lon_0 relative to Paris sits at
# lon_0 + 2.337... east of Greenwich (the NTF legacy-grid class).
_PRIME_MERIDIANS: dict[str, float] = {
    "greenwich": 0.0,
    "paris": 2.0 + 20.0 / 60.0 + 14.025 / 3600.0,
    "ferro": -(17.0 + 40.0 / 60.0),
    "lisbon": -(9.0 + 7.0 / 60.0 + 54.862 / 3600.0),
    "bogota": -(74.0 + 4.0 / 60.0 + 51.3 / 3600.0),
    "madrid": -(3.0 + 41.0 / 60.0 + 16.58 / 3600.0),
    "rome": 12.0 + 27.0 / 60.0 + 8.4 / 3600.0,
    "bern": 7.0 + 26.0 / 60.0 + 22.5 / 3600.0,
    "jakarta": 106.0 + 48.0 / 60.0 + 27.79 / 3600.0,
    "brussels": 4.0 + 22.0 / 60.0 + 4.71 / 3600.0,
    "stockholm": 18.0 + 3.0 / 60.0 + 29.8 / 3600.0,
    "athens": 23.0 + 42.0 / 60.0 + 58.815 / 3600.0,
    "oslo": 10.0 + 43.0 / 60.0 + 22.5 / 3600.0,
}

# proj's published linear-unit table entries this runtime accepts for
# projected output (+units=); +to_meter= takes any positive factor.
# +x_0/+y_0 stay in METERS regardless (the proj convention — e.g.
# EPSG:2263's string carries +x_0=300000.0000000001 m for a false
# easting published as 984250 ftUS).
_UNITS: dict[str, float] = {
    "m": 1.0,
    "us-ft": 1200.0 / 3937.0,  # US survey foot (exact ratio)
    "ft": 0.3048,              # international foot (exact)
}


class _ProjDef:
    """A parsed '+proj=' definition: a LOCAL projection kernel (one of
    the closed-form classes above) plus the optional +towgs84 datum
    leg. ``fwd``/``inv`` map WGS84 degrees <-> projected coordinates,
    composing the Helmert legs exactly like the _TmCrs datum path."""

    __slots__ = ("_fwd_local", "_inv_local", "_ab", "_helmert", "_unit")

    def __init__(self, fwd_local, inv_local, ab, helmert, unit=1.0):
        self._fwd_local = fwd_local
        self._inv_local = inv_local
        self._ab = ab
        self._helmert = helmert
        self._unit = unit  # meters per output unit (+units=/+to_meter=)

    def fwd(self, lon: float, lat: float) -> tuple[float, float]:
        if self._helmert is not None:
            lon, lat = _helmert_geodetic(
                lon, lat, _WGS84_AB, self._ab, self._helmert, inverse=True
            )
        x, y = self._fwd_local(lon, lat)
        if self._unit != 1.0:
            return x / self._unit, y / self._unit
        return x, y

    def inv(self, e: float, n: float) -> tuple[float, float]:
        if self._unit != 1.0:
            e, n = e * self._unit, n * self._unit
        lon, lat = self._inv_local(e, n)
        if self._helmert is not None:
            lon, lat = _helmert_geodetic(
                lon, lat, self._ab, _WGS84_AB, self._helmert, inverse=False
            )
        return lon, lat


def _parse_projdef(text: str) -> _ProjDef:
    kv: dict[str, str] = {}
    for tok in text.split():
        if not tok.startswith("+"):
            raise ValueError(f"proj parameter must start with '+': {tok!r}")
        key, eq, val = tok[1:].partition("=")
        if key not in _HANDLED_KEYS:
            raise ValueError(
                f"unsupported proj parameter +{key} (this runtime handles "
                f"{sorted(_HANDLED_KEYS)})"
            )
        if eq and not val:
            # '+lat_0=' with nothing after the '=' is a malformed
            # token, not 'parameter absent' — silently defaulting it
            # would corrupt every coordinate (ADVICE r16)
            raise ValueError(f"+{key}= has an empty value")
        kv[key] = val
    proj = kv.get("proj")
    if not proj:
        raise ValueError("proj string needs +proj=")
    # projected linear units: +units= from the published table, or an
    # explicit +to_meter= factor (the two are alternatives, like proj)
    if "units" in kv and "to_meter" in kv:
        raise ValueError("+units and +to_meter are mutually exclusive")
    if "units" in kv:
        if kv["units"] not in _UNITS:
            raise ValueError(
                f"unknown +units={kv['units']} (known: {sorted(_UNITS)}; "
                "use +to_meter= for any other factor)"
            )
        unit = _UNITS[kv["units"]]
    elif "to_meter" in kv:
        unit = float(kv["to_meter"])
        if not (math.isfinite(unit) and unit > 0.0):
            raise ValueError(
                f"+to_meter must be a positive finite factor, got {unit}"
            )
    else:
        unit = 1.0
    default_ellps = "WGS84"
    if "datum" in kv:
        if kv["datum"] == "NAD83":
            # NAD83 is GRS80 with a null shift to WGS84 at the accuracy
            # class of this runtime (proj's own non-grid behavior) —
            # this is what pasted US state-plane strings carry
            default_ellps = "GRS80"
        elif kv["datum"] != "WGS84":
            raise ValueError(
                f"+datum={kv['datum']} needs grid files; spell the "
                "ellipsoid and +towgs84 parameters explicitly"
            )
    # ellipsoid: +a (+rf / +b) overrides +ellps; default WGS84 like proj
    if "a" in kv:
        a = float(kv["a"])
        if not (math.isfinite(a) and a > 0.0):
            raise ValueError(f"+a must be a positive finite axis, got {a}")
        if "rf" in kv:
            inv_f = float(kv["rf"])
        elif "b" in kv:
            b = float(kv["b"])
            if not math.isfinite(b) or b >= a or b <= 0.0:
                raise ValueError("+b must be in (0, +a) (spheres unsupported)")
            inv_f = a / (a - b)
        else:
            raise ValueError("+a needs +rf or +b")
        if not (math.isfinite(inv_f) and inv_f > 1.0):
            raise ValueError(
                f"inverse flattening must be finite and > 1, got {inv_f}"
            )
    else:
        name = kv.get("ellps", default_ellps)
        if name not in _ELLPS:
            raise ValueError(
                f"unknown +ellps={name} (known: {sorted(_ELLPS)})"
            )
        a, inv_f = _ELLPS[name]
    ab = (a, a * math.sqrt(1.0 - (1.0 / inv_f) * (2.0 - 1.0 / inv_f)))
    # datum leg: position-vector 7-parameter (or 3-parameter) Helmert
    helmert = None
    if "towgs84" in kv:
        parts = [float(x) for x in kv["towgs84"].split(",")]
        if len(parts) == 3:
            parts += [0.0, 0.0, 0.0, 0.0]
        if len(parts) != 7:
            raise ValueError("+towgs84 takes 3 or 7 comma-separated values")
        tx, ty, tz, rx, ry, rz, s_ppm = parts
        if any(p != 0.0 for p in parts) or ab != _WGS84_AB:
            helmert = (
                tx, ty, tz,
                rx * _ARCSEC, ry * _ARCSEC, rz * _ARCSEC, s_ppm,
            )
    # absent +towgs84: geodetic coordinates pass through on the def's
    # OWN datum (classic proj behavior without datum info, and the same
    # no-shift stance the GRS80 closed-table entries take — this is
    # what makes '+proj=lcc ...EPSG:2154 params' EXACTLY equal the
    # EPSG:2154 table path)

    def num(key: str, default: float = 0.0) -> float:
        return float(kv[key]) if kv.get(key) else default

    # prime meridian (r17): +pm= shifts every longitude-type parameter
    # to its Greenwich equivalent BEFORE the kernels see it (geodetic
    # I/O stays Greenwich-referenced, the proj convention)
    pm = 0.0
    if "pm" in kv:
        name = kv["pm"].lower()
        if name in _PRIME_MERIDIANS:
            pm = _PRIME_MERIDIANS[name]
        else:
            try:
                pm = float(kv["pm"])
            except ValueError:
                raise ValueError(
                    f"unknown +pm={kv['pm']} (named: "
                    f"{sorted(_PRIME_MERIDIANS)}; or decimal degrees)"
                ) from None
            if not (math.isfinite(pm) and -180.0 <= pm <= 180.0):
                raise ValueError(f"+pm out of range: {pm}")

    lat0, lon0 = num("lat_0"), num("lon_0") + pm
    x0, y0 = num("x_0"), num("y_0")
    k0 = float(kv["k"]) if kv.get("k") else (
        float(kv["k_0"]) if kv.get("k_0") else 1.0
    )
    # a zero/NaN scale or a non-finite origin SILENTLY corrupts every
    # coordinate (k=0 collapses the forward to the false origin while
    # the inverse divides by zero) — reject at parse, loudly
    for name, v in (
        ("lat_0", lat0), ("lon_0", lon0), ("x_0", x0), ("y_0", y0)
    ):
        if not math.isfinite(v):
            raise ValueError(f"+{name} must be finite, got {v}")
    if not (math.isfinite(k0) and k0 > 0.0):
        raise ValueError(f"+k must be a positive finite scale, got {k0}")
    if not -90.0 <= lat0 <= 90.0:
        raise ValueError(f"+lat_0 out of range: {lat0}")
    if proj in ("longlat", "latlong"):
        if unit != 1.0:
            raise ValueError(
                "+units/+to_meter do not apply to geographic "
                "(+proj=longlat) definitions — coordinates are degrees"
            )
        if pm != 0.0:
            # geographic output referenced to the def's own meridian
            fwd_ll = lambda x, y: (x - pm, y)  # noqa: E731
            inv_ll = lambda x, y: (x + pm, y)  # noqa: E731
            return _ProjDef(fwd_ll, inv_ll, ab, helmert, unit)
        ident = lambda x, y: (x, y)  # noqa: E731 — geographic: no projection
        return _ProjDef(ident, ident, ab, helmert, unit)
    if proj == "utm":
        if not kv.get("zone"):
            raise ValueError("+proj=utm needs +zone=")
        zone = int(kv["zone"])
        if not 1 <= zone <= 60:
            raise ValueError(f"UTM zone out of range: {zone}")
        crs = _TmCrs(
            a, inv_f, 0.0, zone * 6 - 183, 0.9996, _E0,
            _N0_SOUTH if "south" in kv else 0.0,
        )
        return _ProjDef(crs.fwd_local, crs.inv_local, ab, helmert, unit)
    if proj == "tmerc":
        crs = _TmCrs(a, inv_f, lat0, lon0, k0, x0, y0)
        return _ProjDef(crs.fwd_local, crs.inv_local, ab, helmert, unit)
    if proj == "lcc":
        if not kv.get("lat_1"):
            raise ValueError("+proj=lcc needs +lat_1")
        lat1 = num("lat_1")
        lat2 = num("lat_2", lat1)
        if lat1 == lat2:
            raise ValueError(
                "LCC 1SP (lat_1 == lat_2) is not supported; the 2SP "
                "closed forms divide by ln t1 - ln t2"
            )
        crs = _LccCrs(lat1, lat2, lat0, lon0, x0, y0, inv_f, a=a)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "aea":
        if not (kv.get("lat_1") and kv.get("lat_2")):
            raise ValueError("+proj=aea needs +lat_1 and +lat_2")
        crs = _AeaCrs(num("lat_1"), num("lat_2"), lat0, lon0, x0, y0, inv_f, a=a)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "laea":
        if lat0 in (90.0, -90.0):
            # polar aspect (EPSG:3574/3575/3576 class): its own Snyder
            # closed forms — the oblique ones degenerate at the pole
            crs = _LaeaPolarCrs(lat0 > 0, lon0, x0, y0, inv_f, a=a)
            return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
        if abs(lat0) > 89.0:
            # NEAR-polar oblique: cos β₀ underflows and the output is
            # silently wrong, not a crash — refuse loudly
            raise ValueError(
                "near-polar oblique LAEA (+lat_0 within 1 degree of the "
                "pole but not exactly ±90) is outside the closed forms"
            )
        crs = _LaeaCrs(lat0, lon0, x0, y0, inv_f, a=a)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "somerc":
        # the Swiss-style oblique Mercator on the conformal sphere
        # (proj's somerc keyword — EPSG "Hotine Oblique Mercator
        # (variant B)" with the 90° azimuth Swiss specialization)
        if abs(lat0) >= 89.0:
            raise ValueError("+proj=somerc needs a non-polar +lat_0")
        crs = _SwissCrs(lat0, lon0, k0, x0, y0, inv_f=inv_f, a=a)
        return _ProjDef(crs._fwd_local, crs._inv_local, ab, helmert, unit)
    if proj == "merc":
        if lat0 != 0.0:
            raise ValueError("+proj=merc requires +lat_0=0 (EPSG forms)")
        lat_ts = float(kv["lat_ts"]) if kv.get("lat_ts") else None
        if lat_ts is not None and not -89.0 <= lat_ts <= 89.0:
            raise ValueError(f"+lat_ts out of range for merc: {lat_ts}")
        crs = _MercCrs(lon0, x0, y0, inv_f, a=a, k0=k0, lat_ts=lat_ts)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "stere":
        if abs(lat0) != 90.0:
            raise ValueError(
                "only POLAR stereographic (+lat_0=90 or -90) has a "
                "closed-form kernel here; oblique stere is unsupported"
            )
        if kv.get("lat_ts") and abs(float(kv["lat_ts"])) != 90.0:
            lat_ts = float(kv["lat_ts"])
            if (lat_ts > 0) != (lat0 > 0):
                raise ValueError("+lat_ts must be in the +lat_0 hemisphere")
            crs = _PsCrs(lat_ts, lon0, x0, y0, inv_f, a=a)
        else:  # variant A: scale at the pole (lat_ts absent or ±90)
            crs = _PsCrs(lat0, lon0, x0, y0, inv_f, a=a, k0=k0)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "omerc":
        # Hotine Oblique Mercator (EPSG 9812/9815) — Borneo RSO,
        # Alaska zone 1, Malaysia BRSO (r17, VERDICT r16 task 3)
        if not kv.get("lonc"):
            raise ValueError("+proj=omerc needs +lonc= (the center longitude)")
        if kv.get("lon_0"):
            raise ValueError(
                "+proj=omerc takes +lonc, not +lon_0 — a silently "
                "ignored center longitude would corrupt every coordinate"
            )
        if kv.get("lat_1") or kv.get("lat_2"):
            raise ValueError(
                "the two-point omerc form (+lat_1/+lon_1/+lat_2/+lon_2) "
                "is not supported; use +alpha (the azimuth form)"
            )
        if not kv.get("alpha"):
            raise ValueError("+proj=omerc needs +alpha= (the azimuth)")
        alpha = num("alpha")
        gamma = num("gamma", alpha)
        if not 0.1 <= abs(alpha) <= 89.9:
            raise ValueError(
                f"+alpha={alpha} is outside (0.1, 89.9) in absolute "
                "value — near 0 the aposphere construction degenerates "
                "and at 90 the projection is '+proj=somerc'"
            )
        if not 0.1 <= abs(lat0) <= 89.0:
            raise ValueError(
                "+proj=omerc needs a non-polar, non-equatorial +lat_0 "
                "(every published RSO grid has one; the equatorial "
                "aspect is '+proj=merc')"
            )
        crs = _HomCrs(
            lat0, num("lonc") + pm, alpha, gamma, k0, x0, y0, inv_f, a=a,
            no_uoff="no_uoff" in kv,
        )
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj in ("eqc", "eqc_sph"):
        # Equidistant Cylindrical (EPSG 1028; EPSG:4087 class) — r17
        if proj == "eqc_sph":
            raise ValueError("spherical eqc: pass +proj=eqc with +a/+rf")
        if lat0 != 0.0:
            raise ValueError(
                "+proj=eqc takes +lat_ts (the standard parallel); "
                "+lat_0 must be 0 (EPSG 1028 origins sit on the equator)"
            )
        lat_ts = num("lat_ts")
        if not -89.0 <= lat_ts <= 89.0:
            raise ValueError(f"+lat_ts out of range for eqc: {lat_ts}")
        crs = _EqcCrs(lat_ts, lon0, x0, y0, inv_f, a=a)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "cass":
        # Cassini-Soldner (EPSG 9806) — Trinidad 1903 and the old
        # cadastral grids; pairs naturally with +to_meter= (Clarke's
        # links) — r17
        if abs(lat0) > 89.0:
            raise ValueError("+proj=cass needs a non-polar +lat_0")
        crs = _CassCrs(lat0, lon0, x0, y0, inv_f, a=a)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "krovak":
        # Krovak oblique conformal conic (EPSG 9819) — S-JTSK, the
        # Czech/Slovak grid (r17). proj defaults: lat_0 49.5,
        # lon_0 24°50' E Greenwich (42°30' E Ferro), alpha
        # 30°17'17.3031", k 0.9999; the pseudo standard parallel is
        # method-fixed at 78°30' (proj hardcodes it too).
        lat0_k = num("lat_0", 49.5)
        # the krovak default λ₀ is Greenwich-referenced (24°50'E =
        # 42°30' east of Ferro); an explicit +lon_0 composes with +pm
        lon0_k = (num("lon_0") + pm) if kv.get("lon_0") else (24.0 + 50.0 / 60.0)
        alpha_k = num("alpha", 30.28813972222222)  # proj: 30d17'17.303"
        k0_k = k0 if (kv.get("k") or kv.get("k_0")) else 0.9999
        if not 30.0 <= lat0_k <= 60.0:
            raise ValueError(
                "+proj=krovak +lat_0 outside the method's domain "
                "(the conformal-sphere center must stay mid-latitude)"
            )
        if not 0.0 < alpha_k < 89.0:
            raise ValueError(f"+proj=krovak +alpha out of range: {alpha_k}")
        crs = _KrovakCrs(
            lat0_k, lon0_k, alpha_k, k0_k, x0, y0, inv_f, a=a,
            czech="czech" in kv,
        )
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    if proj == "sterea":
        # Oblique Stereographic (EPSG 9809) — Netherlands RD,
        # Romania/Poland stereographic grids (r17, VERDICT r16 task 3)
        if abs(lat0) >= 89.0:
            raise ValueError(
                "+proj=sterea is the OBLIQUE stereographic — polar "
                "origins are '+proj=stere'"
            )
        crs = _ObliqueStereoCrs(lat0, lon0, k0, x0, y0, inv_f, a=a)
        return _ProjDef(crs.fwd, crs.inv, ab, helmert, unit)
    raise ValueError(
        f"unsupported +proj={proj} (closed-form kernels exist for "
        "tmerc/utm/lcc/aea/laea/stere/merc/somerc/omerc/sterea/krovak/"
        "eqc/cass/longlat)"
    )


_PROJDEF_CACHE: dict[str, _ProjDef] = {}


def _projdef(text: str) -> _ProjDef:
    d = _PROJDEF_CACHE.get(text)
    if d is None:
        if len(_PROJDEF_CACHE) > 512:  # bounded per-executor memo
            _PROJDEF_CACHE.clear()
        d = _PROJDEF_CACHE[text] = _parse_projdef(text)
    return d


def transform_any(g: Geometry, src, dst) -> Geometry:
    """``transform`` over int SRIDs AND '+proj=' strings on either
    side; mixed pairs route through the 4326 hub like the SRID
    composites above."""
    if isinstance(src, int) and isinstance(dst, int):
        return transform(g, src, dst)
    if isinstance(src, int):
        g = transform(g, src, 4326)
    else:
        g = _map_coords(g, _projdef(src).inv)
    if isinstance(dst, int):
        return transform(g, 4326, dst)
    return _map_coords(g, _projdef(dst).fwd)


def _crs_arg(v):
    """An st_transform CRS argument: an int SRID, an 'EPSG:n' string,
    or a '+proj=' parameter string (r16 — the PostGIS from_proj/to_proj
    text forms)."""
    if isinstance(v, str):
        s = v.strip()
        if s.startswith("+"):
            return s
        if s.upper().startswith("EPSG:"):
            return int(s[5:])
        return int(s)  # a numeric string; non-numeric raises loudly
    return int(v)


@pandas_udf(StringType())
def st_transform(wkt: pd.Series, srid_from: pd.Series, srid_to: pd.Series) -> pd.Series:
    """NULL/malformed/non-finite WKT → NULL (registry convention: a
    NaN/inf coordinate through a transcendental projection would emit
    a silently corrupt geometry — code-review r12); an UNSUPPORTED
    SRID pair, unknown +proj= parameter, or malformed CRS argument
    raises — a wrong CRS silently treated as a no-op would corrupt
    every downstream coordinate. CRS arguments are int SRIDs, 'EPSG:n'
    strings, or '+proj=' parameter strings (tmerc/utm/lcc/aea/laea/
    stere/longlat grammar subset — see _parse_projdef)."""
    out = []
    for w, sf, st_ in zip(wkt, srid_from, srid_to):
        if w is None or sf is None or st_ is None or (
            not isinstance(sf, str) and pd.isna(sf)
        ) or (not isinstance(st_, str) and pd.isna(st_)):
            out.append(None)
            continue
        g = G.parse_wkt(w)
        if g is None or not all(
            math.isfinite(x) and math.isfinite(y) for x, y in G._points(g)
        ):
            out.append(None)
            continue
        t = transform_any(g, _crs_arg(sf), _crs_arg(st_))
        if not all(
            math.isfinite(x) and math.isfinite(y) for x, y in G._points(t)
        ):
            # out-of-domain input (e.g. a pole through ellipsoidal
            # Mercator maps to ±inf northing, ADVICE r16): loud NULL,
            # never a silently clamped finite coordinate
            out.append(None)
            continue
        out.append(G.to_wkt(t))
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def st_azimuth(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_Azimuth: bearing from point a to point b in radians, clockwise
    from north (PostGIS convention: atan2(Δx, Δy) normalized to [0, 2π)).
    NULL for non-points, NULL inputs, or coincident points (where PostGIS
    errors; the registry convention is NULL-never-crash)."""
    out = []
    for wa, wb in zip(a, b):
        ga = G.parse_wkt(wa) if wa is not None else None
        gb = G.parse_wkt(wb) if wb is not None else None
        if ga is None or gb is None or ga.kind != "Point" or gb.kind != "Point":
            out.append(None)
            continue
        dx, dy = gb.coords[0] - ga.coords[0], gb.coords[1] - ga.coords[1]
        if dx == 0.0 and dy == 0.0:
            out.append(None)
            continue
        out.append(math.atan2(dx, dy) % (2.0 * math.pi))
    return pd.Series(out, dtype="float64")


ALL_PROJECTION_FUNCTIONS = {"st_transform": st_transform, "st_azimuth": st_azimuth}
