"""Measure (M) linear referencing (F12 remainder, r14 continuation):
ST_AddMeasure / ST_M / ST_MMin / ST_MMax / ST_Zmflag /
ST_InterpolatePoint / ST_LocateAlong / ST_LocateBetween /
ST_LineInterpolatePoints. The reference forwards PostGIS names
verbatim (src/index.ts:44-63); measures are the mile-post/timestamp
axis of every linear-referencing pipeline.

M text reads and writes through the one WKT codec (``wkt``); the
linear-referencing functions take the kinds PostGIS measure functions
accept (POINT/MULTIPOINT/LINESTRING/MULTILINESTRING). Output formats
mirror PostGIS ST_AsText:
``LINESTRING M (x y m, …)``, ``MULTIPOINT M ((x y m), …)``,
``MULTILINESTRING M ((…), (…))``.

Semantics:

- ``st_addmeasure(line, m_start, m_end)`` — measures interpolated
  over cumulative 2-D arc length (continuous across the parts of a
  MULTILINESTRING, PostGIS behavior); existing M is replaced; a
  zero-length line takes m_start everywhere (documented).
- ``st_m(point)`` — the M of a POINT M; NULL for 2-D points (PostGIS
  returns NULL when the coordinate is absent) and non-points (loud).
- ``st_mmin(g)`` / ``st_mmax(g)`` — min/max measure over all
  vertices; 2-D or EMPTY input → loud NULL.
- ``st_zmflag(g)`` — PostGIS ST_Zmflag: 0 for 2-D, 1 for M, 2 for Z,
  3 for ZM.
- ``st_interpolatepoint(line_m, point)`` — the measure at the 2-D
  closest point on the line, linearly interpolated within its
  segment.
- ``st_locatealong(g_m, m)`` — MULTIPOINT M of the points where the
  measure equals m (segment interiors interpolated, vertex hits
  deduped when consecutive, constant-measure segments contribute
  their endpoints); points filter by exact m. No match →
  MULTIPOINT M EMPTY.
- ``st_locatebetween(g_m, m1, m2)`` — the spans whose measure lies in
  [m1, m2] (cut positions interpolated, chains merged across
  contiguous segments; measures may be non-monotonic). Zero-length
  (single-point) contacts return as POINT M parts (ADVICE r14):
  spans-only → MULTILINESTRING M, contacts-only → MULTIPOINT M,
  mixed → GEOMETRYCOLLECTION M (PostGIS's mixed collection). Point
  inputs filter by m ∈ [m1, m2] into MULTIPOINT M.
- ``st_lineinterpolatepoints(line_2d, fraction, repeat)`` — the
  PostGIS plural: points at fraction, 2·fraction, … ≤ 1 when repeat,
  else the single fraction point; a single point returns POINT, more
  return MULTIPOINT (2-D — composable with st_geometryn/st_x).
  fraction outside (0, 1] → loud NULL.

Trajectory suite (M as time, the PostGIS temporal functions):
``st_isvalidtrajectory`` (strictly increasing measures),
``st_closestpointofapproach`` / ``st_distancecpa`` / ``st_cpawithin``
— per merged measure interval the squared separation of two
piecewise-linear moving points is an exact quadratic, minimized in
closed form; no temporal overlap → loud NULL; ties take the earliest
measure.

All map-only Arrow-batched pandas UDFs; measures interpolate in one
pass per row (no shuffle).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, StringType

from . import geometry as G
from . import wkt as W
from . import zcoord as _z
from .geometry import Geometry
from .wkt import _num, _safe

_M_KINDS = ("Point", "MultiPoint", "LineString", "MultiLineString")


def _read_m(wkt):
    """(kind, coords) of XYM text of a measure kind (the kinds PostGIS
    measure functions accept), or None."""
    g = W.read(wkt)
    if g is None or g[1] != "M" or g[0] not in _M_KINDS:
        return None
    return g[0], g[2]


def _line_chains_2d(wkt):
    """(is_multi, [(x, y)] chains) of a 2-D or M lineal WKT (M
    dropped), or None. is_multi preserves the INPUT kind (code-review
    r14: PostGIS keeps a single-part MULTILINESTRING a multi and an
    empty LINESTRING a linestring)."""
    g = W.read(wkt)
    if g is None or g[1] not in ("", "M") or g[0] not in ("LineString", "MultiLineString"):
        return None
    kind, _, coords = W.redim(g, "")
    if kind == "LineString":
        return (False, [coords] if coords else [])
    return (True, coords)


def addmeasure_wkt(wkt, m0, m1) -> str | None:
    a, b = _num(m0), _num(m1)
    if wkt is None or a is None or b is None:
        return None
    parsed = _line_chains_2d(wkt)
    if parsed is None:
        return None
    is_multi, chains = parsed
    if not chains:
        return "MULTILINESTRING M EMPTY" if is_multi else "LINESTRING M EMPTY"
    if any(
        not all(math.isfinite(x) and math.isfinite(y) for x, y in ch)
        for ch in chains
    ):
        return None
    total = sum(
        math.hypot(q[0] - p[0], q[1] - p[1])
        for ch in chains
        for p, q in zip(ch, ch[1:])
    )
    out, cum = [], 0.0
    for ch in chains:
        mch = [(ch[0][0], ch[0][1],
                a if total == 0.0 else a + (b - a) * (cum / total))]
        for p, q in zip(ch, ch[1:]):
            cum += math.hypot(q[0] - p[0], q[1] - p[1])
            m = a if total == 0.0 else a + (b - a) * (cum / total)
            mch.append((q[0], q[1], m))
        out.append(mch)
    if len(out) == 1 and not is_multi:
        return W.write("LineString", "M", out[0])
    return W.write("MultiLineString", "M", out)


def m_of_point(wkt) -> float | None:
    """The M of a POINT M or POINT ZM; NULL for a point without M
    (PostGIS returns NULL when the coordinate is absent)."""
    g = W.read(wkt)
    if g is None or g[0] != "Point" or "M" not in g[1] or not g[2]:
        return None
    return g[2][-1]


def _all_m(wkt) -> list | None:
    g = W.read(wkt)
    if g is None or g[1] != "M" or g[0] == "GeometryCollection":
        return None
    return [p[2] for p in W.points(g[0], g[2])]


def mmin_of(wkt) -> float | None:
    ms = _all_m(wkt)
    return min(ms) if ms else None


def mmax_of(wkt) -> float | None:
    ms = _all_m(wkt)
    return max(ms) if ms else None


def force2d_wkt(wkt) -> str | None:
    """PostGIS ST_Force2D: drop the Z and M coordinates."""
    return _z.force_wkt(wkt, "")


def zmflag_of(wkt) -> int | None:
    """PostGIS ST_Zmflag: 0 = 2-D, 1 = M, 2 = Z, 3 = ZM."""
    d = _z.dims_of(wkt)
    return None if d is None else {"": 0, "M": 1, "Z": 2, "ZM": 3}[d]


def _m_chains(wkt):
    pm = _read_m(wkt)
    if pm is None:
        return None
    kind, payload = pm
    if kind == "LineString":
        return [payload] if payload else []
    if kind == "MultiLineString":
        return payload
    return None


def interpolatepoint_m(line_wkt, point_wkt) -> float | None:
    chains = _m_chains(line_wkt)
    if not chains:
        return None
    if point_wkt is None:
        return None
    p = G.parse_wkt(str(point_wkt).strip())
    if p is None or p.kind != "Point":
        return None
    px, py = p.coords
    if not (math.isfinite(px) and math.isfinite(py)):
        return None
    best = None
    for ch in chains:
        for (ax, ay, am), (bx, by, bm) in zip(ch, ch[1:]):
            dx, dy = bx - ax, by - ay
            ln2 = dx * dx + dy * dy
            t = 0.0 if ln2 == 0.0 else max(
                0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / ln2)
            )
            qx, qy = ax + t * dx, ay + t * dy
            d2 = (px - qx) ** 2 + (py - qy) ** 2
            m = am + t * (bm - am)
            if best is None or d2 < best[0]:
                best = (d2, m)
    return None if best is None else best[1]


def locatealong_wkt(wkt, measure) -> str | None:
    m = _num(measure)
    if wkt is None or m is None:
        return None
    pm = _read_m(wkt)
    if pm is None:
        return None
    kind, payload = pm
    hits = []
    if kind == "Point":
        if payload and payload[2] == m:
            hits.append(payload)
    elif kind == "MultiPoint":
        hits.extend(p for p in payload if p[2] == m)
    else:
        chains = [payload] if kind == "LineString" else payload
        for ch in chains:
            for (ax, ay, am), (bx, by, bm) in zip(ch, ch[1:]):
                if am == bm:
                    if am == m:
                        hits.append((ax, ay, am))
                        hits.append((bx, by, bm))
                    continue
                lo, hi = (am, bm) if am < bm else (bm, am)
                if lo <= m <= hi:
                    t = (m - am) / (bm - am)
                    hits.append((ax + t * (bx - ax), ay + t * (by - ay), m))
    dedup = []
    for h in hits:
        if not dedup or h != dedup[-1]:
            dedup.append(h)
    return W.write("MultiPoint", "M", dedup)


def locatebetween_wkt(wkt, m_lo, m_hi) -> str | None:
    """Spans whose measure lies in [m_lo, m_hi]. Zero-length contacts
    (the range touches a segment's measure interval at one value)
    return as POINT M parts (ADVICE r14): spans-only input keeps the
    MULTILINESTRING M form, contacts-only returns MULTIPOINT M, and a
    mix returns GEOMETRYCOLLECTION M (LINESTRING M parts first, then
    POINT M contacts — PostGIS's mixed collection). A contact that
    coincides with a span endpoint is not duplicated."""
    lo, hi = _num(m_lo), _num(m_hi)
    if wkt is None or lo is None or hi is None or hi < lo:
        return None
    pm = _read_m(wkt)
    if pm is None:
        return None
    kind, payload = pm
    if kind == "Point":
        hits = [payload] if payload and lo <= payload[2] <= hi else []
        return W.write("MultiPoint", "M", hits)
    if kind == "MultiPoint":
        return W.write("MultiPoint", "M", [p for p in payload if lo <= p[2] <= hi])
    chains = [payload] if kind == "LineString" else payload
    spans, cur, contacts = [], [], []
    for ch in chains:
        for (ax, ay, am), (bx, by, bm) in zip(ch, ch[1:]):

            def at(t):
                # exact segment endpoints at t = 0/1 (code-review r14:
                # ax + 1.0·(bx−ax) lands an ulp off bx for many float
                # inputs, defeating the exact-equality chain merge and
                # spuriously splitting fully-covered lines)
                if t == 0.0:
                    return (ax, ay, am)
                if t == 1.0:
                    return (bx, by, bm)
                return (
                    ax + t * (bx - ax),
                    ay + t * (by - ay),
                    am + t * (bm - am),
                )

            if am == bm:
                if lo <= am <= hi:
                    t0, t1 = 0.0, 1.0
                else:
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
            else:
                # clip in MEASURE space first so a clamped-out segment
                # never fabricates a contact (ADVICE r14: the old
                # param-space clamp conflated "touches at one measure"
                # with "misses entirely")
                mlo, mhi = (am, bm) if am < bm else (bm, am)
                ilo, ihi = max(lo, mlo), min(hi, mhi)
                if ilo > ihi:
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
                if ilo == ihi:
                    contacts.append(at((ilo - am) / (bm - am)))
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
                ta = (ilo - am) / (bm - am)
                tb = (ihi - am) / (bm - am)
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
    if not pts:
        return W.write("MultiLineString", "M", spans)
    if not spans:
        return W.write("MultiPoint", "M", pts)
    return W.write(
        "GeometryCollection",
        "M",
        [("LineString", "M", s) for s in spans] + [("Point", "M", p) for p in pts],
    )


def lineinterpolatepoints_wkt(wkt, fraction, repeat) -> str | None:
    f = _num(fraction)
    if wkt is None or f is None or not 0.0 < f <= 1.0 or repeat is None:
        return None
    s = str(wkt).strip()
    g = G.parse_wkt(s)
    if g is None or g.kind != "LineString" or len(g.coords) < 2:
        return None
    pts = list(g.coords)
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        return None
    seglens = [
        math.hypot(q[0] - p[0], q[1] - p[1]) for p, q in zip(pts, pts[1:])
    ]
    total = sum(seglens)
    fracs = [f]
    if repeat:
        k = 2
        while k * f <= 1.0 + 1e-15:
            fracs.append(min(1.0, k * f))
            k += 1
    out = []
    last = len(seglens) - 1
    for fr in fracs:
        d = fr * total
        if total == 0.0:
            out.append(pts[0])
            continue
        cum = 0.0
        # the last-segment fallback is BY INDEX (code-review r14: a
        # value guard `(p, q) == (pts[-2], pts[-1])` matched earlier
        # duplicate segments of back-and-forth lines and snapped every
        # mid-line fraction onto the first copy)
        for i, ln in enumerate(seglens):
            if cum + ln >= d or i == last:
                p, q = pts[i], pts[i + 1]
                t = 0.0 if ln == 0.0 else min(1.0, max(0.0, (d - cum) / ln))
                out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
                break
            cum += ln
    if len(out) == 1:
        return G.to_wkt(Geometry("Point", out[0]))
    return G.to_wkt(Geometry("MultiPoint", out))


# ---- trajectories (M as time) ------------------------------------------
#
# PostGIS's temporal suite over LINESTRING M trajectories:
# ST_IsValidTrajectory (strictly increasing measures),
# ST_ClosestPointOfApproach (the measure at which two piecewise-linear
# moving points are closest — per merged measure interval the squared
# distance is an exact quadratic |Δp + Δv·(t−s)|², minimized in closed
# form and clamped), ST_DistanceCPA (the distance at that measure),
# ST_CPAWithin. No measure overlap → loud NULL (PostGIS returns NULL).
# Ties take the EARLIEST measure (intervals scan in order, strict <).


def _trajectory(wkt):
    pm = _read_m(wkt)
    if pm is None:
        return None
    kind, payload = pm
    if kind != "LineString" or len(payload) < 2:
        return None
    for (_, _, a), (_, _, b) in zip(payload, payload[1:]):
        if not b > a:
            return None
    return payload


def isvalidtrajectory_of(wkt) -> bool | None:
    pm = _read_m(wkt)
    if pm is None:
        return None
    kind, payload = pm
    if kind != "LineString" or len(payload) < 2:
        return None  # PostGIS errors on non-lineal input — loud
    return all(
        b > a for (_, _, a), (_, _, b) in zip(payload, payload[1:])
    )


def _pos_at(traj, t):
    """Position on a valid trajectory at measure t (t inside range)."""
    for (ax, ay, am), (bx, by, bm) in zip(traj, traj[1:]):
        if am <= t <= bm:
            if t == am:
                return (ax, ay)
            if t == bm:
                return (bx, by)
            s = (t - am) / (bm - am)
            return (ax + s * (bx - ax), ay + s * (by - ay))
    return None


def cpa_m(a_wkt, b_wkt):
    """(measure, distance) at closest approach, or None."""
    ta, tb = _trajectory(a_wkt), _trajectory(b_wkt)
    if ta is None or tb is None:
        return None
    lo = max(ta[0][2], tb[0][2])
    hi = min(ta[-1][2], tb[-1][2])
    if hi < lo:
        return None  # the trajectories never coexist
    ms = sorted(
        {lo, hi}
        | {m for _, _, m in ta if lo <= m <= hi}
        | {m for _, _, m in tb if lo <= m <= hi}
    )
    best = None  # (d2, t), earliest t wins ties via strict <

    def consider(t):
        nonlocal best
        pa, pb = _pos_at(ta, t), _pos_at(tb, t)
        d2 = (pb[0] - pa[0]) ** 2 + (pb[1] - pa[1]) ** 2
        if best is None or d2 < best[0]:
            best = (d2, t)

    consider(ms[0])
    for s, e in zip(ms, ms[1:]):
        if e <= s:
            continue
        a0, a1 = _pos_at(ta, s), _pos_at(ta, e)
        b0, b1 = _pos_at(tb, s), _pos_at(tb, e)
        dt = e - s
        dpx, dpy = b0[0] - a0[0], b0[1] - a0[1]
        dvx = ((b1[0] - b0[0]) - (a1[0] - a0[0])) / dt
        dvy = ((b1[1] - b0[1]) - (a1[1] - a0[1])) / dt
        v2 = dvx * dvx + dvy * dvy
        if v2 > 0.0:
            tstar = s - (dpx * dvx + dpy * dvy) / v2
            if s < tstar < e:
                consider(tstar)
        consider(e)
    return (best[1], math.sqrt(best[0]))


def closestpointofapproach_of(a_wkt, b_wkt) -> float | None:
    r = cpa_m(a_wkt, b_wkt)
    return None if r is None else r[0]


def distancecpa_of(a_wkt, b_wkt) -> float | None:
    r = cpa_m(a_wkt, b_wkt)
    return None if r is None else r[1]


def cpawithin_of(a_wkt, b_wkt, maxdist) -> bool | None:
    d = _num(maxdist)
    if d is None or d < 0:
        return None
    r = cpa_m(a_wkt, b_wkt)
    return None if r is None else r[1] <= d


# ---- UDFs -------------------------------------------------------------


def _nan(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


@pandas_udf(StringType())
def st_addmeasure(wkt: pd.Series, m0: pd.Series, m1: pd.Series) -> pd.Series:
    out = []
    for w, a, b in zip(wkt, m0, m1):
        try:
            out.append(None if _nan(a) or _nan(b) else addmeasure_wkt(w, a, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def st_m(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(m_of_point, w) for w in wkt], dtype="float64")


@pandas_udf(DoubleType())
def st_mmin(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(mmin_of, w) for w in wkt], dtype="float64")


@pandas_udf(DoubleType())
def st_mmax(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(mmax_of, w) for w in wkt], dtype="float64")


@pandas_udf(StringType())
def st_force2d(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(force2d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(IntegerType())
def st_zmflag(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(zmflag_of, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_interpolatepoint(line: pd.Series, point: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(interpolatepoint_m, a, b) for a, b in zip(line, point)],
        dtype="float64",
    )


@pandas_udf(StringType())
def st_locatealong(wkt: pd.Series, m: pd.Series) -> pd.Series:
    out = []
    for w, v in zip(wkt, m):
        try:
            out.append(None if _nan(v) else locatealong_wkt(w, v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_locatebetween(wkt: pd.Series, m1: pd.Series, m2: pd.Series) -> pd.Series:
    out = []
    for w, a, b in zip(wkt, m1, m2):
        try:
            out.append(
                None if _nan(a) or _nan(b) else locatebetween_wkt(w, a, b)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_lineinterpolatepoints(
    wkt: pd.Series, fraction: pd.Series, repeat: pd.Series
) -> pd.Series:
    out = []
    for w, f, r in zip(wkt, fraction, repeat):
        try:
            out.append(
                None
                if _nan(f) or r is None
                else lineinterpolatepoints_wkt(w, f, bool(r))
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(BooleanType())
def st_isvalidtrajectory(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(isvalidtrajectory_of, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_closestpointofapproach(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(closestpointofapproach_of, x, y) for x, y in zip(a, b)],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def st_distancecpa(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(distancecpa_of, x, y) for x, y in zip(a, b)], dtype="float64"
    )


@pandas_udf(BooleanType())
def st_cpawithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    out = []
    for x, y, v in zip(a, b, d):
        try:
            out.append(None if _nan(v) else cpawithin_of(x, y, v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_MEASURE_M_FUNCTIONS = {
    "st_addmeasure": st_addmeasure,
    "st_m": st_m,
    "st_mmin": st_mmin,
    "st_mmax": st_mmax,
    "st_zmflag": st_zmflag,
    "st_force2d": st_force2d,
    "st_interpolatepoint": st_interpolatepoint,
    "st_locatealong": st_locatealong,
    "st_locatebetween": st_locatebetween,
    "st_lineinterpolatepoints": st_lineinterpolatepoints,
    "st_isvalidtrajectory": st_isvalidtrajectory,
    "st_closestpointofapproach": st_closestpointofapproach,
    "st_distancecpa": st_distancecpa,
    "st_cpawithin": st_cpawithin,
}
