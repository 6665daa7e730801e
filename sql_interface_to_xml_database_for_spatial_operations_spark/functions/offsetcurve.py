"""ST_OffsetCurve (F12 remainder, r14 continuation): the parallel
curve of a LINESTRING at a signed distance — positive offsets to the
LEFT of the line's direction, negative to the RIGHT, output direction
matching the input (the GEOS >= 3.11 convention PostGIS documents).

The reference forwards PostGIS names verbatim (src/index.ts:44-63);
``ST_OffsetCurve(line, d, 'quad_segs=… join=round|mitre|bevel
mitre_limit=…')`` is the standard lane/setback construction.

Construction (per vertex, exact where the fixtures are exact):

- every segment contributes its parallel segment at distance |d| on
  the offset side;
- at an interior vertex turning TOWARD the offset side (the concave
  side), the adjacent parallel segments are trimmed to their
  intersection — an exact rational point on integer fixtures;
- at a vertex turning AWAY (the convex side) the gap is closed by the
  join: ``round`` inserts arc points at the buffer machinery's
  quad_segs resolution, ``mitre`` extends both parallels to their
  intersection (falling back to bevel past ``mitre_limit``·|d|, the
  GEOS limited-mitre rule), ``bevel`` connects them straight;
- an exact 180° reversal vertex wraps a half-circle around the line
  end for ``round``; with a non-round join the reversal has no finite
  local construction (the parallels never meet) — loud NULL.

Contract (documented, loud): the construction is LOCAL. When the
offset distance exceeds a local feature size the true offset curve
self-intersects and GEOS would node and re-extract it; this kernel
detects any proper self-intersection of the constructed chain AND any
contact between the chain and the input (a valid offset stays |d|
away from its source) and returns NULL instead of a silently-wrong
curve. Style text accepts
ONLY quad_segs / join / mitre_limit (PostGIS's documented set for this
function — endcap/side are buffer-only and are rejected loudly).

Scale shape: a map-only Arrow-batched pandas UDF; the self-intersection
and input-contact checks run over an x-sorted sweep that only examines
x-overlapping segment pairs (near-linear on real chains), with a
candidate budget for the adversarial all-overlapping case (the
minimum-clearance / nearest-pair gate idiom, VERDICT r13 item 7) —
over budget is a loud NULL, never a multi-hour task.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .buffer import _JOIN_ALIAS, _MAX_QUAD_SEGS, DEFAULT_MITRE_LIMIT, _unit
from .geometry import Geometry

# Work bounds (code-review r14, third pass — restoring the capacity
# the second pass cut): the honesty checks below run over an
# x-sorted SWEEP that only examines x-overlapping segment pairs, so
# typical offset chains (locally-extended segments) cost near-linear
# candidate counts and the generous budgets are usable again. The
# pair budget bounds the ADVERSARIAL case (every segment x-straddles
# every other): hitting it is a loud NULL, never a stalled task.
_MAX_VERTICES = 4096  # input vertex budget (loud NULL)
_MAX_OUT_POINTS = 16384  # arc fan-out budget (loud NULL)
_MAX_PAIR_EVALS = 4_000_000  # sweep candidate budget (loud NULL)


class _OverBudget(Exception):
    pass


def _sweep_pairs(tagged_segs, budget):
    """Candidate (i, j) index pairs among x-sorted segments whose x
    extents overlap — the classic plane-sweep prefilter. tagged_segs:
    [(xmin, xmax, ymin, ymax, tag, idx)]. Raises _OverBudget past the
    evaluation budget (adversarial all-overlapping inputs)."""
    order = sorted(range(len(tagged_segs)), key=lambda k: tagged_segs[k][0])
    n = len(order)
    evals = 0
    for a in range(n):
        sa = tagged_segs[order[a]]
        for bidx in range(a + 1, n):
            sb = tagged_segs[order[bidx]]
            if sb[0] > sa[1]:
                break  # sorted by xmin: nothing further overlaps sa
            evals += 1
            if evals > budget:
                raise _OverBudget
            if sb[3] < sa[2] or sb[2] > sa[3]:
                continue  # y extents disjoint
            yield tagged_segs[order[a]], sb


def _orient2(a, b, p) -> float:
    return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])


def parse_offset_style(text) -> dict | None:
    """quad_segs / join / mitre_limit only; anything else → None.
    A NULL style means "no parameters" — the defaults, exactly like
    the empty string (ADVICE r14: PostGIS's optional third argument;
    an explicit NULL must not poison the row)."""
    out = {
        "quad_segs": 8,
        "join": "round",
        "mitre_limit": DEFAULT_MITRE_LIMIT,
    }
    if text is None:
        return out
    for tok in str(text).split():
        if "=" not in tok:
            return None
        key, _, val = tok.partition("=")
        key = key.strip().lower()
        val = val.strip().lower()
        if key in ("quad_segs", "quadsegs"):
            try:
                out["quad_segs"] = int(val)
            except ValueError:
                return None
            if not 1 <= out["quad_segs"] <= _MAX_QUAD_SEGS:
                return None
        elif key == "join":
            if val not in _JOIN_ALIAS:
                return None
            out["join"] = _JOIN_ALIAS[val]
        elif key in ("mitre_limit", "miter_limit"):
            try:
                out["mitre_limit"] = float(val)
            except ValueError:
                return None
            if not math.isfinite(out["mitre_limit"]) or out["mitre_limit"] <= 0:
                return None
        else:
            return None  # endcap/side are ST_Buffer-only
    return out


def _line_intersection(p, u, q, v):
    """Intersection of lines p + t·u and q + s·v (u, v unit, not
    parallel): solve p + t·u = q + s·v for t via the 2×2 cross form."""
    den = u[0] * v[1] - u[1] * v[0]
    if den == 0.0:
        return None
    t = ((q[0] - p[0]) * v[1] - (q[1] - p[1]) * v[0]) / den
    return (p[0] + t * u[0], p[1] + t * u[1])


def _arc_points(v, r, a1, delta, quad_segs):
    """Interior arc points (endpoints excluded) from angle a1 sweeping
    delta around v at radius r, quad_segs segments per quarter turn."""
    m = max(1, math.ceil(abs(delta) / (math.pi / 2.0 / quad_segs)))
    return [
        (v[0] + r * math.cos(a1 + delta * k / m), v[1] + r * math.sin(a1 + delta * k / m))
        for k in range(1, m)
    ]


def _dedup(pts):
    out = []
    for p in pts:
        if not out or p != out[-1]:
            out.append(p)
    return out


def _tag_segs(pts, tag):
    out = []
    for i in range(len(pts) - 1):
        a, b = pts[i], pts[i + 1]
        out.append((
            min(a[0], b[0]), max(a[0], b[0]),
            min(a[1], b[1]), max(a[1], b[1]),
            tag, i, a, b,
        ))
    return out


def _contact_violation(out_pts, in_pts) -> bool:
    """True when the constructed chain crosses/folds onto ITSELF
    (non-adjacent segments touching) or touches the INPUT chain at
    all — both mean the local construction left its contract. Sweep-
    pruned; raises _OverBudget on adversarial all-overlapping input."""
    n_out = len(out_pts) - 1
    closed = out_pts[0] == out_pts[-1]
    segs = _tag_segs(out_pts, 0) + _tag_segs(in_pts, 1)
    for sa, sb in _sweep_pairs(segs, _MAX_PAIR_EVALS):
        if sa[4] == sb[4] == 1:
            continue  # input×input is not this check's business
        if sa[4] == sb[4] == 0:
            i, j = sa[5], sb[5]
            if abs(i - j) == 1:
                continue  # adjacent chain segments share a vertex
            if closed and {i, j} == {0, n_out - 1}:
                continue  # a closed chain's first/last share a vertex
        if _segments_touch(sa[6], sa[7], sb[6], sb[7]):
            return True
    return False


def _segments_touch(a, b, c, d) -> bool:
    """Segments (a,b) and (c,d) intersect, endpoints included (the
    classic orientation + on-segment test)."""
    orient = _orient2

    def on_seg(p, q, r):
        return (min(p[0], q[0]) <= r[0] <= max(p[0], q[0])
                and min(p[1], q[1]) <= r[1] <= max(p[1], q[1]))

    o1, o2 = orient(a, b, c), orient(a, b, d)
    o3, o4 = orient(c, d, a), orient(c, d, b)
    if ((o1 > 0) != (o2 > 0) and (o3 > 0) != (o4 > 0)
            and 0 not in (o1, o2, o3, o4)):
        return True
    return ((o1 == 0 and on_seg(a, b, c)) or (o2 == 0 and on_seg(a, b, d))
            or (o3 == 0 and on_seg(c, d, a)) or (o4 == 0 and on_seg(c, d, b)))


def offset_chain(pts, dist, quad_segs, join, limit):
    """The offset polyline of a deduped open chain (≥ 2 vertices)."""
    units = []
    for a, b in zip(pts, pts[1:]):
        u = _unit(a, b)
        if u is None:
            return None
        units.append(u)
    side = 1.0 if dist > 0 else -1.0
    r = abs(dist)
    # per-segment offset endpoints: p + dist·left_normal
    offs = []
    for (a, b), u in zip(zip(pts, pts[1:]), units):
        nx, ny = -u[1] * dist, u[0] * dist
        offs.append(((a[0] + nx, a[1] + ny), (b[0] + nx, b[1] + ny)))
    out = [offs[0][0]]
    for i in range(len(units) - 1):
        v = pts[i + 1]
        u1, u2 = units[i], units[i + 1]
        cross = u1[0] * u2[1] - u1[1] * u2[0]
        dot = u1[0] * u2[0] + u1[1] * u2[1]
        b_end, a_next = offs[i][1], offs[i + 1][0]
        if cross == 0.0 and dot > 0.0:
            out.append(b_end)  # collinear: endpoints coincide
            continue
        if cross == 0.0:
            # exact reversal: round wraps the forward half-circle; the
            # non-round joins have no finite construction (the
            # parallels never meet and a straight connect would pass
            # through the input vertex) — loud NULL
            if join != "round":
                return None
            a1 = math.atan2(b_end[1] - v[1], b_end[0] - v[0])
            out.append(b_end)
            out.extend(_arc_points(v, r, a1, -side * math.pi, quad_segs))
            out.append(a_next)
            if len(out) > _MAX_OUT_POINTS:
                return None
            continue
        toward = cross * dist > 0.0  # turning toward the offset side
        if toward:
            x = _line_intersection(offs[i][0], u1, offs[i + 1][0], u2)
            if x is None:
                return None
            out.append(x)  # trim both parallels to the intersection
            continue
        if join == "bevel":
            out.append(b_end)
            out.append(a_next)
            continue
        if join == "mitre":
            x = _line_intersection(offs[i][0], u1, offs[i + 1][0], u2)
            if x is not None and math.hypot(x[0] - v[0], x[1] - v[1]) <= limit * r:
                out.append(x)
            else:
                out.append(b_end)  # GEOS limited mitre → bevel
                out.append(a_next)
            continue
        # round join: arc from the incoming parallel to the outgoing one,
        # sweeping the exact turn angle
        delta = math.atan2(cross, dot)
        a1 = math.atan2(b_end[1] - v[1], b_end[0] - v[0])
        out.append(b_end)
        out.extend(_arc_points(v, r, a1, delta, quad_segs))
        out.append(a_next)
        if len(out) > _MAX_OUT_POINTS:
            return None
    out.append(offs[-1][1])
    out = _dedup(out)
    if len(out) < 2 or len(out) > _MAX_OUT_POINTS:
        return None
    return out


def offsetcurve_wkt(wkt, dist, style) -> str | None:
    if wkt is None or dist is None:
        return None
    try:
        d = float(dist)
    except (TypeError, ValueError):
        return None
    if not math.isfinite(d):
        return None
    st = parse_offset_style(style)
    if st is None:
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return s if m.group(1) == "LINESTRING" else None
    g = G.parse_wkt(s)
    if g is None or g.kind != "LineString":
        return None  # PostGIS: ST_OffsetCurve takes linestrings only
    pts = _dedup(list(g.coords))
    if len(pts) < 2 or len(pts) > _MAX_VERTICES:
        return None
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        return None
    if d == 0.0:
        return G.to_wkt(Geometry("LineString", tuple(pts)))
    out = offset_chain(pts, d, st["quad_segs"], st["join"], st["mitre_limit"])
    if out is None:
        return None
    try:
        if _contact_violation(out, pts):
            return None  # outside the local-construction contract — loud
    except _OverBudget:
        return None  # adversarial candidate blow-up — loud, not a stall
    return G.to_wkt(Geometry("LineString", tuple(out)))


@pandas_udf(StringType())
def st_offsetcurve(wkt: pd.Series, dist: pd.Series) -> pd.Series:
    """PostGIS's common 2-arg call shape (ADVICE r14): default style
    (quad_segs=8, join=round) — the st_buffer/st_bufferstyle split."""
    out = []
    for w, d in zip(wkt, dist):
        try:
            if d is None or (isinstance(d, float) and math.isnan(d)):
                out.append(None)
            else:
                out.append(offsetcurve_wkt(w, d, None))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_offsetcurvestyle(
    wkt: pd.Series, dist: pd.Series, style: pd.Series
) -> pd.Series:
    out = []
    for w, d, s in zip(wkt, dist, style):
        try:
            if d is None or (isinstance(d, float) and math.isnan(d)):
                out.append(None)
            else:
                out.append(offsetcurve_wkt(w, d, s))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_OFFSET_FUNCTIONS = {
    "st_offsetcurve": st_offsetcurve,
    "st_offsetcurvestyle": st_offsetcurvestyle,
}
