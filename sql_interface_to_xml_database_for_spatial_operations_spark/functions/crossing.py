"""ST_LineCrossingDirection (r15): PostGIS's trajectory predicate —
how LINESTRING B crosses LINESTRING A (lwalgorithm.c
``lwline_crossing_direction``; the reference forwards the name
verbatim, src/index.ts:44-63).

Return codes (PostGIS):

- ``0``  — no crossing;
- ``-1`` — one crossing, to A's LEFT;   ``1`` — one, to A's RIGHT;
- ``-2`` — several, net-ending LEFT (left count = right count + 1);
  ``2`` — net-ending RIGHT;
- ``-3`` — several, balanced counts, FIRST crossing was LEFT;
  ``3`` — balanced, first RIGHT.

Semantics here are the topological definition, computed EXACTLY: a
crossing is a maximal contact interval of B on A's linework whose
entry and exit sides differ. All arithmetic is rational (Fractions
over the float inputs) and every side test is the filtered-exact
geometry._orient, so crossings exactly THROUGH an A vertex, B
vertices landing exactly ON A, and collinear ride-along runs are all
decided exactly:

- a contact through the INTERIOR of an A segment sides by that
  segment's orientation;
- a contact at an INTERIOR VERTEX of A sides by the wedge rule over
  the two adjacent segments (convex / reflex / straight turns);
- a collinear run sides by the entry segment before and the exit
  segment after — riding along A and leaving on the same side is no
  crossing, leaving on the other side is one;
- a contact at A's FIRST or LAST vertex is NOT a crossing (B can
  pass around the end of the line — PostGIS's segment-local counting
  may differ on this corner; this engine takes the topological
  answer and documents it);
- B STARTING or ENDING on A contributes no crossing (there is no
  "other side" to come from / go to — matches PostGIS, which
  requires interior crossings);
- non-LINESTRING input, NaN/Inf coordinates, or a side test that
  degenerates (a probe point collinear with a wedge ray) → loud
  NULL, never a guessed code.

Pinned to the published PostGIS doc example pair (±3) and
closed-form single/double-cross fixtures. Map-only pandas UDF; the
pairwise scan carries the linearref-style work budget.
"""

from __future__ import annotations

import math
from fractions import Fraction

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from . import geometry as G

_MAX_PAIR_WORK = 4_000_000  # segment-pair budget (linearref idiom)


def _line_pts(wkt):
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "LineString":
        return None
    pts = []
    for x, y in g.coords:
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        p = (Fraction(x), Fraction(y))
        if not pts or p != pts[-1]:
            pts.append(p)
    return pts if len(pts) >= 2 else None


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _seg_contacts_b(b0, b1, a0, a1):
    """Contact of A-segment [a0,a1] with B-segment [b0,b1] as a list of
    (t_lo, t_hi) Fraction intervals in B's segment parameter."""
    db = (b1[0] - b0[0], b1[1] - b0[1])
    da = (a1[0] - a0[0], a1[1] - a0[1])
    denom = db[0] * da[1] - db[1] * da[0]
    if denom != 0:
        # lines cross at a single point; inside both segments?
        r = (a0[0] - b0[0], a0[1] - b0[1])
        t = (r[0] * da[1] - r[1] * da[0]) / denom
        u = (r[0] * db[1] - r[1] * db[0]) / denom
        if 0 <= t <= 1 and 0 <= u <= 1:
            return [(t, t)]
        return []
    # parallel: collinear?
    if _cross(b0, b1, a0) != 0:
        return []
    bb = db[0] * db[0] + db[1] * db[1]
    ta = ((a0[0] - b0[0]) * db[0] + (a0[1] - b0[1]) * db[1]) / bb
    tb = ((a1[0] - b0[0]) * db[0] + (a1[1] - b0[1]) * db[1]) / bb
    lo, hi = (ta, tb) if ta <= tb else (tb, ta)
    lo = max(lo, Fraction(0))
    hi = min(hi, Fraction(1))
    return [(lo, hi)] if lo <= hi else []


def _b_point(bpts, g: Fraction):
    """B at global parameter g ∈ [0, nseg] (seg index + local t)."""
    nseg = len(bpts) - 1
    if g >= nseg:
        return bpts[-1]
    i = int(g)  # Fraction floor toward 0 (g >= 0)
    t = g - i
    p, q = bpts[i], bpts[i + 1]
    return (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))


def _on_segment(c, a0, a1) -> bool:
    if _cross(a0, a1, c) != 0:
        return False
    d = (a1[0] - a0[0], a1[1] - a0[1])
    dot = (c[0] - a0[0]) * d[0] + (c[1] - a0[1]) * d[1]
    return 0 <= dot <= d[0] * d[0] + d[1] * d[1]


def _sign(v) -> int:
    return 0 if v == 0 else (1 if v > 0 else -1)


def _side_of_a(apts, c, p):
    """Side of A's linework at contact point c, probed from p:
    +1 left / -1 right / 0 degenerate-probe / None not-a-crossing-site
    (A terminus or ambiguous multi-visit)."""
    vertex_ix = [i for i, v in enumerate(apts) if v == c]
    if vertex_ix:
        if len(vertex_ix) > 1:
            return None  # A visits this point twice — ambiguous
        v = vertex_ix[0]
        if v == 0 or v == len(apts) - 1:
            return None  # A terminus: B can pass around the end
        o1 = _sign(_cross(apts[v - 1], apts[v], p))
        o2 = _sign(_cross(apts[v], apts[v + 1], p))
        turn = _sign(_cross(apts[v - 1], apts[v], apts[v + 1]))
        if turn > 0:  # convex-left vertex: LEFT is left of BOTH
            if o1 > 0 and o2 > 0:
                return 1
            if o1 < 0 or o2 < 0:
                return -1
            return 0
        if turn < 0:  # reflex: LEFT is left of EITHER
            if o1 > 0 or o2 > 0:
                return 1
            if o1 < 0 and o2 < 0:
                return -1
            return 0
        return o1 if o1 != 0 else o2  # straight-through vertex
    hits = [
        i
        for i in range(len(apts) - 1)
        if _on_segment(c, apts[i], apts[i + 1])
    ]
    if len(hits) != 1:
        return None  # off A (impossible for contacts) or multi-visit
    i = hits[0]
    return _sign(_cross(apts[i], apts[i + 1], p))


def crossing_direction(a_wkt, b_wkt):
    apts = _line_pts(a_wkt)
    bpts = _line_pts(b_wkt)
    if apts is None or bpts is None:
        return None
    if (len(apts) - 1) * (len(bpts) - 1) > _MAX_PAIR_WORK:
        return None  # loud work budget
    nseg = len(bpts) - 1
    # every contact interval in B's GLOBAL parameter [0, nseg]
    raw = []
    for i in range(nseg):
        b0, b1 = bpts[i], bpts[i + 1]
        for j in range(len(apts) - 1):
            for lo, hi in _seg_contacts_b(b0, b1, apts[j], apts[j + 1]):
                raw.append((i + lo, i + hi))
    if not raw:
        return 0
    raw.sort()
    merged = [list(raw[0])]
    for lo, hi in raw[1:]:
        if lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    end = Fraction(nseg)
    cross_left = cross_right = 0
    first = 0
    for k, (lo, hi) in enumerate(merged):
        if lo == 0 or hi == end:
            continue  # B starts/ends on A — no crossing possible here
        prev_hi = merged[k - 1][1] if k > 0 else Fraction(0)
        next_lo = merged[k + 1][0] if k + 1 < len(merged) else end
        p_before = _b_point(bpts, (prev_hi + lo) / 2)
        p_after = _b_point(bpts, (hi + next_lo) / 2)
        c_in = _b_point(bpts, lo)
        c_out = _b_point(bpts, hi)
        s_in = _side_of_a(apts, c_in, p_before)
        s_out = _side_of_a(apts, c_out, p_after)
        if s_in is None or s_out is None:
            continue  # terminus / multi-visit contact: not a crossing
        if s_in == 0 or s_out == 0:
            return None  # degenerate probe — loud, never a guess
        if s_in == s_out:
            continue  # touch-and-return
        side = s_out  # B ends up on A's left (+1) or right (−1)
        if side > 0:
            cross_left += 1
        else:
            cross_right += 1
        if first == 0:
            first = side
    if cross_left == 0 and cross_right == 0:
        return 0
    if cross_left == 1 and cross_right == 0:
        return -1
    if cross_left == 0 and cross_right == 1:
        return 1
    diff = cross_left - cross_right
    if diff == 1:
        return -2
    if diff == -1:
        return 2
    if diff == 0:
        return -3 if first > 0 else 3
    # |diff| > 1 cannot happen for a continuous path (sides alternate),
    # but a multi-visit skip can unbalance the count — stay loud
    return None


@pandas_udf(IntegerType())
def st_linecrossingdirection(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        try:
            out.append(crossing_direction(x, y))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


ALL_CROSSING_FUNCTIONS = {
    "st_linecrossingdirection": st_linecrossingdirection,
}
