"""ST_Split — cut a geometry by a blade (PostGIS name the reference
forwards verbatim, F12 src/index.ts:44-63).

Supported operand pairs, matching PostGIS:

- LINE split by POINT / MULTIPOINT: the line is cut at every blade
  point lying exactly on it (Fraction-exact on-segment test); blade
  points off the line change nothing.
- LINE split by LINE: cut at every proper crossing and T-contact with
  the blade — computed by the same exact pairwise-split primitive the
  noding/validity kernels share (``noding.pairwise_splits`` with the
  cross-only operand), so the target's OWN self-intersections are NOT
  noded, exactly PostGIS's behavior.
- POLYGON / MULTIPOLYGON split by LINE: polygonize the arrangement of
  the polygon's rings plus the blade (``noding.polygonize_geoms`` —
  exact noding, half-edge face walk, dangle peeling), then keep the
  faces whose interior point lies inside the target. Dangle peeling
  gives the PostGIS semantics for partial cuts free of charge: a blade
  that does not fully cross contributes only dangles, so the polygon
  comes back whole; hole islands are discarded by the interior test.

Anything else (point targets, polygon blades) is a loud NULL, as is an
EMPTY target and a blade with a LINEAR (1-dimensional) intersection —
a blade running along the target — where PostGIS raises 'Splitter line
has linear intersection with input' (engine convention: errors surface
as NULL, never as invented part sets). An EMPTY blade returns the
supported, finite target unchanged. The result
is always a ``GEOMETRYCOLLECTION`` (single-part results included),
parts sorted by WKT — the engine's deterministic collection order.

Output-shape convention (VERDICT r11): a partial blade — one that
touches or enters the polygon without fully crossing — returns the
polygon WHOLE (PostGIS semantics, via dangle peeling) but with the
blade's boundary contact points inserted as extra noded vertices on
the ring. The result is point-set equal to PostGIS's; only the WKT
vertex list differs. The engine's own oracles pin the noded shape.

Scale shape: map-only Arrow-batched pandas UDF; per-row cost is the
noding cost of the row's own vertex count.
"""

from __future__ import annotations

import math
from fractions import Fraction

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry, Point
from .measures import point_on_surface
from .noding import (
    _chains_of,
    _float_chain,
    _frac_chain,
    insert_split_vertices,
    pairwise_splits,
    polygonize_geoms,
    seg_param,
)
from .relations import _on_any_segment, _on_segment


def _collinear_pairs(tsegs, bsegs):
    """Yield (tseg, bseg) pairs that are COLLINEAR — the shared exact
    screen (bbox prescreen before any rational arithmetic) used by both
    the linear-intersection gate and ST_SharedPaths."""

    def box(a, b):
        return (min(a[0], b[0]), min(a[1], b[1]), max(a[0], b[0]), max(a[1], b[1]))

    tb = [box(a, b) for a, b in tsegs]
    bb = [box(a, b) for a, b in bsegs]
    for i, (a1, a2) in enumerate(tsegs):
        if a1 == a2:
            continue
        bi = tb[i]
        d1 = (a2[0] - a1[0], a2[1] - a1[1])
        for j, (b1, b2) in enumerate(bsegs):
            if b1 == b2:
                continue
            bj = bb[j]
            if bi[2] < bj[0] or bj[2] < bi[0] or bi[3] < bj[1] or bj[3] < bi[1]:
                continue
            d2 = (b2[0] - b1[0], b2[1] - b1[1])
            if d1[0] * d2[1] - d1[1] * d2[0] != 0:
                continue  # not parallel
            w = (b1[0] - a1[0], b1[1] - a1[1])
            if d1[0] * w[1] - d1[1] * w[0] != 0:
                continue  # parallel but not collinear
            yield (a1, a2), (b1, b2)


def _linear_overlap(
    tsegs: list[tuple[Point, Point]], bsegs: list[tuple[Point, Point]]
) -> bool:
    """True iff any blade segment runs ALONG a target segment (a
    1-dimensional intersection): collinear with an overlap longer than a
    point. PostGIS raises 'Splitter line has linear intersection with
    input'; the engine convention is loud NULL. Exact over Fractions,
    bbox-prescreened."""
    for (a1, a2), (b1, b2) in _collinear_pairs(tsegs, bsegs):
        # overlap longer than a point? compare intervals on the
        # dominant axis
        d1 = (a2[0] - a1[0], a2[1] - a1[1])
        ax = 0 if abs(d1[0]) >= abs(d1[1]) else 1
        lo1, hi1 = sorted((a1[ax], a2[ax]))
        lo2, hi2 = sorted((b1[ax], b2[ax]))
        if max(lo1, lo2) < min(hi1, hi2):
            return True
    return False


def _cut_chain(chain: list[Point], cuts: set[Point]) -> list[list[Point]]:
    """Cut an (exact) chain at the given vertices (which must already be
    vertices of the chain); endpoints produce no empty pieces."""
    pieces: list[list[Point]] = []
    cur = [chain[0]]
    for p in chain[1:]:
        cur.append(p)
        if p in cuts and p != chain[-1]:
            pieces.append(cur)
            cur = [p]
    if len(cur) >= 2:
        pieces.append(cur)
    return pieces


def _insert_points(chain: list[Point], pts: list[Point]) -> tuple[list[Point], set[Point]]:
    """Insert every blade point lying on the chain as a vertex; returns
    the refined chain and the cut vertices (on-chain blade points)."""
    cuts: set[Point] = set()
    out: list[Point] = [chain[0]]
    for i in range(len(chain) - 1):
        a, b = chain[i], chain[i + 1]
        on_seg = []
        for p in pts:
            if p == a or p == b:
                # blade point on an existing vertex: cut there (a cut at
                # the chain's own endpoints is a no-op in _cut_chain)
                cuts.add(p)
                continue
            if _on_segment(p, a, b):
                on_seg.append((seg_param(p, a, b), p))
        for _t, p in sorted(on_seg):
            if p != out[-1]:
                out.append(p)
                cuts.add(p)
        if b != out[-1]:
            out.append(b)
    return out, cuts


def _blade_points(g: Geometry) -> list[Point] | None:
    if g.kind == "Point":
        return [g.coords]
    if g.kind == "MultiPoint":
        return list(g.coords)
    return None


def _segs_of(chains: list[list[Point]]) -> list[tuple[Point, Point]]:
    return [(c[si], c[si + 1]) for c in chains for si in range(len(c) - 1)]


def split_geoms(target: Geometry, blade: Geometry) -> list[Geometry] | None:
    """The split parts, or None for unsupported operand pairs or a blade
    with a linear (1-dimensional) intersection with the target."""
    tchains = _chains_of(target)
    if tchains is not None:
        tfr = [_frac_chain(c) for c in tchains]
        bpts = _blade_points(blade)
        pieces: list[list[Point]] = []
        if bpts is not None:
            bfr = [(Fraction(x), Fraction(y)) for x, y in bpts]
            for c in tfr:
                refined, cuts = _insert_points(c, bfr)
                pieces.extend(_cut_chain(refined, cuts))
        else:
            bchains = _chains_of(blade)
            if bchains is None:
                return None
            bfrc = [_frac_chain(c) for c in bchains]
            tsegs: list[tuple[Point, Point]] = []
            seg_ix: list[tuple[int, int]] = []
            for ci, c in enumerate(tfr):
                for si in range(len(c) - 1):
                    seg_ix.append((ci, si))
                    tsegs.append((c[si], c[si + 1]))
            bsegs = _segs_of(bfrc)
            if _linear_overlap(tsegs, bsegs):
                return None
            splits = pairwise_splits(tsegs, others=bsegs)
            per_seg = dict(zip(seg_ix, splits))
            bxs = [x for b1, b2 in bsegs for x in (b1[0], b2[0])]
            bys = [y for b1, b2 in bsegs for y in (b1[1], b2[1])]
            bbox = (min(bxs), min(bys), max(bxs), max(bys))
            for ci, c in enumerate(tfr):
                refined = insert_split_vertices(
                    c, lambda si, ci=ci: per_seg.get((ci, si), ())
                )
                cuts: set[Point] = {
                    p for si in range(len(c) - 1) for _t, p in per_seg.get((ci, si), ())
                }
                # the blade passing THROUGH a target vertex (as a blade
                # vertex or mid-segment) also cuts there — the interior
                # split list above only carries mid-segment crossings.
                # Original vertices only (inserted cuts are on the blade
                # by construction), blade-bbox prescreened.
                for v in c[1:-1]:
                    if (
                        bbox[0] <= v[0] <= bbox[2]
                        and bbox[1] <= v[1] <= bbox[3]
                        and _on_any_segment(v, bsegs)
                    ):
                        cuts.add(v)
                pieces.extend(_cut_chain(refined, cuts))
        return [Geometry("LineString", _float_chain(p)) for p in pieces]

    if target.kind in ("Polygon", "MultiPolygon"):
        bchains = _chains_of(blade)
        if bchains is None:
            return None
        ring_chains = [list(r) for rings in G._polys(target) for r in rings]
        rfr = [_frac_chain(c) for c in ring_chains]
        bfrc = [_frac_chain(c) for c in bchains]
        if _linear_overlap(_segs_of(rfr), _segs_of(bfrc)):
            return None
        faces = polygonize_geoms(rfr + bfrc)
        kept = []
        for f in faces:
            p = point_on_surface(f)
            if p is not None and any(
                G._point_in_polygon(p[0], p[1], rings)
                for rings in G._polys(target)
            ):
                kept.append(f)
        return kept
    return None


_TARGET_KINDS = ("LineString", "MultiLineString", "Polygon", "MultiPolygon")


def split_wkt(twkt, bwkt) -> str | None:
    if twkt is None or bwkt is None:
        return None
    ts, bs = str(twkt).strip(), str(bwkt).strip()
    if _ov._EMPTY_RE.match(ts.upper()):
        return None  # splitting nothing: loud NULL (no parts to return)
    target = G.parse_wkt(ts)
    # the target gates (supported kind, finite coordinates) apply before
    # the empty-blade echo — a point target or inf/nan vertex is a loud
    # NULL for EVERY blade (code-review r11)
    if target is None or target.kind not in _TARGET_KINDS:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for x, y in G._points(target)
    ):
        return None
    if _ov._EMPTY_RE.match(bs.upper()):
        return G.to_wkt(Geometry("GeometryCollection", [target]))
    blade = G.parse_wkt(bs)
    if blade is None:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for x, y in G._points(blade)
    ):
        return None
    parts = split_geoms(target, blade)
    if parts is None:
        return None
    parts = sorted(parts, key=G.to_wkt)
    if not parts:
        return "GEOMETRYCOLLECTION EMPTY"
    return G.to_wkt(Geometry("GeometryCollection", parts))


# ---------------------------------------------------------------------------
# ST_SharedPaths — the linework two inputs run along together
# ---------------------------------------------------------------------------


def _overlap_interval(a1, a2, b1, b2):
    """Exact overlap of two COLLINEAR segments as a parameter interval
    (t0, t1, same_dir) in the FIRST segment's a1→a2 space (PostGIS
    orients shared paths by the first input), or None when they share
    at most a point."""
    t0 = seg_param(b1, a1, a2)
    t1 = seg_param(b2, a1, a2)
    same = t1 > t0
    lo, hi = (t0, t1) if t0 < t1 else (t1, t0)
    lo = max(lo, Fraction(0))
    hi = min(hi, Fraction(1))
    if lo >= hi:
        return None
    return lo, hi, same


def _merge_intervals(ivals: list) -> list:
    """Union of (lo, hi) intervals (exact), sorted."""
    out = []
    for lo, hi in sorted(ivals):
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def _subtract_intervals(ivals: list, minus: list) -> list:
    """``ivals \\ minus`` for MERGED, sorted (lo, hi) interval lists
    (exact Fractions). Used to keep a span traversed by the second
    input in BOTH directions out of the opposite bucket (ADVICE r11:
    double-reporting)."""
    out = []
    for lo, hi in ivals:
        cur = lo
        for mlo, mhi in minus:
            if mhi <= cur or mlo >= hi:
                continue
            if mlo > cur:
                out.append((cur, mlo))
            cur = max(cur, mhi)
            if cur >= hi:
                break
        if cur < hi:
            out.append((cur, hi))
    return out


def _merge_chains(segs: list) -> list[list[Point]]:
    """Stitch directed segments into maximal chains, merging only
    PASS-THROUGH vertices (in-degree = out-degree = 1): fork and
    convergence points break chains (every branch kept exactly once),
    and a pure cycle is emitted once as a closed ring starting at its
    smallest vertex — the r11 review's lollipop/fork/ring/convergence
    cases. Each edge is consumed exactly once, so no input can hang the
    walk. Output chains sorted for determinism."""
    edges = sorted(set(segs))
    out_e: dict[Point, list[Point]] = {}
    in_deg: dict[Point, int] = {}
    for p, q in edges:
        out_e.setdefault(p, []).append(q)
        in_deg[q] = in_deg.get(q, 0) + 1
    for outs in out_e.values():
        outs.sort()

    def passthrough(v: Point) -> bool:
        return in_deg.get(v, 0) == 1 and len(out_e.get(v, ())) == 1

    visited: set[tuple[Point, Point]] = set()
    chains: list[list[Point]] = []
    for p, q in edges:
        if (p, q) in visited or passthrough(p):
            continue
        visited.add((p, q))
        chain = [p, q]
        while passthrough(chain[-1]):
            nxt = out_e[chain[-1]][0]
            if (chain[-1], nxt) in visited:
                break
            visited.add((chain[-1], nxt))
            chain.append(nxt)
        chains.append(chain)
    # leftovers are pure cycles (every vertex pass-through): walk each
    # once, rotated to start at its smallest vertex
    for p, q in edges:
        if (p, q) in visited:
            continue
        visited.add((p, q))
        cyc = [p, q]
        while cyc[-1] != p:
            nxt = out_e[cyc[-1]][0]
            visited.add((cyc[-1], nxt))
            cyc.append(nxt)
        body = cyc[:-1]
        i = body.index(min(body))
        chains.append(body[i:] + body[:i] + [body[i]])
    return sorted(chains)


def shared_paths_wkt(awkt, bwkt) -> str | None:
    """``GEOMETRYCOLLECTION (MULTILINESTRING <same-direction>,
    MULTILINESTRING <opposite-direction>)`` — the PostGIS ST_SharedPaths
    shape, pieces oriented and positioned by the FIRST input. Lineal
    operands only; a bucket with no shared linework renders as
    MULTILINESTRING EMPTY.

    Convention (documented per ADVICE r11): a span the second input
    traverses in BOTH directions is reported ONCE, in the
    same-direction bucket — shared linework is a point set, never
    double-covered across buckets. (GEOS classifies such a span by
    whichever of B's traversals its segment search finds first —
    implementation-defined; we pin the deterministic choice.)"""
    if awkt is None or bwkt is None:
        return None
    a_s, b_s = str(awkt).strip(), str(bwkt).strip()
    ga = None if _ov._EMPTY_RE.match(a_s.upper()) else G.parse_wkt(a_s)
    gb = None if _ov._EMPTY_RE.match(b_s.upper()) else G.parse_wkt(b_s)
    if ga is None or gb is None:
        return None
    ca, cb = _chains_of(ga), _chains_of(gb)
    if ca is None or cb is None:
        return None
    pts = G._points(ga) + G._points(gb)
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        return None
    asegs = _segs_of([_frac_chain(c) for c in ca])
    bsegs = _segs_of([_frac_chain(c) for c in cb])
    coll: dict[tuple, list] = {}
    for aseg, bseg in _collinear_pairs(asegs, bsegs):
        coll.setdefault(aseg, []).append(bseg)
    same_segs, opp_segs = [], []
    for (a1, a2), partners in coll.items():
        d1 = (a2[0] - a1[0], a2[1] - a1[1])
        same_iv, opp_iv = [], []
        for b1, b2 in partners:
            got = _overlap_interval(a1, a2, b1, b2)
            if got is None:
                continue
            lo, hi, same = got
            (same_iv if same else opp_iv).append((lo, hi))
        # union the per-bucket intervals so overlapping second-input
        # segments never double-cover the shared path; a span covered
        # in BOTH directions goes to the same bucket only (docstring
        # convention, ADVICE r11)
        same_m = _merge_intervals(same_iv)
        opp_m = _subtract_intervals(_merge_intervals(opp_iv), same_m)
        for ivals, segs_out in ((same_m, same_segs), (opp_m, opp_segs)):
            for lo, hi in ivals:
                p = (a1[0] + lo * d1[0], a1[1] + lo * d1[1])
                q = (a1[0] + hi * d1[0], a1[1] + hi * d1[1])
                segs_out.append((p, q))

    def mls(segs) -> str:
        chains = _merge_chains(segs)
        if not chains:
            return "MULTILINESTRING EMPTY"
        return G.to_wkt(
            Geometry("MultiLineString", [_float_chain(c) for c in chains])
        )

    return f"GEOMETRYCOLLECTION ({mls(same_segs)}, {mls(opp_segs)})"


@pandas_udf(StringType())
def st_sharedpaths(awkt: pd.Series, bwkt: pd.Series) -> pd.Series:
    out = []
    for a, b in zip(awkt, bwkt):
        try:
            out.append(shared_paths_wkt(a, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_split(twkt: pd.Series, bwkt: pd.Series) -> pd.Series:
    out = []
    for t, b in zip(twkt, bwkt):
        try:
            out.append(split_wkt(t, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_SPLIT_FUNCTIONS = {
    "st_split": st_split,
    "st_sharedpaths": st_sharedpaths,
}
