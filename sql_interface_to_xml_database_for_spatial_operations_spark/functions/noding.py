"""ST_Node and ST_Polygonize — linework topology (reference F12:
src/index.ts:44-63 forwards both names to PostGIS; they are the
standard tools for turning messy line soups into clean topology, the
step BEFORE the validity/overlay machinery this engine already has).

ST_Node(lineal): fully node the linework — insert a vertex at every
proper crossing and T-contact (exact rational arithmetic, the same
primitives as validity's ring noding), cut every chain at every node
(chain endpoints, points where chains meet, self-intersections), and
drop duplicate pieces. Output is a canonical-ordered MULTILINESTRING
(or the single LINESTRING): GEOS's piece ORDER is an implementation
detail, so pieces sort by their serialized form to keep results
deterministic and oracle-stringable.

ST_Polygonize(lineal): faces of the fully-noded arrangement via the
standard half-edge walk — dangling edges are stripped (iterated
degree-1 peel), cut edges (bridges whose both half-edges land in one
face walk) are removed and the walk re-runs, outgoing edges sort by
EXACT angle comparator (quadrant + cross sign, no atan2), each face is
traced with the interior on the left, positive-signed rings become
shells and negative rings attach as holes to the smallest
strictly-containing shell (nested-square linework yields the
ring-with-hole plus the island, as JTS's Polygonizer does). Output is
a GEOMETRYCOLLECTION of polygons in canonical order; empty when the
linework bounds no face.

Both accept LINESTRING / MULTILINESTRING / GEOMETRYCOLLECTION of
those; other kinds and non-finite coordinates return NULL, never a
guess.

Scale shape: map-only Arrow-batched pandas UDFs; per-row cost is
quadratic in the row's own segment count (bbox-prescreened), a
property of the row, not the table.
"""

from __future__ import annotations

import math
from fractions import Fraction
from functools import cmp_to_key

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry, Point


def _chains_of(g: Geometry) -> list[list[Point]] | None:
    if g.kind == "LineString":
        return [list(g.coords)]
    if g.kind == "MultiLineString":
        return [list(c) for c in g.coords]
    if g.kind == "GeometryCollection":
        out: list[list[Point]] = []
        for sub in g.coords:
            c = _chains_of(sub)
            if c is None:
                return None
            out.extend(c)
        return out
    return None


def _frac_chain(c: list[Point]) -> list[Point]:
    return [(Fraction(x), Fraction(y)) for x, y in c]


def pairwise_splits(
    segs: list[tuple[Point, Point]],
    others: list[tuple[Point, Point]] | None = None,
) -> list[list[tuple]]:
    """For each segment, the sorted (param, point) INTERIOR split points
    induced by every other segment: proper crossings solved exactly in
    Fractions, plus endpoints lying on another segment's interior
    (T-contacts — which also covers collinear fold-backs, whose overlap
    endpoints are vertices of one of the two segments). This is the
    shared exact-splitting primitive: validity's ring noding delegates
    here (code-review r11 — the first copy drifted and reintroduced the
    fold-back bug its original had fixed). Segment-pair work is
    bbox-prescreened before any rational arithmetic.

    With ``others``, splits on ``segs`` are induced ONLY by the second
    list (cross-splitting, no self-noding) — the ST_Split(line, line)
    semantics, where the target's own self-intersections must survive.
    """
    from .relations import _on_segment

    n = len(segs)
    splits: list[set] = [set() for _ in range(n)]

    def boxes_of(ss):
        return [
            (min(a[0], b[0]), min(a[1], b[1]), max(a[0], b[0]), max(a[1], b[1]))
            for a, b in ss
        ]

    boxes = boxes_of(segs)
    cross_only = others is not None
    second = segs if others is None else others
    sboxes = boxes if others is None else boxes_of(others)

    def add(k: int, p: Point) -> None:
        a, b = segs[k]
        if p != a and p != b and _on_segment(p, a, b):
            splits[k].add((seg_param(p, a, b), p))

    for i in range(n):
        a1, a2 = segs[i]
        bi = boxes[i]
        for j in range(len(second)) if cross_only else range(i + 1, n):
            bj = sboxes[j]
            if bi[2] < bj[0] or bj[2] < bi[0] or bi[3] < bj[1] or bj[3] < bi[1]:
                continue
            b1, b2 = second[j]
            d1 = (a2[0] - a1[0], a2[1] - a1[1])
            d2 = (b2[0] - b1[0], b2[1] - b1[1])
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if den != 0:
                w = (b1[0] - a1[0], b1[1] - a1[1])
                t = (w[0] * d2[1] - w[1] * d2[0]) / den
                u = (w[0] * d1[1] - w[1] * d1[0]) / den
                if 0 <= t <= 1 and 0 <= u <= 1:
                    p = (a1[0] + t * d1[0], a1[1] + t * d1[1])
                    add(i, p)
                    if not cross_only:
                        add(j, p)
            for p in (b1, b2):
                add(i, p)
            if not cross_only:
                for p in (a1, a2):
                    add(j, p)
    return [sorted(s) for s in splits]


def seg_param(p: Point, a: Point, b: Point):
    """Parameter of on-segment point p along a→b (exact under Fractions)
    — the shared formula pairwise_splits and st_split sort cuts by."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    return (p[0] - a[0]) / dx if dx != 0 else (p[1] - a[1]) / dy


def insert_split_vertices(
    chain: list[Point], splits_for
) -> list[Point]:
    """Rebuild a chain with each segment's sorted (param, point) splits
    inserted as vertices (duplicates collapsed) — the shared rebuild
    idiom of _noded_chains and st_split (one copy, per the r11
    pairwise_splits lesson)."""
    out = [chain[0]]
    for si in range(len(chain) - 1):
        for _t, p in splits_for(si):
            if p != out[-1]:
                out.append(p)
        if chain[si + 1] != out[-1]:
            out.append(chain[si + 1])
    return out


def signed_area2(ring: list[Point]):
    """Twice the signed shoelace area (exact under Fractions) — the
    shared primitive validity.py aliases."""
    s = 0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += x1 * y2 - x2 * y1
    return s


def _noded_chains(chains: list[list[Point]]) -> list[list[Point]]:
    """Insert every pairwise split vertex into every chain (exact), then
    cut chains at nodes and drop duplicate pieces. Returns 2-point-or-
    longer pieces whose interiors meet nothing."""
    # dedup consecutive vertices; drop degenerate chains
    cleaned = []
    for c in chains:
        d = [c[0]]
        for p in c[1:]:
            if p != d[-1]:
                d.append(p)
        if len(d) >= 2:
            cleaned.append(d)
    chains = cleaned
    seg_ix: list[tuple[int, int]] = []  # chain, idx
    segs: list[tuple[Point, Point]] = []
    for ci, c in enumerate(chains):
        for si in range(len(c) - 1):
            seg_ix.append((ci, si))
            segs.append((c[si], c[si + 1]))
    all_splits = pairwise_splits(segs)
    splits: dict[tuple[int, int], list] = {
        key: sp for key, sp in zip(seg_ix, all_splits) if sp
    }

    # rebuild chains with split vertices inserted
    noded: list[list[Point]] = [
        insert_split_vertices(c, lambda si, ci=ci: splits.get((ci, si), ()))
        for ci, c in enumerate(chains)
    ]

    # nodes: chain endpoints, any point incident to >2 segments or to
    # segments of ≥2 chains, and any split vertex
    incid: dict[Point, set[tuple[int, int]]] = {}
    for ci, c in enumerate(noded):
        for si in range(len(c) - 1):
            for p in (c[si], c[si + 1]):
                incid.setdefault(p, set()).add((ci, si))
    nodes: set[Point] = set()
    for ci, c in enumerate(noded):
        nodes.add(c[0])
        nodes.add(c[-1])
        for p in c[1:-1]:
            inc = incid[p]
            if len(inc) > 2 or len({cc for cc, _ in inc}) > 1:
                nodes.add(p)
    for pts in splits.values():
        for _t, p in pts:
            nodes.add(p)

    # cut at nodes AND drop duplicate undirected EDGES (GEOS dedups
    # repeated linework at the edge level — piece-level dedup alone let
    # a collinear fold-back emit a spur piece that double-covered its
    # edge, breaking length conservation; code-review r11)
    pieces: dict[tuple, list[Point]] = {}
    seen_edges: set[tuple[Point, Point]] = set()

    def emit(piece: list[Point]) -> None:
        if len(piece) >= 2:
            key = tuple(min(tuple(piece), tuple(reversed(piece))))
            pieces[key] = piece

    for c in noded:
        cur = [c[0]]
        for k in range(1, len(c)):
            e = (c[k - 1], c[k])
            ue = e if e <= (e[1], e[0]) else (e[1], e[0])
            if ue in seen_edges:
                emit(cur)
                cur = [c[k]]
                continue
            seen_edges.add(ue)
            cur.append(c[k])
            if c[k] in nodes and k < len(c) - 1:
                emit(cur)
                cur = [c[k]]
        emit(cur)
    return list(pieces.values())


def _float_chain(c: list[Point]) -> list[Point]:
    return [(float(x), float(y)) for x, y in c]


def node_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        # lineal-only surface even for EMPTY: POINT EMPTY / POLYGON
        # EMPTY stay loud NULL like their non-empty kinds
        # (code-review r11)
        if m.group(1) in ("LINESTRING", "MULTILINESTRING", "GEOMETRYCOLLECTION"):
            return "GEOMETRYCOLLECTION EMPTY"
        return None
    g = G.parse_wkt(s)
    if g is None:
        return None
    chains = _chains_of(g)
    if chains is None:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for c in chains for x, y in c
    ):
        return None
    pieces = [_float_chain(p) for p in _noded_chains([_frac_chain(c) for c in chains])]
    if not pieces:
        return "GEOMETRYCOLLECTION EMPTY"
    geoms = sorted(
        (Geometry("LineString", p) for p in pieces), key=G.to_wkt
    )
    if len(geoms) == 1:
        return G.to_wkt(geoms[0])
    return G.to_wkt(Geometry("MultiLineString", [g2.coords for g2 in geoms]))


# ---------------------------------------------------------------------------
# polygonize
# ---------------------------------------------------------------------------


def _angle_cmp(d1: Point, d2: Point) -> int:
    """Exact CCW angle comparator for direction vectors (quadrant +
    cross sign; no transcendentals)."""

    def half(d: Point) -> int:
        return 0 if (d[1] > 0 or (d[1] == 0 and d[0] > 0)) else 1

    h1, h2 = half(d1), half(d2)
    if h1 != h2:
        return -1 if h1 < h2 else 1
    cr = d1[0] * d2[1] - d1[1] * d2[0]
    return 0 if cr == 0 else (-1 if cr > 0 else 1)


_ring_area2 = signed_area2


def polygonize_geoms(chains: list[list[Point]]) -> list[Geometry]:
    """Faces of the noded arrangement as Polygon geometries (shells with
    holes attached). Fraction-exact throughout; float only at output."""
    return [
        Geometry(
            "Polygon", [[(float(x), float(y)) for x, y in r] for r in rings_]
        )
        for rings_ in faces_frac(chains)
    ]


def faces_frac(chains: list[list[Point]]) -> list[list[list[Point]]]:
    """Faces of the noded arrangement as FRACTION ring lists
    ``[shell, *holes]`` — shell walked interior-left (CCW, positive
    signed area), holes as walked (CW). The exact-coordinate core of
    ``polygonize_geoms``, exposed for the dissolve kernel
    (functions/dissolve.py), which must match face edges exactly to
    cancel interior seams."""
    pieces = _noded_chains(chains)
    # edge set: consecutive vertex pairs of every piece
    edges: set[tuple[Point, Point]] = set()
    for p in pieces:
        for a, b in zip(p, p[1:]):
            if a != b:
                edges.add((a, b) if (a, b) <= (b, a) else (b, a))

    while True:
        # iterated dangle peel: drop edges with a degree-1 endpoint
        while True:
            deg: dict[Point, int] = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {e for e in edges if deg[e[0]] == 1 or deg[e[1]] == 1}
            if not drop:
                break
            edges -= drop
        if not edges:
            return []

        # half-edge structure with exact angular order per vertex
        out_edges: dict[Point, list[Point]] = {}
        for a, b in edges:
            out_edges.setdefault(a, []).append(b)
            out_edges.setdefault(b, []).append(a)
        for v, outs in out_edges.items():
            outs.sort(
                key=cmp_to_key(
                    lambda p, q, v=v: _angle_cmp(
                        (p[0] - v[0], p[1] - v[1]), (q[0] - v[0], q[1] - v[1])
                    )
                )
            )
        visited: set[tuple[Point, Point]] = set()
        rings: list[list[Point]] = []
        cut_edges: set[tuple[Point, Point]] = set()
        for a, b in edges:
            for he in ((a, b), (b, a)):
                if he in visited:
                    continue
                ring = [he[0]]
                cur = he
                seen_dirs: set[tuple[Point, Point]] = set()
                while True:
                    visited.add(cur)
                    seen_dirs.add(cur)
                    u, v = cur
                    ring.append(v)
                    outs = out_edges[v]
                    i = outs.index(u)  # the reverse direction
                    nxt = outs[(i - 1) % len(outs)]  # CW-neighbor of rev
                    cur = (v, nxt)
                    if cur == he:
                        break
                # an edge walked in BOTH directions inside one face is a
                # cut edge (bridge): remove and re-walk the arrangement
                both = {
                    (x, y)
                    for (x, y) in seen_dirs
                    if (y, x) in seen_dirs
                }
                if both:
                    cut_edges |= {
                        (x, y) if (x, y) <= (y, x) else (y, x) for x, y in both
                    }
                else:
                    rings.append(ring)
        if cut_edges:
            edges -= cut_edges
            continue
        break

    return assemble_shells_and_holes(rings)


def assemble_shells_and_holes(
    rings: list[list[Point]], *, strict: bool = False
) -> list[list[list[Point]]]:
    """Split walked rings by signed area (positive = shell, negative =
    hole) and attach each hole to the smallest shell strictly
    containing it (equal point sets are the same boundary seen from the
    other side). Shared by the polygonize face assembly and the union
    dissolve (code-review r12: one copy of the attachment invariants).
    ``strict=True`` raises on an unattachable hole (the dissolve's
    exact-or-NULL contract); the default drops it (polygonize's
    unbounded-ring case)."""
    areas = [(r, _ring_area2(r)) for r in rings]
    shells = [(r, a) for r, a in areas if a > 0]
    holes = [(r, -a) for r, a in areas if a < 0]
    polys: list[list[list[Point]]] = [[r] for r, _a in shells]
    for hr, ha in holes:
        best = None
        hset = set(hr)
        probe = Geometry("Polygon", [[(float(x), float(y)) for x, y in hr]])
        for i, (sr, sa) in enumerate(shells):
            if set(sr) == hset:
                continue
            if sa > ha and G.within(
                probe,
                Geometry("Polygon", [[(float(x), float(y)) for x, y in sr]]),
            ):
                if best is None or sa < shells[best][1]:
                    best = i
        if best is not None:
            polys[best].append(hr)
        elif strict:
            raise _ov._Unsupported("unattachable hole ring")
    return polys


def polygonize_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        # lineal-only surface even for EMPTY: POINT EMPTY / POLYGON
        # EMPTY stay loud NULL like their non-empty kinds
        # (code-review r11)
        if m.group(1) in ("LINESTRING", "MULTILINESTRING", "GEOMETRYCOLLECTION"):
            return "GEOMETRYCOLLECTION EMPTY"
        return None
    g = G.parse_wkt(s)
    if g is None:
        return None
    chains = _chains_of(g)
    if chains is None:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for c in chains for x, y in c
    ):
        return None
    polys = sorted(polygonize_geoms([_frac_chain(c) for c in chains]), key=G.to_wkt)
    if not polys:
        return "GEOMETRYCOLLECTION EMPTY"
    return G.to_wkt(Geometry("GeometryCollection", polys))


# ---------------------------------------------------------------------------
# vectorized SQL surface
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def st_node(wkt: pd.Series) -> pd.Series:
    out = []
    for v in wkt:
        try:
            out.append(node_wkt(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_polygonize(wkt: pd.Series) -> pd.Series:
    out = []
    for v in wkt:
        try:
            out.append(polygonize_wkt(v))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_NODING_FUNCTIONS = {
    "st_node": st_node,
    "st_polygonize": st_polygonize,
}
