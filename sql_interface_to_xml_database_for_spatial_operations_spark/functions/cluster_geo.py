"""ST_ClusterIntersecting / ST_ClusterWithin — PostGIS's aggregate
geometry clustering (F12, late r12; the reference forwards both names,
src/index.ts:44-63).

Surface: scalar functions over a collected array (the engine's
aggregate idiom — ``st_union_all`` precedent): each returns
ARRAY<STRING> of GEOMETRYCOLLECTION WKTs, one per connected cluster.

- ``st_clusterintersecting(array<wkt>)`` — edges where geometries
  intersect (boundary contact included, ``geometry.intersects``).
- ``st_clusterwithin(array<wkt>, d)`` — edges where the pairwise
  distance is ≤ d (``geometry.distance``; PostGIS semantics).

Determinism (GEOS's member order is an implementation detail; ours is
pinned): cluster members keep INPUT order; clusters sort by their
first member's input index. NULL/junk/EMPTY array members are skipped
like SQL aggregates skip NULLs; a negative or non-finite distance is
a loud NULL (d = 0 is legal: touching/overlapping members cluster).

Scale shape: the pairwise screen is bbox-prescreened label
propagation over ONE collected group — bounded per row like every
collect_list aggregate here; the 100 TB path for unbounded tables is
the grid-cell candidate join + star-contraction components
(operators/cluster_dbscan.py), which this surface complements for
per-group clustering.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from . import geometry as G
from .geometry import Geometry


def _parse_members(arr) -> list[Geometry] | None:
    if arr is None:
        return None
    out = []
    for w in arr:
        g = G.parse_wkt_opt(w)
        if g is None:
            continue
        pts = G._points(g)
        if not pts or not all(
            math.isfinite(x) and math.isfinite(y) for x, y in pts
        ):
            continue  # junk/EMPTY/non-finite members skip like NULLs
        out.append(g)
    return out


def cluster_components(
    geoms: list[Geometry], edge
) -> list[list[int]]:
    """Connected components of the ``edge`` relation (bbox-prescreened
    union-find with path compression — the pairwise screen stays O(n²)
    edge tests but each union is near-O(1), so a large collect_list
    group costs n² predicate calls, not n³ relabel work). Members keep
    input order; components sort by first member index."""
    n = len(geoms)
    boxes = [G.bbox(g) for g in geoms]
    parent = list(range(n))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for i in range(n):
        for j in range(i + 1, n):
            ri, rj = find(i), find(j)
            if ri == rj:
                continue
            (ax0, ay0, ax1, ay1) = boxes[i]
            (bx0, by0, bx1, by1) = boxes[j]
            if not edge(geoms[i], geoms[j], (ax0, ay0, ax1, ay1), (bx0, by0, bx1, by1)):
                continue
            # union by min root so every root stays its component's
            # smallest member index (the pinned determinism contract)
            lo, hi = min(ri, rj), max(ri, rj)
            parent[hi] = lo
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    return [groups[c] for c in sorted(groups)]


def cluster_wkts(arr, dist: float | None) -> list[str] | None:
    """Cluster an array of WKTs into GEOMETRYCOLLECTION strings.
    ``dist is None`` → intersecting edges; else distance ≤ dist."""
    geoms = _parse_members(arr)
    if geoms is None:
        return None
    if not geoms:
        return []

    if dist is None:
        def edge(a, b, ba, bb):
            if ba[0] > bb[2] or bb[0] > ba[2] or ba[1] > bb[3] or bb[1] > ba[3]:
                return False
            return G.intersects(a, b)
    else:
        def edge(a, b, ba, bb):
            dx = max(0.0, bb[0] - ba[2], ba[0] - bb[2])
            dy = max(0.0, bb[1] - ba[3], ba[1] - bb[3])
            if dx * dx + dy * dy > dist * dist:
                return False  # bbox gap already exceeds d
            return G.distance(a, b) <= dist

    return [
        G.to_wkt(Geometry("GeometryCollection", [geoms[i] for i in members]))
        for members in cluster_components(geoms, edge)
    ]


@pandas_udf(ArrayType(StringType()))
def st_clusterintersecting(arr: pd.Series) -> pd.Series:
    out = []
    for a in arr:
        try:
            out.append(cluster_wkts(a, None))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def st_clusterwithin(arr: pd.Series, d: pd.Series) -> pd.Series:
    out = []
    for a, dd in zip(arr, d):
        try:
            if dd is None or pd.isna(dd) or not math.isfinite(float(dd)) or float(dd) < 0:
                out.append(None)
            else:
                out.append(cluster_wkts(a, float(dd)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_CLUSTER_GEO_FUNCTIONS = {
    "st_clusterintersecting": st_clusterintersecting,
    "st_clusterwithin": st_clusterwithin,
}
