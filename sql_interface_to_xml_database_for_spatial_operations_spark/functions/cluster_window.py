"""Window-function clustering surface (r15): PostGIS's
ST_ClusterKMeans / ST_ClusterDBSCAN are WINDOW functions (a cluster id
per row over a partition); Spark expresses that as
``posexplode(fn(collect_list(geom)))`` — the array idiom of
st_union_all / st_collect_all. This module adds the two array-taking
twins over POINT members (ids are ARRAY POSITIONS, so the caller's
posexplode lines ids back up with rows):

- ``st_clusterkmeans_all(array<wkt>, k)`` — Lloyd's algorithm with
  DETERMINISTIC seeding: the first k DISTINCT points in array order
  are the initial centroids (PostGIS seeds from a random generator;
  bit-reproducible clustering is this engine's training-data
  contract — the st_generatepoints Halton precedent). Assignment
  ties take the lowest cluster index; ≤ 64 rounds (always converged
  long before — Lloyd's objective strictly decreases). k < 1, k >
  #distinct, or any non-POINT member → loud NULL.
- ``st_clusterdbscan_all(array<wkt>, eps, minpts)`` — classic DBSCAN
  with the q160 operator's canonical conventions: a point is core
  when |N_eps| ≥ minpts COUNTING itself; clusters are connected
  components of cores under eps-adjacency labeled by the MIN core
  POSITION; border points take the MIN adjacent core's label; noise
  is NULL (a NULL slot in the returned array).

Both are per-group O(n²) pairwise kernels behind a work budget
(n ≤ 2048 members — the PostGIS window form also materializes its
whole partition); the DISTRIBUTED paths for corpus-scale inputs are
the q160 grid-cell DBSCAN and q143/q168 broadcast k-means operators.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from . import geometry as G
from .wkt import _num, _safe

_MAX_MEMBERS = 2048  # n² pair budget ≈ 4.2M — the linearref idiom


def _points(wkts):
    if wkts is None:
        return None
    pts = []
    for w in wkts:
        if w is None:
            return None
        g = G.parse_wkt(str(w).strip())
        if g is None or g.kind != "Point":
            return None  # the window forms are puntal — loud
        x, y = g.coords
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        pts.append((x, y))
    if not pts or len(pts) > _MAX_MEMBERS:
        return None
    return pts


def cluster_kmeans_ids(wkts, k) -> list | None:
    kv = _num(k)
    if kv is None or kv != int(kv):
        return None
    k = int(kv)
    pts = _points(wkts)
    if pts is None or k < 1:
        return None
    seen = list(dict.fromkeys(pts))  # first-seen distinct, O(n)
    if k > len(seen):
        return None
    cent = seen[:k]
    labels = [0] * len(pts)
    for _ in range(64):
        new_labels = []
        for p in pts:
            best, bi = math.inf, 0
            for i, c in enumerate(cent):
                d = (p[0] - c[0]) ** 2 + (p[1] - c[1]) ** 2
                if d < best:  # strict: ties keep the LOWEST index
                    best, bi = d, i
            new_labels.append(bi)
        sums = [[0.0, 0.0, 0] for _ in range(k)]
        for p, lb in zip(pts, new_labels):
            sums[lb][0] += p[0]
            sums[lb][1] += p[1]
            sums[lb][2] += 1
        cent = [
            (s[0] / s[2], s[1] / s[2]) if s[2] else cent[i]
            for i, s in enumerate(sums)
        ]
        if new_labels == labels:
            break
        labels = new_labels
    return labels


def cluster_dbscan_ids(wkts, eps, minpts) -> list | None:
    ev, mv = _num(eps), _num(minpts)
    if ev is None or mv is None or ev < 0 or mv != int(mv) or int(mv) < 1:
        return None
    minpts = int(mv)
    pts = _points(wkts)
    if pts is None:
        return None
    n = len(pts)
    e2 = ev * ev
    nbrs = [[] for _ in range(n)]
    for i in range(n):
        for j in range(i, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx * dx + dy * dy <= e2:
                nbrs[i].append(j)
                if j != i:
                    nbrs[j].append(i)
    core = [len(nb) >= minpts for nb in nbrs]
    # union-find over core-core adjacency; roots resolve to the MIN
    # core position in each component (the q160 canonical labels)
    parent = list(range(n))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(n):
        if not core[i]:
            continue
        for j in nbrs[i]:
            if core[j]:
                ra, rb = find(i), find(j)
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
    labels: list = [None] * n
    for i in range(n):
        if core[i]:
            labels[i] = find(i)
    for i in range(n):
        if core[i] or labels[i] is not None:
            continue
        adj = [labels[j] for j in nbrs[i] if core[j]]
        if adj:
            labels[i] = min(adj)  # border → min adjacent cluster label
    return labels


@pandas_udf(ArrayType(IntegerType()))
def st_clusterkmeans_all(arr: pd.Series, k: pd.Series) -> pd.Series:
    return pd.Series(
        [
            _safe(cluster_kmeans_ids, None if a is None else list(a), kk)
            for a, kk in zip(arr, k)
        ],
        dtype="object",
    )


@pandas_udf(ArrayType(IntegerType()))
def st_clusterdbscan_all(arr: pd.Series, eps: pd.Series, minpts: pd.Series) -> pd.Series:
    return pd.Series(
        [
            _safe(cluster_dbscan_ids, None if a is None else list(a), e, m)
            for a, e, m in zip(arr, eps, minpts)
        ],
        dtype="object",
    )


ALL_CLUSTER_WINDOW_FUNCTIONS = {
    "st_clusterkmeans_all": st_clusterkmeans_all,
    "st_clusterdbscan_all": st_clusterdbscan_all,
}
