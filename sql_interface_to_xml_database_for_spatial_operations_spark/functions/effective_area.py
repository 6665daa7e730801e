"""ST_SetEffectiveArea (r15): Visvalingam–Whyatt effective areas
written into the M coordinate — PostGIS's scale-adaptive rendering
helper (effectivearea.c; the reference forwards the name verbatim,
src/index.ts:44-63). Pairs the engine's VW kernel (simplify.py) with
the measure-M codec (measure_m.py).

Semantics (PostGIS effectivearea.c):

- run VW to exhaustion; each interior vertex's EFFECTIVE area is the
  area of its neighbor triangle at the moment it would be deleted,
  forced MONOTONE non-decreasing over the deletion order
  (``max(area, last deleted area)`` — PostGIS's rule, so a
  threshold filter on M reproduces the exact VW simplification at
  every tolerance);
- endpoints carry FLT_MAX (3.4028234663852886e+38) — PostGIS pins
  them undeletable;
- ties pop the smallest vertex index (the engine's VW scan-order
  contract), so M values are bit-stable;
- LINESTRING / MULTILINESTRING (per part) only; other kinds, NaN/Inf
  coordinates, or a part past the vertex budget → loud NULL. Output
  is ``LINESTRING M (x y m, …)`` through the measure codec.

Map-only Arrow-batched pandas UDF; O(n log n) per part via the same
heap + linked-list structure as simplify._vw.
"""

from __future__ import annotations

import heapq
import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import wkt as W
from .simplify import _tri_area2

_FLT_MAX = 3.4028234663852886e38  # C float max — the PostGIS endpoint pin
_MAX_VERTICES = 4096  # the shared lineal input budget


def effective_areas(pts) -> list | None:
    """Per-vertex effective area for an OPEN chain (endpoints FLT_MAX)."""
    n = len(pts)
    if n > _MAX_VERTICES:
        return None
    res = [None] * n
    res[0] = _FLT_MAX
    res[-1] = _FLT_MAX
    if n < 3:
        return res
    prv = list(range(-1, n - 1))
    nxt = list(range(1, n + 1))
    alive = [True] * n
    version = [0] * n

    def area(i: int) -> float:
        return _tri_area2(pts[prv[i]], pts[i], pts[nxt[i]]) / 2.0

    heap = [(area(i), i, 0) for i in range(1, n - 1)]
    heapq.heapify(heap)
    remaining = n
    max_seen = 0.0
    while heap and remaining > 2:
        a, i, ver = heapq.heappop(heap)
        if not alive[i] or ver != version[i]:
            continue
        eff = max(a, max_seen)  # monotone over deletion order (PostGIS)
        max_seen = eff
        res[i] = eff
        alive[i] = False
        remaining -= 1
        p, q = prv[i], nxt[i]
        nxt[p], prv[q] = q, p
        for j in (p, q):
            if 0 < j < n - 1 and alive[j]:
                version[j] += 1
                heapq.heappush(heap, (area(j), j, version[j]))
    return res


def set_effective_area_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind not in ("LineString", "MultiLineString"):
        return None
    chains = [g.coords] if g.kind == "LineString" else list(g.coords)
    out_chains = []
    for ch in chains:
        if not all(math.isfinite(v) for p in ch for v in p):
            return None
        eff = effective_areas(list(ch))
        if eff is None:
            return None
        out_chains.append([(p[0], p[1], m) for p, m in zip(ch, eff)])
    if g.kind == "LineString":
        return W.write("LineString", "M", out_chains[0])
    return W.write("MultiLineString", "M", out_chains)


@pandas_udf(StringType())
def st_seteffectivearea(w: pd.Series) -> pd.Series:
    out = []
    for x in w:
        try:
            out.append(set_effective_area_wkt(x))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


ALL_EFFECTIVE_AREA_FUNCTIONS = {
    "st_seteffectivearea": st_seteffectivearea,
}
