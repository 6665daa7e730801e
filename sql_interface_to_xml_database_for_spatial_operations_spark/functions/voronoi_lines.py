"""ST_VoronoiLines (r15): the boundaries BETWEEN Voronoi cells —
PostGIS's companion to ST_VoronoiPolygons (the reference forwards the
name verbatim, src/index.ts:44-63).

Derivation: the exact Voronoi cells (tessellate.voronoi_cells,
Fraction half-plane clipping over the padded site box) share each
internal boundary edge between exactly TWO cells, while the padded
envelope's edges belong to one cell only — so the line set is the
undirected cell edges with count == 2, the same edge-count idiom as
the 3-D mesh closedness test. Output is a canonical MULTILINESTRING:
each shared edge as a 2-point part, endpoints ordered, parts sorted
(PostGIS/GEOS emit merged boundary chains in engine order; the SET of
boundary segments is the same linework — this engine's deterministic
serialization is the documented form, like st_dumpsegments).

Fewer than 2 distinct sites → MULTILINESTRING EMPTY (no boundaries);
junk / non-puntal-vertex input follows the st_voronoipolygons gates
(loud NULL, site budget included). Map-only pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .geometry import Geometry
from .tessellate import voronoi_cells


def voronoi_lines_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        return None
    cells = voronoi_cells(G._points(g))
    counts: dict[tuple, int] = {}
    for _site, ring in cells:
        n = len(ring)
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            if a == b:
                continue
            key = (a, b) if a <= b else (b, a)
            counts[key] = counts.get(key, 0) + 1
    shared = sorted(k for k, c in counts.items() if c == 2)
    if not shared:
        return "MULTILINESTRING EMPTY"
    parts = tuple(
        ((float(a[0]), float(a[1])), (float(b[0]), float(b[1])))
        for a, b in shared
    )
    return G.to_wkt(Geometry("MultiLineString", parts))


@pandas_udf(StringType())
def st_voronoilines(w: pd.Series) -> pd.Series:
    out = []
    for x in w:
        try:
            out.append(voronoi_lines_wkt(x))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


ALL_VORONOI_LINE_FUNCTIONS = {
    "st_voronoilines": st_voronoilines,
}
