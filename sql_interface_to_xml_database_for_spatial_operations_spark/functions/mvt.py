"""ST_AsMVTGeom (F12 remainder, r14 continuation): transform a
geometry into Mapbox-Vector-Tile coordinate space — the function every
tile-serving pipeline runs on its way out, and at 100 TB the natural
LAST map stage after the grid/tileenvelope binning shuffle (SCALE.md:
the tile id is the partition key; this kernel is the per-row payload
transform inside each tile's partition).

``st_asmvtgeom(g, bounds, extent, buffer, clip)`` — PostGIS semantics
re-expressed over this engine's exact kernels:

- ``bounds`` is the tile's geometry (its bbox is used, normally a
  ``st_tileenvelope`` box); zero-width/height bounds → loud NULL.
- vertices map by ``tx = floor((x − bxmin)·extent/width + 0.5)``,
  ``ty = floor((bymax − y)·extent/height + 0.5)`` — the MVT integer
  grid with the Y axis flipped to screen orientation; both formulas
  are mirrored term for term by the oracle.
- rounding collapses consecutive duplicates (dedup_vertices); a line
  that degenerates below 2 distinct vertices or a polygon whose ring
  drops below a triangle → NULL (PostGIS drops such parts too).
- polygons re-orient to CW shells / CCW holes after the flip (the
  MVT spec's screen-space winding) via the grids orientation kernel;
  a rounded polygon that goes INVALID routes through the exact
  linework makevalid, and repairs the exact checker refuses are a
  loud NULL (the st_buffer(g, 0) stance), never silently-wrong tiles.
- ``clip`` intersects with the buffered tile square
  [−buffer, extent+buffer]² through the exact overlay kernel;
  PostGIS returns NULL for results outside the tile — an EMPTY clip
  maps to NULL here too.

Map-only Arrow-batched pandas UDF.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .cells import _int_arg
from .geometry import Geometry
from .grids import _force_orientation
from .overlay import intersection_geoms
from .projection import _map_coords
from .validity import makevalid_wkt


def _has_areal(g: Geometry) -> bool:
    if g.kind in ("Polygon", "MultiPolygon"):
        return True
    if g.kind == "GeometryCollection":
        return any(_has_areal(s) for s in g.coords)
    return False


def _drop_collapsed(g: Geometry) -> Geometry | None:
    """Drop rounded-away PARTS like PostGIS does (code-review r14,
    third pass: the first cut NULLed the whole geometry when one
    sub-pixel islet collapsed, and its vertex-count test was dead code
    because dedup_vertices pads collapsed chains back to 2 identical
    vertices — the tests are by DISTINCT vertex count). A line needs
    2 distinct vertices; a ring needs 3. Returns None when nothing
    survives; multi kinds stay multi even with one survivor."""
    k = g.kind
    if k in ("Point", "MultiPoint"):
        return g
    if k == "LineString":
        return g if len(set(g.coords)) >= 2 else None
    if k == "MultiLineString":
        kept = [ch for ch in g.coords if len(set(ch)) >= 2]
        return Geometry(k, kept) if kept else None
    if k == "Polygon":
        if len(set(g.coords[0])) < 3:
            return None  # the shell itself collapsed
        rings = [g.coords[0]] + [
            h for h in g.coords[1:] if len(set(h)) >= 3
        ]
        return Geometry(k, rings)
    if k == "MultiPolygon":
        kept = []
        for rings in g.coords:
            p = _drop_collapsed(Geometry("Polygon", rings))
            if p is not None:
                kept.append(p.coords)
        return Geometry(k, kept) if kept else None
    # GeometryCollection
    kept = [s for s in (_drop_collapsed(m) for m in g.coords) if s is not None]
    return Geometry(k, kept) if kept else None


def asmvtgeom_wkt(wkt, bounds, extent, buf, clip) -> str | None:
    if wkt is None or bounds is None or clip is None:
        return None
    ext = _int_arg(extent)
    b = _int_arg(buf)
    if ext is None or ext < 1 or b is None or b < 0:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None  # PostGIS: empty input → NULL result
    g = G.parse_wkt(s)
    if g is None:
        return None
    bs = str(bounds).strip()
    if _ov._EMPTY_RE.match(bs.upper()):
        return None
    bg = G.parse_wkt(bs)
    if bg is None:
        return None
    pts = G._points(g) + G._points(bg)
    if not all(math.isfinite(x) and math.isfinite(y) for x, y in pts):
        return None
    bxmin, bymin, bxmax, bymax = G.bbox(bg)
    width, height = bxmax - bxmin, bymax - bymin
    if width <= 0.0 or height <= 0.0:
        return None  # degenerate tile bounds — loud

    def tx(x, y):
        return (
            math.floor((x - bxmin) * ext / width + 0.5),
            math.floor((bymax - y) * ext / height + 0.5),
        )

    t = _drop_collapsed(G.dedup_vertices(_map_coords(g, tx)))
    if t is None or G.dimension(t) < G.dimension(g):
        # everything rounded away, or dedup collapsed the KIND (a
        # line whose vertices all land on one grid cell)
        return None
    if _has_areal(t):
        # validity check + conditional linework repair happen at the
        # WKT surface because makevalid_wkt's echo-valid-input
        # semantics live there; refusals are loud
        checked = makevalid_wkt(G.to_wkt(t))
        if checked is None:
            return None
        t2 = G.parse_wkt(checked)
        if t2 is None:
            return None
        t = t2
    gg = t
    if clip:
        ring = (
            (float(-b), float(-b)), (float(ext + b), float(-b)),
            (float(ext + b), float(ext + b)), (float(-b), float(ext + b)),
            (float(-b), float(-b)),
        )
        box = Geometry("Polygon", (ring,))
        try:
            gg = intersection_geoms(t, box)
        except Exception:
            return None  # outside the overlay's exact class — loud
        if gg is None:
            return None  # outside the tile — PostGIS returns NULL
        if G.dimension(gg) < G.dimension(t):
            return None  # clip reduced dimension (edge-touch sliver)
        # the overlay canonicalizes (single-member multis unwrap);
        # restore the pre-clip container kind so the output kind does
        # not depend on the clip flag for untouched geometry
        base_of = {
            "MultiPoint": "Point",
            "MultiLineString": "LineString",
            "MultiPolygon": "Polygon",
        }
        if t.kind in base_of and gg.kind == base_of[t.kind]:
            gg = Geometry(t.kind, [gg.coords])
        elif t.kind == "GeometryCollection" and gg.kind != "GeometryCollection":
            gg = Geometry("GeometryCollection", [gg])
    if _has_areal(gg):
        gg = _force_orientation(gg, shell_ccw=False)  # MVT screen winding
    return G.to_wkt(gg)


@pandas_udf(StringType())
def st_asmvtgeom(
    wkt: pd.Series, bounds: pd.Series, extent: pd.Series,
    buf: pd.Series, clip: pd.Series,
) -> pd.Series:
    out = []
    for w, bo, e, bu, c in zip(wkt, bounds, extent, buf, clip):
        try:
            out.append(asmvtgeom_wkt(w, bo, e, bu, c))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_MVT_FUNCTIONS = {
    "st_asmvtgeom": st_asmvtgeom,
}
