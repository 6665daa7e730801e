"""ST_Extrude / ST_Tesselate — the two SFCGAL surface constructors a
PostGIS install with the sfcgal extension exposes (the reference
forwards whatever PostGIS accepts, src/index.ts:44-63); both bridge
the engine's exact 2-D kernels into the SQL/MM 3-D surface suite
(functions/surface3d.py).

- ``st_extrude(poly, dx, dy, dz)`` — extrudes a 2-D POLYGON (holes
  included) along the vector into a CLOSED, CONSISTENTLY ORIENTED
  ``POLYHEDRALSURFACE Z``: bottom = the polygon with reversed ring
  orientation (outward normal along −extrusion), top = the polygon
  translated by (dx, dy, dz), one wall quad per ring edge. Rings are
  normalized first (shell counter-clockwise, holes clockwise) so the
  mesh passes surface3d's orientation test: ST_Volume of the result
  is exactly area·dz (the divergence theorem is shear-invariant, so
  oblique prisms measure exactly too) and ST_IsClosed is TRUE.
  dz < 0 flips every patch to keep normals outward; dz = 0 (a
  degenerate flat slab), non-polygon, or junk input → loud NULL.
- ``st_tesselate(poly)`` — the polygon triangulation as a ``TIN``
  (SFCGAL's one-l spelling, which PostGIS documents; ``st_tessellate``
  is registered as an alias). Triangles come from the engine's exact
  ear-clipping kernel (measures.triangulate_polygon — the same
  triangles st_triangulatepolygon returns as a GEOMETRYCOLLECTION),
  so ST_3DArea of the TIN equals ST_Area of the input exactly.
  MULTIPOLYGON parts concatenate into one TIN; holed or non-simple
  polygons are outside the ear-clipper → loud NULL (documented, the
  same gate st_triangulatepolygon has).

Scale shape: map-only Arrow-batched pandas UDFs — per-row geometry
work linear in vertices, no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import surface3d as _s3
from .geometry import Geometry
from .measures import triangulate_polygon
from .noding import signed_area2
from .wkt import _safe


def _normalize_rings(rings):
    """Shell CCW, holes CW; returns closed rings (first == last)."""
    out = []
    for i, ring in enumerate(rings):
        a2 = signed_area2(ring)
        if a2 == 0.0:
            return None  # degenerate ring
        want_ccw = i == 0
        if (a2 > 0) != want_ccw:
            ring = ring[::-1]
        out.append(ring)
    return out


def extrude_wkt(wkt, dx, dy, dz) -> str | None:
    for v in (dx, dy, dz):
        if v is None:
            return None
        try:
            if not math.isfinite(float(v)):
                return None
        except (TypeError, ValueError):
            return None
    dx, dy, dz = float(dx), float(dy), float(dz)
    if dz == 0.0:
        return None  # flat slab: not a solid
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "Polygon":
        return None
    rings = _normalize_rings(g.coords)
    if rings is None:
        return None

    def lift(ring, top: bool):
        return [
            (x + dx, y + dy, dz) if top else (x, y, 0.0) for x, y in ring
        ]

    patches = []
    # bottom: reversed rings (outward normal opposes the extrusion)
    patches.append([lift(ring[::-1], False) for ring in rings])
    # top: translated, original orientation
    patches.append([lift(ring, True) for ring in rings])
    # walls: one quad per directed ring edge (p -> q):
    # (p_bottom, q_bottom, q_top, p_top) — pairs each bottom/top edge
    # use exactly once in the reverse direction
    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
            quad = [
                (x0, y0, 0.0),
                (x1, y1, 0.0),
                (x1 + dx, y1 + dy, dz),
                (x0 + dx, y0 + dy, dz),
                (x0, y0, 0.0),
            ]
            patches.append([quad])
    if dz < 0.0:
        # flip every patch so normals stay outward
        patches = [[ring[::-1] for ring in patch] for patch in patches]
    return _s3.to_surface_wkt("PolyhedralSurface", True, patches)


def tesselate_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        return None
    try:
        tris = triangulate_polygon(g)
    except Exception:
        return None
    if tris is None:
        return None
    patches = []
    for tri in tris.coords:  # GEOMETRYCOLLECTION of triangle POLYGONs
        if not isinstance(tri, Geometry) or tri.kind != "Polygon":
            return None
        patches.append([list(r) for r in tri.coords])
    if not patches:
        return None
    return _s3.to_surface_wkt("Tin", False, patches)


@pandas_udf(StringType())
def st_extrude(
    w: pd.Series, dx: pd.Series, dy: pd.Series, dz: pd.Series
) -> pd.Series:
    return pd.Series(
        [_safe(extrude_wkt, *t) for t in zip(w, dx, dy, dz)], dtype="object"
    )


@pandas_udf(StringType())
def st_tesselate(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(tesselate_wkt, x) for x in w], dtype="object")


ALL_EXTRUDE_FUNCTIONS = {
    "st_extrude": st_extrude,
    "st_tesselate": st_tesselate,
    # PostGIS documents both spellings
    "st_tessellate": st_tesselate,
}
