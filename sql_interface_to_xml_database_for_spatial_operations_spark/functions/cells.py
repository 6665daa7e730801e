"""Single-cell grid constructors + orientation predicates + longitude
shift (F12 remainder, r14 continuation; the reference forwards
PostGIS-accepted names verbatim, src/index.ts:44-63).

- ``st_square(size, cell_i, cell_j)`` — the PostGIS 3.1 single square
  cell: corners (size·i, size·j) … (size·(i+1), size·(j+1)), CCW from
  the min corner; exact where size·index is exact.
- ``st_hexagon(size, cell_i, cell_j)`` — the single flat-top hexagon
  at lattice (i, j) with circumradius ``size``, BIT-IDENTICAL to the
  cell ``st_hexagongrid`` emits at the same lattice coordinates (same
  half-lattice integer construction, grids.py:112 — so a cell id
  computed by the grid can be reconstructed standalone). PostGIS's own
  row registration differs (the documented st_hexagongrid caveat);
  the deterministic shared identity is the contract.
- ``st_ispolygoncw(wkt)`` / ``st_ispolygonccw(wkt)`` — PostGIS
  semantics: true when every polygonal component's shell is CW (resp.
  CCW) and its holes are opposite; geometries with NO polygonal
  component are vacuously true; a degenerate zero-area ring satisfies
  either orientation (signed-area comparisons are non-strict).
- ``st_shiftlongitude(wkt)`` — the PostGIS ptarray_longitude_shift
  toggle per vertex: x < 0 → x + 360, else x > 180 → x − 360 (moves
  data between the -180..180 and 0..360 conventions).

All map-only Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry
from .measure_m import _num  # the shared finite-float coercion
from .projection import _map_coords
from .union_ops import _signed_area_ring

_MAX_CELL_INDEX = 2**31  # loud gate: size·index must stay a sane double


def _int_arg(v) -> int | None:
    if v is None:
        return None
    try:
        if isinstance(v, float):
            if math.isnan(v):
                return None
            if v != int(v):
                return None
        return int(v)
    except (TypeError, ValueError):
        return None


def square_cell_wkt(size, i, j) -> str | None:
    s, ci, cj = _num(size), _int_arg(i), _int_arg(j)
    if s is None or s <= 0 or ci is None or cj is None:
        return None
    if abs(ci) > _MAX_CELL_INDEX or abs(cj) > _MAX_CELL_INDEX:
        return None
    x0, y0 = s * ci, s * cj
    x1, y1 = s * (ci + 1), s * (cj + 1)
    ring = ((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
    return G.to_wkt(Geometry("Polygon", (ring,)))


def hexagon_cell_wkt(size, i, j) -> str | None:
    s, ci, cj = _num(size), _int_arg(i), _int_arg(j)
    if s is None or s <= 0 or ci is None or cj is None:
        return None
    if abs(ci) > _MAX_CELL_INDEX or abs(cj) > _MAX_CELL_INDEX:
        return None
    # the grids.py half-lattice: center at (3i·half_s, (2j + i%2)·half_h)
    half_s = s / 2.0
    half_h = math.sqrt(3.0) * s / 2.0
    kx = 3 * ci
    ky = 2 * cj + (1 if ci % 2 else 0)
    ring = [
        ((kx + 2) * half_s, ky * half_h),
        ((kx + 1) * half_s, (ky + 1) * half_h),
        ((kx - 1) * half_s, (ky + 1) * half_h),
        ((kx - 2) * half_s, ky * half_h),
        ((kx - 1) * half_s, (ky - 1) * half_h),
        ((kx + 1) * half_s, (ky - 1) * half_h),
    ]
    return G.to_wkt(Geometry("Polygon", (tuple(ring + [ring[0]]),)))


def _poly_rings(g: Geometry):
    if g.kind == "Polygon":
        yield g.coords
    elif g.kind == "MultiPolygon":
        yield from g.coords
    elif g.kind == "GeometryCollection":
        for sub in g.coords:
            yield from _poly_rings(sub)


def _is_oriented(wkt, shell_ccw: bool) -> bool | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return True  # no polygonal rings — vacuously true
    g = G.parse_wkt(s)
    if g is None:
        return None
    for rings in _poly_rings(g):
        for n, ring in enumerate(rings):
            a = _signed_area_ring(list(ring))
            want_ccw = shell_ccw if n == 0 else not shell_ccw
            if (a < 0) if want_ccw else (a > 0):
                return False  # zero-area rings satisfy either
    return True


def shiftlongitude_wkt(wkt) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return s
    g = G.parse_wkt(s)
    if g is None:
        return None

    def shift(x, y):
        if x < 0:
            return (x + 360.0, y)
        if x > 180:
            return (x - 360.0, y)
        return (x, y)

    return G.to_wkt(_map_coords(g, shift))


@pandas_udf(StringType())
def st_square(size: pd.Series, i: pd.Series, j: pd.Series) -> pd.Series:
    out = []
    for s, a, b in zip(size, i, j):
        try:
            out.append(square_cell_wkt(s, a, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_hexagon(size: pd.Series, i: pd.Series, j: pd.Series) -> pd.Series:
    out = []
    for s, a, b in zip(size, i, j):
        try:
            out.append(hexagon_cell_wkt(s, a, b))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(BooleanType())
def st_ispolygoncw(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(_is_oriented(w, shell_ccw=False))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(BooleanType())
def st_ispolygonccw(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(_is_oriented(w, shell_ccw=True))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_shiftlongitude(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(shiftlongitude_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_CELL_FUNCTIONS = {
    "st_square": st_square,
    "st_hexagon": st_hexagon,
    "st_ispolygoncw": st_ispolygoncw,
    "st_ispolygonccw": st_ispolygonccw,
    "st_shiftlongitude": st_shiftlongitude,
}
