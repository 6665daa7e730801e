"""Geometry editors: ST_AddPoint / ST_SetPoint / ST_RemovePoint /
ST_FlipCoordinates / ST_Segmentize / ST_Expand (F12).

PostGIS vertex-editing surface (reference src/index.ts:44-63 forwards
every PostGIS-accepted scalar). Semantics, matching PostGIS:

- ``ST_AddPoint(line, pt, pos)``: insert ``pt`` at 0-based position
  ``pos``; ``pos = -1`` appends (the PostGIS 2-arg default — SQL
  callers pass -1 explicitly since UDF names cannot overload).
  LINESTRING + POINT only; out-of-range position → NULL (PostGIS
  raises; the engine-wide loud-NULL contract applies).
- ``ST_SetPoint(line, idx, pt)``: replace the vertex at 0-based
  ``idx``; negative counts from the end (-1 = last), PostGIS behavior.
- ``ST_RemovePoint(line, idx)``: drop the vertex at 0-based ``idx``;
  NULL when out of range or when removal would leave fewer than two
  points (PostGIS raises for both).
- ``ST_FlipCoordinates(g)``: swap x and y in every coordinate of any
  geometry (the axis-order repair tool). Typed EMPTY passes through
  unchanged (flip of the empty set is the empty set — the same
  composition argument the affine family documents; an overlay result
  like ``POLYGON EMPTY`` keeps flowing instead of going NULL).
- ``ST_Segmentize(g, max_len)``: subdivide every segment longer than
  ``max_len`` into ``ceil(len / max_len)`` EQUAL parts (the PostGIS
  planar rule — no segment of the result exceeds ``max_len``; original
  vertices are all preserved). LineString/MultiLineString/Polygon/
  MultiPolygon; points pass through; ``max_len ≤ 0`` → NULL.
  Interpolated coordinates evaluate as ``a + (b − a)·i / n`` so
  integer-fixture splits (e.g. a 45-long edge in 3 parts) are exact.
  Typed EMPTY passes through unchanged.
- ``ST_Expand(g, d)``: the envelope of ``g`` grown by ``d`` on every
  side, as a POLYGON in this engine's envelope ring order
  ((minx miny, maxx miny, maxx maxy, minx maxy, minx miny) — same as
  st_envelope/st_makeenvelope); degenerate boxes are legal polygons
  here rather than PostGIS's BOX2D special forms; typed EMPTY passes
  through unchanged (no envelope to grow). The three INDEXED editors
  (AddPoint/SetPoint/RemovePoint) keep loud-NULL on EMPTY input: every
  index into an empty line is out of range, and AddPoint's would-be
  1-vertex result is not a valid linestring.

Scale shape: map-only Arrow-vectorized pandas UDFs, O(vertices)
(segmentize: O(output vertices)) per row, no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .geometry import Geometry
from .wkt import _EMPTY_RE



def _empty_kind(wkt) -> str | None:
    if wkt is None:
        return None
    m = _EMPTY_RE.match(str(wkt).strip().upper())
    return m.group(1) if m else None


def _num_arg(v) -> float | None:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return float(v)


def _line(wkt) -> Geometry | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "LineString":
        return None
    return g


def _point(wkt) -> tuple[float, float] | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "Point":
        return None
    return g.coords


def add_point(line_wkt, point_wkt, pos) -> str | None:
    g = _line(line_wkt)
    p = _point(point_wkt)
    i = _num_arg(pos)
    if g is None or p is None or i is None:
        return None
    i = int(i)
    n = len(g.coords)
    if i == -1:
        i = n
    if i < 0 or i > n:
        return None
    return G.to_wkt(Geometry("LineString", g.coords[:i] + [p] + g.coords[i:]))


def set_point(line_wkt, idx, point_wkt) -> str | None:
    g = _line(line_wkt)
    p = _point(point_wkt)
    i = _num_arg(idx)
    if g is None or p is None or i is None:
        return None
    i = int(i)
    n = len(g.coords)
    if i < 0:
        i += n
    if i < 0 or i >= n:
        return None
    return G.to_wkt(Geometry("LineString", g.coords[:i] + [p] + g.coords[i + 1 :]))


def remove_point(line_wkt, idx) -> str | None:
    g = _line(line_wkt)
    i = _num_arg(idx)
    if g is None or i is None:
        return None
    i = int(i)
    n = len(g.coords)
    if i < 0 or i >= n or n <= 2:
        return None
    return G.to_wkt(Geometry("LineString", g.coords[:i] + g.coords[i + 1 :]))


def flip_coordinates(wkt) -> str | None:
    empty = _empty_kind(wkt)
    if empty is not None:
        return f"{empty} EMPTY"
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        return None
    return G.to_wkt(G.swap_axes(g))  # the XML reader's axis-swap kernel


def _segmentize_seq(seq, max_len: float):
    out = [seq[0]]
    for a, b in zip(seq, seq[1:]):
        d = math.dist(a, b)
        parts = max(1, math.ceil(d / max_len - 1e-12))
        for i in range(1, parts):
            out.append(
                (a[0] + (b[0] - a[0]) * i / parts, a[1] + (b[1] - a[1]) * i / parts)
            )
        out.append(b)
    return out


def segmentize(wkt, max_len) -> str | None:
    m = _num_arg(max_len)
    if m is None or m <= 0:
        return None
    empty = _empty_kind(wkt)
    if empty is not None:
        return f"{empty} EMPTY"
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        return None
    if g.kind in ("Point", "MultiPoint"):
        return G.to_wkt(g)
    if g.kind == "LineString":
        return G.to_wkt(Geometry(g.kind, _segmentize_seq(g.coords, m)))
    if g.kind in ("MultiLineString", "Polygon"):
        return G.to_wkt(
            Geometry(g.kind, [_segmentize_seq(seq, m) for seq in g.coords])
        )
    if g.kind == "MultiPolygon":
        return G.to_wkt(
            Geometry(
                g.kind,
                [[_segmentize_seq(r, m) for r in poly] for poly in g.coords],
            )
        )
    return None  # GeometryCollection: loud-NULL (PostGIS recurses; rare)


def expand(wkt, dist) -> str | None:
    d = _num_arg(dist)
    if d is None:
        return None
    empty = _empty_kind(wkt)
    if empty is not None:
        return f"{empty} EMPTY"
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        return None
    minx, miny, maxx, maxy = G.bbox(g)
    return G.to_wkt(Geometry.box(minx - d, miny - d, maxx + d, maxy + d))


# ---------------------------------------------------------------------------
# ST_Snap (r13)
# ---------------------------------------------------------------------------
#
# GEOS/JTS LineStringSnapper-STYLE semantics, per coordinate sequence
# of the INPUT, against the REFERENCE geometry's vertices:
#   1. vertex snap (findSnapForVertex) — each input vertex moves to the
#      FIRST reference vertex (serialized order) strictly within
#      tolerance; a vertex exactly equal to a reference vertex does not
#      snap at all (JTS returns null there);
#   2. segment snap (findSegmentIndexToSnap) — each reference vertex
#      strictly within tolerance of some segment's interior is inserted
#      into its single CLOSEST segment only (distance tie → the earlier
#      segment), ordered within a segment by projection parameter.
# Consecutive duplicates collapse; ring closure is preserved.
# DOCUMENTED approximations vs JTS proper (ADVICE r13): (a) segment
# candidates here use the INTERIOR projection distance (0 < t < 1),
# where JTS uses the full endpoint-clamped segment distance, and (b)
# all inserts are computed against the unmutated post-vertex-snap
# sequence then batch-sorted by parameter, where JTS re-finds the
# closest segment against the EVOLVING list per reference point —
# inputs whose reference vertices are nearest to each other's inserted
# segments can order/attach differently in rare cases. Like PostGIS,
# validity of the result is NOT guaranteed — snap is a
# pre-noding/matching tool, not a repair. Typed-EMPTY input or
# reference echoes the input (nothing to snap / snap to), the module's
# _empty_kind convention and PostGIS behavior.


def _snap_seq_to_ref(seq, ref_pts, tol: float):
    snapped = []
    for v in seq:
        p = tuple(v)
        for r in ref_pts:
            d = math.hypot(v[0] - r[0], v[1] - r[1])
            if d == 0.0:
                break  # already a reference vertex: JTS does not snap
            if d < tol:
                p = r
                break  # FIRST in-tolerance reference vertex wins (JTS)
            # else keep scanning
        if not snapped or snapped[-1] != p:
            snapped.append(p)
    # each reference vertex goes into its single closest segment
    by_seg: dict[int, list] = {}
    for r in ref_pts:
        best = None  # (dist, seg index, t)
        for i, (a, b) in enumerate(zip(snapped, snapped[1:])):
            if r == a or r == b:
                best = None
                break  # already a vertex of the sequence: no insert
            dx, dy = b[0] - a[0], b[1] - a[1]
            den = dx * dx + dy * dy
            if den == 0.0:
                continue
            t = ((r[0] - a[0]) * dx + (r[1] - a[1]) * dy) / den
            if not (0.0 < t < 1.0):
                continue
            ex, ey = r[0] - (a[0] + t * dx), r[1] - (a[1] + t * dy)
            d = math.hypot(ex, ey)
            if d < tol and (best is None or d < best[0]):
                best = (d, i, t)
        if best is not None:
            by_seg.setdefault(best[1], []).append((best[2], r))
    out = [snapped[0]]
    for i, b in enumerate(snapped[1:]):
        for _t, r in sorted(by_seg.get(i, [])):
            if out[-1] != r:
                out.append(r)
        if out[-1] != b:
            out.append(b)
    return out


def snap(wkt, ref_wkt, tol) -> str | None:
    t = _num_arg(tol)
    if t is None or t < 0 or wkt is None or ref_wkt is None:
        return None
    empty = _empty_kind(wkt)
    if empty is not None:
        return f"{empty} EMPTY"  # nothing to snap: echo (PostGIS)
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        return None
    # non-finite input coords: loud NULL (r13 stance) — checked BEFORE
    # the empty-reference echo so garbage input cannot ride an EMPTY
    # reference out as corrupt WKT
    if not all(
        math.isfinite(x) and math.isfinite(y) for x, y in G._points(g)
    ):
        return None
    if _empty_kind(ref_wkt) is not None:
        return G.to_wkt(g)  # nothing to snap TO: echo (PostGIS)
    ref = G.parse_wkt(str(ref_wkt).strip())
    if ref is None:
        return None
    if t == 0.0:
        return G.to_wkt(g)  # PostGIS: zero tolerance returns the input
    ref_pts = G._points(ref)
    if not ref_pts or not all(
        math.isfinite(x) and math.isfinite(y) for x, y in ref_pts
    ):
        return None

    def seq(s):
        out = _snap_seq_to_ref(s, ref_pts, t)
        if s[0] == s[-1] and out[0] != out[-1]:  # re-close a snapped ring
            out.append(out[0])
        return out

    if g.kind == "Point":
        return G.to_wkt(Geometry("Point", seq([g.coords])[0]))
    if g.kind == "MultiPoint":
        return G.to_wkt(
            Geometry("MultiPoint", [seq([p])[0] for p in g.coords])
        )
    if g.kind == "LineString":
        out = seq(g.coords)
        return G.to_wkt(Geometry("LineString", out)) if len(out) >= 2 else None
    if g.kind == "MultiLineString":
        parts = [seq(line) for line in g.coords]
        parts = [p for p in parts if len(p) >= 2]
        return G.to_wkt(Geometry("MultiLineString", parts)) if parts else None
    if g.kind == "Polygon":
        rings = _snap_rings(g.coords, seq)
        return G.to_wkt(Geometry("Polygon", rings)) if rings else None
    if g.kind == "MultiPolygon":
        polys = []
        for poly in g.coords:
            rings = _snap_rings(poly, seq)
            if rings is None:
                return None  # a collapsed shell nulls the whole result
            polys.append(rings)
        return G.to_wkt(Geometry("MultiPolygon", polys)) if polys else None
    return None  # GeometryCollection: loud NULL (rare; same as segmentize)


def _snap_rings(rings, seq):
    """Snapped rings of one polygon: a collapsed SHELL is a loud NULL
    (keeping a surviving hole would silently promote it to shell —
    review r13); collapsed holes drop as degenerate."""
    out = [seq(r) for r in rings]
    if len(out[0]) < 4:
        return None
    return [out[0]] + [h for h in out[1:] if len(h) >= 4]


@pandas_udf(StringType())
def st_snap(w: pd.Series, r: pd.Series, t: pd.Series) -> pd.Series:
    out = []
    for a, b, c in zip(w, r, t):
        try:
            out.append(snap(a, b, c))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype="object")


@pandas_udf(StringType())
def st_addpoint(w: pd.Series, p: pd.Series, i: pd.Series) -> pd.Series:
    return pd.Series(
        [add_point(a, b, c) for a, b, c in zip(w, p, i)], dtype="object"
    )


@pandas_udf(StringType())
def st_setpoint(w: pd.Series, i: pd.Series, p: pd.Series) -> pd.Series:
    return pd.Series(
        [set_point(a, b, c) for a, b, c in zip(w, i, p)], dtype="object"
    )


@pandas_udf(StringType())
def st_removepoint(w: pd.Series, i: pd.Series) -> pd.Series:
    return pd.Series([remove_point(a, b) for a, b in zip(w, i)], dtype="object")


@pandas_udf(StringType())
def st_flipcoordinates(w: pd.Series) -> pd.Series:
    return pd.Series([flip_coordinates(a) for a in w], dtype="object")


@pandas_udf(StringType())
def st_segmentize(w: pd.Series, m: pd.Series) -> pd.Series:
    return pd.Series([segmentize(a, b) for a, b in zip(w, m)], dtype="object")


@pandas_udf(StringType())
def st_expand(w: pd.Series, d: pd.Series) -> pd.Series:
    return pd.Series([expand(a, b) for a, b in zip(w, d)], dtype="object")


ALL_EDITOR_FUNCTIONS = {
    "st_snap": st_snap,
    "st_addpoint": st_addpoint,
    "st_setpoint": st_setpoint,
    "st_removepoint": st_removepoint,
    "st_flipcoordinates": st_flipcoordinates,
    "st_segmentize": st_segmentize,
    "st_expand": st_expand,
}
