"""ST_Subdivide — split a geometry into pieces of bounded vertex count
by recursive envelope halving (reference F12: src/index.ts:44-63
forwards it to PostGIS; VERDICT r10 item 6 — the standard scale tool
for huge-polygon spatial joins: a grid-candidate join over subdivided
pieces probes small bboxes instead of one giant one).

Semantics follow PostGIS ST_Subdivide(geom, max_vertices):

- ``max_vertices`` must be ≥ 5 (the smallest closed ring) — smaller
  values are an error (NULL at the SQL surface).
- A part whose vertex count already fits is emitted unchanged.
- Otherwise the part's envelope splits across its longer axis at the
  part's own vertex ordinate nearest the box center (falling back to
  the plain midpoint when no vertex lies strictly inside) and each
  half-clip recurses. The vertex pivot is what makes the budget a
  GUARANTEE: pure midpoint halving re-clips a concave-corner "L"
  piece to the same L forever (the PostGIS subdivide non-convergence
  class, fixed there the same way), while cutting at the corner
  resolves it into two rectangles. Clips run on the exact overlay
  kernel (``overlay.intersection_geoms``) — inputs outside its class
  (a self-intersecting ring) raise ``overlay._Unsupported`` (NULL at
  the SQL surface), never an approximate clip.
- Every emitted piece honors ``max_vertices`` — a piece still over
  budget at the recursion cap or in a float-collapsed extent raises
  ``overlay._Unsupported`` (loud NULL), never ships (ADVICE r11).
- Pieces keep their part's dimension: clipping an areal part can leave
  boundary-contact lines/points on the split line; those artifacts are
  dropped.
- Multi-parts and collections subdivide per part; EMPTY → no pieces.

The SQL surface ``st_subdivide(wkt, max_vertices)`` returns an
ARRAY<STRING> of piece WKTs (the explodable-array idiom of
``st_dumpparts``), so ``explode`` turns it into PostGIS's set-returning
shape.

Scale shape: map-only Arrow-batched pandas UDF; per-row cost is the
row's own recursion, a property of the row, not the table.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry

_MAX_DEPTH = 32  # each level halves an axis; 2^-32 of the extent is dust


def _parts(g: Geometry) -> list[Geometry]:
    if g.kind == "GeometryCollection":
        return [p for sub in g.coords for p in _parts(sub)]
    if g.kind == "MultiPoint":
        return [Geometry("Point", c) for c in g.coords]
    if g.kind == "MultiLineString":
        return [Geometry("LineString", list(c)) for c in g.coords]
    if g.kind == "MultiPolygon":
        return [Geometry("Polygon", [list(r) for r in rings]) for rings in g.coords]
    return [g]


def subdivide_geom(g: Geometry, max_vertices: int) -> list[Geometry]:
    """List of pieces, each with ≤ max_vertices vertices — guaranteed,
    not best-effort: hitting the recursion cap or a float-collapsed
    extent with a piece still over budget raises overlay._Unsupported
    (NULL at the SQL surface) instead of emitting it (ADVICE r11).
    Raises ValueError for max_vertices < 5 and overlay._Unsupported for
    inputs outside the exact clip class."""
    if max_vertices < 5:
        raise ValueError("ST_Subdivide: max_vertices must be >= 5")
    out: list[Geometry] = []

    def rec(p: Geometry, dim: int, depth: int) -> None:
        if G.n_points(p) <= max_vertices:
            out.append(p)
            return
        if depth >= _MAX_DEPTH:
            # Exact-or-NULL: an over-budget piece at the recursion cap
            # (many distinct vertices inside a 2^-32 sliver) must go
            # loud, never ship a piece that violates the max_vertices
            # contract (ADVICE r11).
            raise _ov._Unsupported(
                "ST_Subdivide: piece still over budget at recursion cap"
            )
        minx, miny, maxx, maxy = G.bbox(p)
        # Pad the NON-split axis so the clip is a pure half-plane cut
        # on the split axis and a degenerate extent (a horizontal
        # line's zero-height bbox) still yields a real clip box. The
        # pad is SCALE-RELATIVE: a fixed 1 vanishes below one ulp at
        # coordinate magnitude ~1e16 and the box ring collapses
        # (code-review r11).
        pad = max(
            1.0,
            1e-9 * max(abs(minx), abs(miny), abs(maxx), abs(maxy)),
        )
        # Split ordinate: the piece's own vertex ordinate nearest the
        # box center when one lies strictly inside the extent, else the
        # plain midpoint. Pure midpoint halving never terminates on a
        # concave corner piece (a 7-vertex "L" re-clips to the same L
        # around its corner forever — the PostGIS subdivide
        # non-convergence class, fixed there by pivoting on a vertex);
        # cutting AT the corner resolves it into two rectangles.
        def pivot(lo: float, hi: float, ords: list[float]) -> float:
            c = (lo + hi) / 2
            interior = [v for v in ords if lo < v < hi]
            if interior:
                return min(interior, key=lambda v: (abs(v - c), v))
            if lo < c < hi:
                return c
            # Extent collapsed below float resolution while the piece
            # is still over budget — exact-or-NULL, go loud rather
            # than emit an oversized piece (ADVICE r11).
            raise _ov._Unsupported(
                "ST_Subdivide: extent collapsed with piece over budget"
            )

        pts_p = G._points(p)
        if maxx - minx >= maxy - miny:
            mid = pivot(minx, maxx, [x for x, _ in pts_p])
            first = Geometry.box(minx, miny - pad, mid, maxy + pad)
            second = Geometry.box(mid, miny - pad, maxx, maxy + pad)
        else:
            mid = pivot(miny, maxy, [y for _, y in pts_p])
            first = Geometry.box(minx - pad, miny, maxx + pad, mid)
            second = Geometry.box(minx - pad, mid, maxx + pad, maxy)
        # Areal parts clip against both CLOSED halves — their overlap is
        # measure-zero boundary dust the dimension filter drops. A 1-D
        # run lying exactly ON the split line has full measure in both
        # closed boxes, so line parts take the second half as the set
        # DIFFERENCE with the first box instead — intersecting with
        # both duplicated the run and broke length conservation
        # (code-review r11).
        if dim == 1:
            pieces = (
                _ov.intersection_geoms(p, first),
                _ov.difference_geoms(p, first),
            )
        else:
            pieces = (
                _ov.intersection_geoms(p, first),
                _ov.intersection_geoms(p, second),
            )
        for piece in pieces:
            if piece is None:
                continue
            for q in _parts(piece):
                if G.dimension(q) == dim:  # drop split-line contact dust
                    rec(q, dim, depth + 1)

    for part in _parts(g):
        if not all(
            math.isfinite(x) and math.isfinite(y) for x, y in G._points(part)
        ):
            raise _ov._Unsupported("non-finite coordinate")
        rec(part, G.dimension(part), 0)
    return out


def subdivide_wkt(wkt, max_vertices) -> list[str] | None:
    """WKT surface: NULL for NULL/junk operands, bad budgets, or inputs
    outside the exact clip class; [] for typed EMPTY."""
    from .accessors import _int_arg

    mv = _int_arg(max_vertices)
    if mv is None:
        return None
    g = _ov._parse(wkt)  # typed-EMPTY sentinel / None-for-junk in one place
    if g is None:
        return None
    if _ov._is_empty(g):
        return []
    try:
        return [G.to_wkt(p) for p in subdivide_geom(g, mv)]
    except (ValueError, _ov._Unsupported):
        return None


@pandas_udf(ArrayType(StringType()))
def st_subdivide(wkt: pd.Series, maxv: pd.Series) -> pd.Series:
    out = []
    for w, n in zip(wkt, maxv):
        try:
            out.append(None if w is None else subdivide_wkt(w, n))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_SUBDIVIDE_FUNCTIONS = {
    "st_subdivide": st_subdivide,
}
