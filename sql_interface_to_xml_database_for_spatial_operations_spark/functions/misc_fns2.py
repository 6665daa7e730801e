"""Second misc PostGIS batch (r15): ST_OrderingEquals, ST_ClipByBox2D,
ST_FilterByM, ST_MakeBox2D, the 3-D rotations ST_RotateX/Y/Z, and
ST_TransScale. The reference forwards these names verbatim
(src/index.ts:44-63).

- ``st_orderingequals(a, b)`` — TRUE iff the two WKTs are the same
  geometry TYPE (dimensions included: POINT vs POINT Z differ) with
  identical coordinate sequences in identical order — PostGIS's
  stricter-than-ST_Equals comparison. Works across the full codec
  stack (2-D / Z / M / ZM / surfaces). Junk on either side → NULL.
- ``st_clipbybox2d(g, box)`` — clips ``g`` to the 2-D bounding box of
  ``box`` (callers typically pass ST_MakeEnvelope output — the engine
  has no separate box2d type, so any 2-D geometry's bbox serves).
  Computed through the exact overlay intersection kernel, so unlike
  PostGIS's fast-path the result is always the true intersection (a
  documented superset of ST_ClipByBox2D's contract, which permits
  invalid output). Degenerate boxes clip by the corresponding
  point / segment envelope.
- ``st_filterbym(g, m1, m2)`` — keeps vertices whose M is in
  [m1, m2]; PostGIS's returns_m=false shape (the default): M input
  returns 2-D, ZM input keeps Z. (MULTI)POINT / (MULTI)LINESTRING M
  only, like PostGIS (areal input errors there → loud NULL here); a
  LINESTRING left with < 2 vertices collapses to LINESTRING EMPTY,
  MULTI* parts drop individually. Plain 2-D input has no M → loud
  NULL (PostGIS raises for geometries without M).
- ``st_makebox2d(p1, p2)`` — the box2d text form ``BOX(xmin ymin,
  xmax ymax)`` over two POINT corners (normalized min/max like the
  PostGIS constructor); the engine's box2d rendering follows the
  BOX3D precedent in misc_fns.extent3d_all.
- ``st_rotatex/y/z(g, θ)`` — rotations about the coordinate axes,
  radians, right-handed (PostGIS: ST_Affine special cases). 2-D and
  M input rotate with z read as 0 and the rotated z DISCARDED
  (PostGIS's 2-D affine keeps geometries 2-D); Z / ZM input rotates
  the full 3-D coordinate, M passes through. ST_RotateZ on 2-D input
  is exactly ST_Rotate.
- ``st_transscale(g, dx, dy, xf, yf)`` — (x, y) → ((x + dx)·xf,
  (y + dy)·yf), PostGIS argument order (translate THEN scale); z / m
  pass through untouched. Integer arguments make it exact float
  arithmetic, which the driver family exploits.

All map-only Arrow-batched pandas UDFs — no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, IntegerType, StringType

from . import geometry as G
from . import overlay as _ov
from . import surface3d as _s3
from . import wkb as _wkb
from . import wkt as W
from .affine import _affine_wkt
from .geometry import Geometry
from .wkt import _safe

# -- ST_OrderingEquals ------------------------------------------------------


def _plain(x):
    """Nested payloads → hashable nested tuples (Geometry unwrapped)."""
    if isinstance(x, Geometry):
        return ("G", x.kind, _plain(x.coords))
    if isinstance(x, (list, tuple)):
        return tuple(_plain(v) for v in x)
    return x


def _norm_any(wkt):
    if wkt is None:
        return None
    s = str(wkt).strip()
    ps = _s3.parse_surface_wkt(s)
    if ps is not None:
        kind, dims, patches = ps
        return (kind, "Z" in dims, "M" in dims, _plain(patches))
    parsed = _wkb._parse_any(s)
    if parsed is None:
        return None
    kind, z, m, payload = parsed
    return (kind, z, m, _plain(payload))


_COLLECTION_KINDS = frozenset(
    {
        "MultiPoint", "MultiLineString", "MultiPolygon",
        "GeometryCollection",
        # liblwgeom lwtype_is_collection: surfaces are patch
        # collections; a single TRIANGLE is not
        "PolyhedralSurface", "Tin",
    }
)


def iscollection_of(wkt) -> bool | None:
    """ST_IsCollection (r17): TRUE for every container kind — MULTI*,
    GEOMETRYCOLLECTION (including EMPTY and single-member), surfaces
    (POLYHEDRALSURFACE / TIN, the liblwgeom rule), and the curved
    containers MULTICURVE / MULTISURFACE. FALSE for single kinds in
    any dims form; unparseable input → NULL."""
    na = _norm_any(wkt)
    if na is not None:
        return na[0] in _COLLECTION_KINDS
    if wkt is not None:
        # dimensional GEOMETRYCOLLECTION (Z/M/ZM — the gc codec's
        # kinds sit outside _parse_any)
        g = W.read(wkt)
        if g is not None and g[0] == "GeometryCollection":
            return True
        cv = _wkb._curved_parse(wkt)
        if cv is not None:
            return cv[0].upper() in ("MULTICURVE", "MULTISURFACE")
    return None


def memsize_of(wkt) -> int | None:
    """ST_MemSize analog (r17): the byte size of the ENGINE's serialized
    form — the ISO WKB encoding (the same bytes st_asbinary returns).
    PostGIS reports its own in-memory serialization, which differs by
    that engine's header overhead; the NUMBER is engine-specific by
    definition, the contract (size of the serialized geometry) is the
    same. Unencodable input → NULL."""
    b = _wkb.wkt_to_wkb(wkt)
    return None if b is None else len(b)


def ordering_equals(wa, wb) -> bool | None:
    na, nb = _norm_any(wa), _norm_any(wb)
    if na is None or nb is None:
        return None
    return na == nb


# -- ST_ClipByBox2D ---------------------------------------------------------


def clip_by_box2d(g_wkt, box_wkt) -> str | None:
    if g_wkt is None or box_wkt is None:
        return None
    gb = G.parse_wkt(str(box_wkt).strip())
    if gb is None:
        return None
    pts = list(G._points(gb))
    if not pts:
        return None  # an empty box clips nothing meaningfully (PostGIS
        # errors on a NULL box2d) — loud
    x0, y0, x1, y1 = G.bbox(gb)
    if not all(math.isfinite(v) for v in (x0, y0, x1, y1)):
        return None
    f = G._fmt
    if x0 == x1 and y0 == y1:
        env = f"POINT ({f(x0)} {f(y0)})"
    elif x0 == x1 or y0 == y1:
        env = f"LINESTRING ({f(x0)} {f(y0)}, {f(x1)} {f(y1)})"
    else:
        env = G.to_wkt(G.Geometry.box(x0, y0, x1, y1))
    return _ov.intersection_wkt(g_wkt, env)


# -- ST_FilterByM -----------------------------------------------------------

_FILTER_KINDS = ("Point", "MultiPoint", "LineString", "MultiLineString")


def filter_by_m(wkt, m1, m2) -> str | None:
    for v in (m1, m2):
        if v is None:
            return None
        try:
            if math.isnan(float(v)):
                return None
        except (TypeError, ValueError):
            return None
    lo, hi = float(m1), float(m2)
    if wkt is None:
        return None
    s = str(wkt).strip()
    g = W.read(s)
    if g is None or "M" not in g[1]:
        return None  # 2-D / Z-only / junk: no M to filter — loud
    kind, dims, payload = g
    keep_z = "Z" in dims
    if kind not in _FILTER_KINDS:
        return None  # areal input errors in PostGIS

    def out_pt(p) -> tuple:
        return (p[0], p[1], p[2]) if keep_z else (p[0], p[1])

    def emit(kind2: str, shaped) -> str:
        return W.write(kind2, "Z" if keep_z else "", shaped)

    m_at = 3 if keep_z else 2
    if kind == "Point":
        if not payload:  # typed EMPTY
            return emit("Point", ())
        ok = lo <= payload[m_at] <= hi
        return emit("Point", out_pt(payload) if ok else ())
    if kind == "MultiPoint":
        kept = [out_pt(p) for p in payload if lo <= p[m_at] <= hi]
        return emit("MultiPoint", kept)
    if kind == "LineString":
        kept = [out_pt(p) for p in payload if lo <= p[m_at] <= hi]
        return emit("LineString", kept if len(kept) >= 2 else [])
    # MultiLineString: parts filter independently; short parts drop
    parts = []
    for ch in payload:
        kept = [out_pt(p) for p in ch if lo <= p[m_at] <= hi]
        if len(kept) >= 2:
            parts.append(kept)
    return emit("MultiLineString", parts)


# -- ST_LineFromMultiPoint ----------------------------------------------------


def line_from_multipoint(wkt) -> str | None:
    """PostGIS ST_LineFromMultiPoint: MULTIPOINT → LINESTRING in
    member order; fewer than 2 members cannot form the engine's
    LINESTRING (loud NULL); non-multipoint input → NULL."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    if s.upper() == "MULTIPOINT EMPTY":
        return None
    g = G.parse_wkt(s)
    if g is None or g.kind != "MultiPoint" or len(g.coords) < 2:
        return None
    return G.to_wkt(Geometry("LineString", list(g.coords)))


# -- ST_MakeBox2D -----------------------------------------------------------


def make_box2d(wa, wb) -> str | None:
    out = []
    for w in (wa, wb):
        if w is None:
            return None
        g = G.parse_wkt(str(w).strip())
        if g is None or g.kind != "Point":
            return None
        x, y = g.coords
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        out.append((x, y))
    (xa, ya), (xb, yb) = out
    f = G._fmt
    return (
        f"BOX({f(min(xa, xb))} {f(min(ya, yb))}, "
        f"{f(max(xa, xb))} {f(max(ya, yb))})"
    )


# -- 3-D rotations + ST_TransScale ------------------------------------------


def _null_num(*vals) -> bool:
    for v in vals:
        if v is None:
            return True
        try:
            if not math.isfinite(float(v)):
                return True
        except (TypeError, ValueError):
            return True
    return False


def _affine_dims(wkt, fn2, fn3) -> str | None:
    """Apply (fn2 on 2-D x,y | fn3 on x,y,z) across the codec stack;
    M passes through; M-only input rotates with z = 0 and the rotated
    z discarded (the PostGIS 2-D affine rule)."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    g = W.read(s)
    if g is None or not g[1] or g[0] == "GeometryCollection":
        return _affine_wkt(s, fn2)
    kind, dims, payload = g

    def f(p):
        if "Z" in dims:
            return (*fn3(p[0], p[1], p[2]), *p[3:])
        return (*fn2(p[0], p[1]), p[2])

    return W.write(kind, dims, W.map_points(kind, payload, f))


def rotate_x_wkt(wkt, theta) -> str | None:
    if _null_num(theta):
        return None
    c, s = math.cos(theta), math.sin(theta)
    return _affine_dims(
        wkt,
        lambda x, y: (x, c * y),
        lambda x, y, z: (x, c * y - s * z, s * y + c * z),
    )


def rotate_y_wkt(wkt, theta) -> str | None:
    if _null_num(theta):
        return None
    c, s = math.cos(theta), math.sin(theta)
    return _affine_dims(
        wkt,
        lambda x, y: (c * x, y),
        lambda x, y, z: (c * x + s * z, y, -s * x + c * z),
    )


def rotate_z_wkt(wkt, theta) -> str | None:
    if _null_num(theta):
        return None
    c, s = math.cos(theta), math.sin(theta)
    return _affine_dims(
        wkt,
        lambda x, y: (c * x - s * y, s * x + c * y),
        lambda x, y, z: (c * x - s * y, s * x + c * y, z),
    )


def transscale_wkt(wkt, dx, dy, xf, yf) -> str | None:
    if _null_num(dx, dy, xf, yf):
        return None
    dx, dy, xf, yf = float(dx), float(dy), float(xf), float(yf)
    return _affine_dims(
        wkt,
        lambda x, y: ((x + dx) * xf, (y + dy) * yf),
        lambda x, y, z: ((x + dx) * xf, (y + dy) * yf, z),
    )


# -- UDFs -------------------------------------------------------------------


@pandas_udf(BooleanType())
def st_orderingequals(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(ordering_equals, x, y) for x, y in zip(a, b)], dtype="object"
    )


@pandas_udf(StringType())
def st_clipbybox2d(g: pd.Series, box: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(clip_by_box2d, x, y) for x, y in zip(g, box)], dtype="object"
    )


@pandas_udf(StringType())
def st_filterbym(g: pd.Series, m1: pd.Series, m2: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(filter_by_m, *t) for t in zip(g, m1, m2)], dtype="object"
    )


@pandas_udf(StringType())
def st_linefrommultipoint(w: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(line_from_multipoint, x) for x in w], dtype="object"
    )


@pandas_udf(StringType())
def st_makebox2d(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(make_box2d, x, y) for x, y in zip(a, b)], dtype="object"
    )


@pandas_udf(StringType())
def st_rotatex(g: pd.Series, t: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(rotate_x_wkt, x, y) for x, y in zip(g, t)], dtype="object"
    )


@pandas_udf(StringType())
def st_rotatey(g: pd.Series, t: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(rotate_y_wkt, x, y) for x, y in zip(g, t)], dtype="object"
    )


@pandas_udf(StringType())
def st_rotatez(g: pd.Series, t: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(rotate_z_wkt, x, y) for x, y in zip(g, t)], dtype="object"
    )


@pandas_udf(StringType())
def st_transscale(
    g: pd.Series, dx: pd.Series, dy: pd.Series, xf: pd.Series, yf: pd.Series
) -> pd.Series:
    return pd.Series(
        [_safe(transscale_wkt, *t) for t in zip(g, dx, dy, xf, yf)],
        dtype="object",
    )


@pandas_udf(BooleanType())
def st_iscollection(w: pd.Series) -> pd.Series:
    """ST_IsCollection across every codec (2-D/Z/M/ZM, surfaces,
    curved, dimensional collections) — r17."""
    return pd.Series([_safe(iscollection_of, x) for x in w], dtype=object)


@pandas_udf(IntegerType())
def st_memsize(w: pd.Series) -> pd.Series:
    """ST_MemSize analog: serialized (ISO WKB) byte size — r17."""
    return pd.Series([_safe(memsize_of, x) for x in w], dtype=object)


ALL_MISC2_FUNCTIONS = {
    "st_orderingequals": st_orderingequals,
    "st_iscollection": st_iscollection,
    "st_memsize": st_memsize,
    "st_clipbybox2d": st_clipbybox2d,
    "st_filterbym": st_filterbym,
    "st_makebox2d": st_makebox2d,
    "st_linefrommultipoint": st_linefrommultipoint,
    "st_rotatex": st_rotatex,
    "st_rotatey": st_rotatey,
    "st_rotatez": st_rotatez,
    "st_transscale": st_transscale,
}
