"""ST_Translate / ST_Scale / ST_Rotate — 2-D affine transforms (F12).

PostGIS users reach the affine family through the forwarding surface
(reference src/index.ts:44-63 — any PostGIS-accepted scalar rides the
rebuilt PostgreSQL query); these are the standard definitions:

    ST_Translate(g, dx, dy):  (x, y) → (x + dx, y + dy)
    ST_Scale(g, sx, sy):      (x, y) → (x·sx, y·sy)
    ST_Rotate(g, θ):          (x, y) → (x·cosθ − y·sinθ, x·sinθ + y·cosθ)
    ST_Affine(g, a, b, d, e, xoff, yoff):
                              (x, y) → (a·x + b·y + xoff, d·x + e·y + yoff)

``ST_Affine`` is the general 2-D form (the PostGIS 2-D signature with
the same parameter order) — translate/scale/rotate are its special
cases, and an integer-matrix ST_Affine is EXACT, which the driver row
exploits (a 90° rotation via ST_Rotate is transcendental, via
ST_Affine(g, 0, -1, 1, 0, 0, 0) it is exact integer arithmetic).

Rotation is about the origin with θ in radians, counter-clockwise —
PostGIS ST_Rotate's two-argument form. A negative-determinant scale
(sx·sy < 0) mirrors the plane, which reverses ring orientation; vertex
ORDER is preserved verbatim in all three (PostGIS behavior — affine
maps don't renormalize winding), so consumers that care about
orientation see exactly what PostGIS would hand them.

Scale shape: map-only vectorized pandas UDFs over WKT — per-vertex
closed forms, cost linear in vertices, no shuffle, no state. Null/junk
WKT → NULL (registry-wide null-safety contract).

Oracle note: translate/scale are exact float arithmetic reproducible in
SQL; rotation is transcendental (cos/sin last-ulp differs across libm
builds) — driver rows compare micro-int (floor(x·1e6 + 0.5)), far above
ulp noise at fixture magnitudes. New module so geometry.py's verified
fingerprint stays untouched (same isolation rationale as simplify.py /
projection.py).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
# projection.py owns the per-vertex traversal (raises on unknown kinds)
# — reusing it instead of a near-verbatim copy (code-review r8: an
# earlier copy here had silently dropped the unknown-kind guard)
from .projection import _map_coords
from .wkt import _EMPTY_RE

# The overlay functions emit typed EMPTY ('POLYGON EMPTY' etc.) and any
# affine image of an empty set is that same empty set — accept the
# extension so st_translate(st_symdifference(a, b), ...) composes
# instead of collapsing EMPTY to NULL (code-review r8). Same pattern as
# overlay._parse: the suffix alone on garbage stays NULL.


def _null_num(*vals) -> bool:
    # pandas hands SQL NULL doubles to the UDF as NaN, not None
    # (code-review r8: an `is None` guard alone leaked 'POINT (nan 3)')
    return any(v is None or (isinstance(v, float) and math.isnan(v)) for v in vals)


def _affine_wkt(wkt, f) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = _EMPTY_RE.match(s.upper())
    if m:
        # canonical form, not the input verbatim (code-review r8:
        # 'polygon  empty' must not leak through un-normalized)
        return f"{m.group(1)} EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    return G.to_wkt(_map_coords(g, f))


def translate_wkt(wkt, dx, dy) -> str | None:
    if _null_num(dx, dy):
        return None
    return _affine_wkt(wkt, lambda x, y: (x + dx, y + dy))


def scale_wkt(wkt, sx, sy) -> str | None:
    if _null_num(sx, sy):
        return None
    return _affine_wkt(wkt, lambda x, y: (x * sx, y * sy))


def rotate_wkt(wkt, theta) -> str | None:
    if _null_num(theta):
        return None
    c, s = math.cos(theta), math.sin(theta)
    return _affine_wkt(wkt, lambda x, y: (x * c - y * s, x * s + y * c))


def affine_wkt(wkt, a, b, d, e, xoff, yoff) -> str | None:
    if _null_num(a, b, d, e, xoff, yoff):
        return None
    return _affine_wkt(
        wkt, lambda x, y: (a * x + b * y + xoff, d * x + e * y + yoff)
    )


@pandas_udf(StringType())
def st_translate(w: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    return pd.Series(
        [translate_wkt(a, b, c) for a, b, c in zip(w, dx, dy)], dtype="object"
    )


@pandas_udf(StringType())
def st_scale(w: pd.Series, sx: pd.Series, sy: pd.Series) -> pd.Series:
    return pd.Series(
        [scale_wkt(a, b, c) for a, b, c in zip(w, sx, sy)], dtype="object"
    )


@pandas_udf(StringType())
def st_rotate(w: pd.Series, theta: pd.Series) -> pd.Series:
    return pd.Series(
        [rotate_wkt(a, b) for a, b in zip(w, theta)], dtype="object"
    )


@pandas_udf(StringType())
def st_affine(
    w: pd.Series,
    a: pd.Series,
    b: pd.Series,
    d: pd.Series,
    e: pd.Series,
    xoff: pd.Series,
    yoff: pd.Series,
) -> pd.Series:
    return pd.Series(
        [
            affine_wkt(*args)
            for args in zip(w, a, b, d, e, xoff, yoff)
        ],
        dtype="object",
    )


ALL_AFFINE_FUNCTIONS = {
    "st_translate": st_translate,
    "st_scale": st_scale,
    "st_rotate": st_rotate,
    "st_affine": st_affine,
}
