"""ST_AsSVG / ST_AsLatLonText — the remaining PostGIS text exporters
(the reference forwards both names verbatim, src/index.ts:44-63).

``st_assvg(g, rel, maxdecimaldigits)`` — the lwgeom_svg.c output
shapes (PostGIS's documented examples pin them):

- SVG's y axis grows DOWNWARD, so every y is NEGATED.
- Point, absolute: ``cx="x" cy="-y"``; relative (rel = 1):
  ``x="x" y="-y"``.
- LineString, absolute: ``M x -y L x -y x -y …`` (every vertex after
  the first under one ``L``); relative: ``M x -y l dx -dy …``.
- Polygon: one subpath per ring — ``M … L … Z`` with the CLOSING
  VERTEX DROPPED (Z closes it); relative uses ``l`` and ``z``;
  subpaths joined by a single space.
- MultiPoint members joined by ``,``; MultiLineString / MultiPolygon
  members by `` ``; GeometryCollection members by ``;`` (the
  lwgeom_svg.c separators).
- ``maxdecimaldigits`` (PostGIS default 15) rounds coordinates
  half-even like PostgreSQL's printing; digits < 0 → NULL. Integer
  values print without a decimal point.
- typed EMPTY → empty string (PostGIS returns an empty path); junk /
  NULL / non-finite → loud NULL.

``st_aslatlontext(pt, format)`` — degree-minute-second formatting of
a POINT (PostGIS's signature; empty or NULL format = the default
``D°M'S.SSS"C``). The supported token language is the PostGIS core:

- runs of ``D`` / ``M`` / ``S`` = degrees / minutes / seconds,
  zero-padded to the run length; a ``.`` inside the run adds that
  many decimal digits (``S.SSS`` = seconds to 3 decimals).
- ``C`` = cardinal (N/S for latitude, E/W for longitude). When the
  format carries a ``C`` the number is absolute; without one the
  value keeps its sign.
- every other character is a literal. The same format renders
  latitude then longitude, space-separated.
- latitude is clamped to [-90, 90] after longitude-style wrapping of
  the input into [-180, 180) (PostGIS normalizes both); non-point /
  junk input → loud NULL.

Both map-only Arrow-batched pandas UDFs — no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry
from .wkt import _safe


def _fmt_digits(v: float, digits: int) -> str:
    r = round(v, digits)
    if r == int(r):
        return str(int(r))
    return G._fmt(r)  # shortest round-trip repr, PostGIS-style trimming


def _svg_pt(x, y, digits, rel) -> str:
    fx, fy = _fmt_digits(x, digits), _fmt_digits(-y, digits)
    if rel:
        return f'x="{fx}" y="{fy}"'
    return f'cx="{fx}" cy="{fy}"'


def _svg_path(pts, digits, rel, close) -> str:
    seq = list(pts)
    if close and len(seq) > 1 and seq[0] == seq[-1]:
        seq = seq[:-1]
    x0, y0 = seq[0]
    out = [f"M {_fmt_digits(x0, digits)} {_fmt_digits(-y0, digits)}"]
    if len(seq) > 1:
        if rel:
            body = []
            px, py = x0, y0
            for x, y in seq[1:]:
                body.append(
                    f"{_fmt_digits(x - px, digits)} "
                    f"{_fmt_digits(-(y - py), digits)}"
                )
                px, py = x, y
            out.append("l " + " ".join(body))
        else:
            out.append(
                "L "
                + " ".join(
                    f"{_fmt_digits(x, digits)} {_fmt_digits(-y, digits)}"
                    for x, y in seq[1:]
                )
            )
    if close:
        out.append("z" if rel else "Z")
    return " ".join(out)


def _svg_geom(g: Geometry, digits: int, rel: bool) -> str:
    if g.kind == "Point":
        return _svg_pt(g.coords[0], g.coords[1], digits, rel)
    if g.kind == "LineString":
        return _svg_path(g.coords, digits, rel, close=False)
    if g.kind == "Polygon":
        return " ".join(
            _svg_path(ring, digits, rel, close=True) for ring in g.coords
        )
    if g.kind == "MultiPoint":
        return ",".join(_svg_pt(x, y, digits, rel) for x, y in g.coords)
    if g.kind == "MultiLineString":
        return " ".join(
            _svg_path(ch, digits, rel, close=False) for ch in g.coords
        )
    if g.kind == "MultiPolygon":
        return " ".join(
            " ".join(_svg_path(r, digits, rel, close=True) for r in rings)
            for rings in g.coords
        )
    # GeometryCollection
    return ";".join(_svg_geom(sub, digits, rel) for sub in g.coords)


def as_svg(wkt, rel, digits) -> str | None:
    for v, lo, hi in ((rel, 0, 1), (digits, 0, 15)):
        if v is None:
            return None
        try:
            iv = int(v)
        except (TypeError, ValueError):
            return None
        if isinstance(v, float) and (math.isnan(v) or v != iv):
            return None
        if not lo <= iv <= hi:
            return None
    rel, digits = int(rel), int(digits)
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return ""  # PostGIS renders empties as an empty string
    g = G.parse_wkt(s)
    if g is None:
        return None
    if not all(
        math.isfinite(v) for p in G._points(g) for v in p
    ):
        return None
    return _svg_geom(g, digits, bool(rel))


_DEFAULT_LLT = "D°M'S.SSS\"C"


def _scan_tokens(fmt: str):
    """[(kind, width, decimals) | (lit, text)] token stream."""
    toks = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch in "DMSC":
            j = i
            while j < len(fmt) and fmt[j] == ch:
                j += 1
            width = j - i
            decimals = 0
            if (
                ch != "C"
                and j < len(fmt)
                and fmt[j] == "."
                and j + 1 < len(fmt)
                and fmt[j + 1] == ch
            ):
                k = j + 1
                while k < len(fmt) and fmt[k] == ch:
                    k += 1
                decimals = k - j - 1
                j = k
            toks.append((ch, width, decimals))
            i = j
        else:
            toks.append(("lit", ch, 0))
            i += 1
    return toks


def _render_llt(fmt: str, deg: float, is_lat: bool) -> str:
    toks = _scan_tokens(fmt)
    has_c = any(t[0] == "C" for t in toks)
    has_m = any(t[0] == "M" for t in toks)
    has_s = any(t[0] == "S" for t in toks)
    sign = -1 if deg < 0 else 1
    a = abs(deg)
    # round ONCE at the finest displayed resolution, then decompose in
    # exact integer arithmetic — no 59.9999→60 carry glitches
    if has_s:
        dec = max(t[2] for t in toks if t[0] == "S")
        unit = 3600
    elif has_m:
        dec = max(t[2] for t in toks if t[0] == "M")
        unit = 60
    else:
        dec = max((t[2] for t in toks if t[0] == "D"), default=0)
        unit = 1
    scale = 10**dec
    total = math.floor(a * unit * scale + 0.5)  # half away (a >= 0)
    if has_s:
        d_i, rem = divmod(total, 3600 * scale)
        m_i, s_i = divmod(rem, 60 * scale)
        vals = {"D": (d_i, 0), "M": (m_i, 0), "S": (s_i, dec)}
    elif has_m:
        d_i, m_i = divmod(total, 60 * scale)
        vals = {"D": (d_i, 0), "M": (m_i, dec), "S": (0, 0)}
    else:
        vals = {"D": (total, dec), "M": (0, 0), "S": (0, 0)}
    out = []
    for kind, width, decimals in toks:
        if kind == "lit":
            out.append(width)  # the literal character
        elif kind == "C":
            out.append(
                ("S" if sign < 0 else "N")
                if is_lat
                else ("W" if sign < 0 else "E")
            )
        else:
            scaled, own_dec = vals[kind]
            if not has_c and kind == "D" and sign < 0:
                out.append("-")
            if own_dec:
                whole, frac = divmod(scaled, 10**own_dec)
                shown = min(decimals, own_dec)
                txt = f"{whole:0{width}d}"
                if shown:
                    txt += "." + f"{frac:0{own_dec}d}"[:shown]
                out.append(txt)
            else:
                out.append(f"{scaled:0{width}d}")
    return "".join(out)


def as_latlon_text(wkt, fmt) -> str | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "Point":
        return None
    x, y = g.coords
    if not (math.isfinite(x) and math.isfinite(y)):
        return None
    f = _DEFAULT_LLT if fmt is None or str(fmt) == "" else str(fmt)
    # normalize: wrap lon into [-180, 180), clamp lat
    lon = math.fmod(x + 180.0, 360.0)
    if lon < 0:
        lon += 360.0
    lon -= 180.0
    lat = max(-90.0, min(90.0, y))
    return _render_llt(f, lat, True) + " " + _render_llt(f, lon, False)


@pandas_udf(StringType())
def st_assvg(w: pd.Series, rel: pd.Series, digits: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(as_svg, *t) for t in zip(w, rel, digits)], dtype="object"
    )


@pandas_udf(StringType())
def st_aslatlontext(w: pd.Series, fmt: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(as_latlon_text, a, b) for a, b in zip(w, fmt)], dtype="object"
    )


ALL_SVG_FUNCTIONS = {
    "st_assvg": st_assvg,
    "st_aslatlontext": st_aslatlontext,
}
