"""The one WKT codec: one reader, one writer and one re-dim step for
XY, Z, M and ZM geometry.

Model. A geometry is a ``(kind, dims, coords)`` triple:

- ``kind`` is ``Point``, ``LineString``, ``Polygon``, ``MultiPoint``,
  ``MultiLineString``, ``MultiPolygon`` or ``GeometryCollection``;
- ``dims`` is ``''``, ``'Z'``, ``'M'`` or ``'ZM'``, the tag as written;
- ``coords`` nests like ``geometry.Geometry.coords``: a Point is one
  vertex tuple, MultiPoint/LineString a list of vertices,
  Polygon/MultiLineString a list of lists, MultiPolygon a list of
  polygons. A GeometryCollection holds its members' triples, each with
  its own dims (the collection's tag is advisory; ``member_dims``
  gives the union of what the members carry).
- Vertex tuples are ``2 + len(dims)`` wide, in x, y[, z][, m] order.
  ``<KIND> [Z|M|ZM] EMPTY`` reads as ``()`` for a Point and ``[]`` for
  every other kind.

Acceptance rules, keyed by dims:

- Tagged text (Z, M, ZM) is read strictly: every vertex has exactly
  ``2 + len(dims)`` finite ordinates, every paren pair is present and
  nothing follows the body, a LineString has two or more vertices,
  and every polygon ring is closed with four or more vertices.
- XY text is read leniently, as the planar kernels always read it:
  the body ends at its last ``)`` and what follows is ignored (a
  missing final ``)`` too); a vertex is its first two ordinates, and
  ``nan``/``inf`` are accepted; rings need not be closed, a
  LineString may hold one vertex, and stray parens around a vertex or
  a ring are dropped.
- Collections nest at most ``MAX_DEPTH`` levels; each member is read
  under its own tag. ``members`` splits a collection whose parens
  close exactly into member texts, for the families (force, 3-D
  measures) that decide member by member.

The tokenizer (``_split_top``, ``_strip_parens``, ``_num`` and
``_EMPTY_RE``) and the NULL-on-error wrapper ``_safe`` are shared with
the curve grammar (``curves``), the surface grammar (``surface3d``) and
the rest of the library.
"""

from __future__ import annotations

import math
import re

KINDS = {
    "POINT": "Point",
    "LINESTRING": "LineString",
    "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint",
    "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon",
    "GEOMETRYCOLLECTION": "GeometryCollection",
}
_HEADS = {v: k for k, v in KINDS.items()}

# A typed EMPTY of any XY kind, matched against stripped, upper-cased
# text. The suffix alone on garbage stays unmatched.
_EMPTY_RE = re.compile(
    r"^(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|"
    r"GEOMETRYCOLLECTION)\s+EMPTY$"
)
_HEAD_RE = re.compile(
    r"\s*(MULTIPOLYGON|MULTILINESTRING|MULTIPOINT|POLYGON|LINESTRING|POINT|"
    r"GEOMETRYCOLLECTION)\s*(ZM|Z|M)?\b\s*(.*)",
    re.IGNORECASE | re.DOTALL,
)

_GC_RE = re.compile(
    r"\s*GEOMETRYCOLLECTION(?:\s+(?:ZM|Z|M))?\s*(.*)", re.IGNORECASE | re.DOTALL
)

MAX_DEPTH = 12  # collection nesting cap against adversarial input


# --- tokenizer ------------------------------------------------------------


def _split_top(body: str) -> list[str]:
    """Split ``body`` at commas outside parens; parts come stripped. A
    comma splits when the parens before it balance."""
    parts, cur, depth = [], [], 0
    for piece in body.split(","):
        cur.append(piece)
        depth += piece.count("(") - piece.count(")")
        if depth == 0:
            parts.append(",".join(cur).strip())
            cur = []
    if cur:
        parts.append(",".join(cur).strip())
    return parts


def _strip_parens(tok: str) -> str | None:
    """The inside of one ``( … )`` pair, stripped; None without one."""
    tok = tok.strip()
    if not (tok.startswith("(") and tok.endswith(")")):
        return None
    return tok[1:-1].strip()


def members(wkt) -> list[str] | None:
    """The member texts of a GEOMETRYCOLLECTION (any dims) whose parens
    close exactly, ``[]`` for EMPTY; None for anything else. The force
    and 3-D families recurse over these, so a member they cannot read
    decides for itself."""
    m = _GC_RE.fullmatch(str(wkt)) if wkt is not None else None
    if m is None:
        return None
    rest = m.group(1).strip()
    if rest.upper() == "EMPTY":
        return []
    body = _strip_parens(rest)
    if body is None:
        return None
    toks = _split_top(body)
    return None if "" in toks else toks


def _num(v) -> float | None:
    """``v`` as a finite float, or None (NULL, NaN, inf or junk)."""
    if v is None:
        return None
    try:
        f = float(v)
    except (TypeError, ValueError):
        return None
    return f if math.isfinite(f) else None


def _safe(fn, *args):
    """``fn(*args)``, or None when it raises: one bad row yields NULL
    instead of failing the whole Arrow batch."""
    try:
        return fn(*args)
    except Exception:
        return None


# --- reader ---------------------------------------------------------------


def _vertex(tok: str, width: int, lax: bool) -> tuple:
    parts = tok.split()
    if lax:
        return (float(parts[0]), float(parts[1]))
    if len(parts) != width:
        raise ValueError(tok)
    vals = tuple(float(p) for p in parts)
    if not all(math.isfinite(v) for v in vals):
        raise ValueError(tok)
    return vals


def _vertices(text: str, width: int, lax: bool) -> list:
    """The comma-separated vertices of ``text``."""
    if lax:  # _vertex's XY rule, inlined: the planar kernels' hot path
        return [(float(p[0]), float(p[1])) for p in map(str.split, text.split(","))]
    return [_vertex(t, width, lax) for t in text.split(",")]


def _chain(tok: str, width: int, lax: bool, ring: bool) -> list:
    inner = tok.strip("()") if lax else _strip_parens(tok)
    if inner is None:
        raise ValueError(tok)
    pts = _vertices(inner, width, lax)
    if not lax and ((len(pts) < 4 or pts[0] != pts[-1]) if ring else len(pts) < 2):
        raise ValueError(tok)
    return pts


def _polygon(tok: str, width: int, lax: bool) -> list:
    if lax:
        inner = tok[1:-1] if tok.startswith("(") else tok
    else:
        inner = _strip_parens(tok)
        if inner is None:
            raise ValueError(tok)
    return [_chain(r, width, lax, True) for r in _split_top(inner)]


def _coords(kind: str, dims: str, rest: str, depth: int):
    lax = not dims
    if lax:
        body = rest[1:].rsplit(")", 1)[0]
    elif rest.endswith(")"):
        body = rest[1:-1].strip()
    else:
        raise ValueError(rest)
    width = 2 + len(dims)
    if kind == "Point":
        return _vertex(body, width, lax)
    if kind == "LineString":
        pts = _vertices(body, width, lax)
        if not lax and len(pts) < 2:
            raise ValueError(body)
        return pts
    toks = _split_top(body)
    if kind == "GeometryCollection":
        if depth >= MAX_DEPTH:
            raise ValueError("nesting")
        members = [read(t, depth + 1) for t in toks]
        if None in members:
            raise ValueError(body)
        return members
    if kind == "MultiPoint":
        if lax:
            return [_vertex(t.strip("()"), width, lax) for t in toks]
        return [_vertex(_strip_parens(t) or t, width, lax) for t in toks]
    if kind == "MultiPolygon":
        return [_polygon(t, width, lax) for t in toks]
    return [_chain(t, width, lax, kind == "Polygon") for t in toks]


def read(wkt, _depth: int = 0):
    """``(kind, dims, coords)`` of a WKT string, or None when it does
    not read under the rules in the module docstring."""
    if wkt is None:
        return None
    m = _HEAD_RE.fullmatch(str(wkt))
    if m is None:
        return None
    kind = KINDS[m.group(1).upper()]
    dims = (m.group(2) or "").upper()
    rest = m.group(3).strip()
    if not rest.startswith("("):
        if rest.upper() == "EMPTY":
            return (kind, dims, () if kind == "Point" else [])
        return None
    try:
        return (kind, dims, _coords(kind, dims, rest, _depth))
    except (ValueError, IndexError):
        return None


# --- writer ---------------------------------------------------------------


def _fmt(v: float) -> str:
    """One ordinate: integral values without the trailing ``.0``."""
    return repr(int(v)) if float(v).is_integer() else repr(v)


def _pt(p) -> str:
    return " ".join(map(_fmt, p))


def _pt2(p) -> str:  # XY: the planar kernels' hot path
    return f"{_fmt(p[0])} {_fmt(p[1])}"


def write(kind: str, dims: str, coords) -> str:
    """WKT of a ``(kind, dims, coords)`` triple, in PostGIS ST_AsText
    form: ``POINT Z (1 2 3)``, ``LINESTRING EMPTY``. Tagged MultiPoint
    members are parenthesized, XY ones are not."""
    head = _HEADS[kind] + (" " + dims if dims else "")
    if not coords:
        return head + " EMPTY"
    pt = _pt if dims else _pt2
    if kind == "Point":
        return f"{head} ({pt(coords)})"

    def seq(pts) -> str:
        return "(" + ", ".join(map(pt, pts)) + ")"

    if kind == "LineString" or (kind == "MultiPoint" and not dims):
        return f"{head} {seq(coords)}"
    if kind == "MultiPoint":
        return f"{head} (" + ", ".join(f"({pt(p)})" for p in coords) + ")"
    if kind in ("Polygon", "MultiLineString"):
        return f"{head} (" + ", ".join(map(seq, coords)) + ")"
    if kind == "MultiPolygon":
        return f"{head} (" + ", ".join(
            "(" + ", ".join(map(seq, rings)) + ")" for rings in coords
        ) + ")"
    return f"{head} (" + ", ".join(write(*g) for g in coords) + ")"


# --- coordinates and dims -------------------------------------------------


def points(kind: str, coords):
    """Every vertex tuple of a triple's coords, in text order
    (collections recurse into their members)."""
    if kind == "Point":
        if coords:
            yield coords
    elif kind in ("LineString", "MultiPoint"):
        yield from coords
    elif kind in ("Polygon", "MultiLineString"):
        for ch in coords:
            yield from ch
    elif kind == "MultiPolygon":
        for rings in coords:
            for ring in rings:
                yield from ring
    else:
        for g in coords:
            yield from points(g[0], g[2])


def map_points(kind: str, coords, fn):
    """``coords`` with ``fn`` applied to every vertex (not for
    collections: their members carry their own dims)."""
    if kind == "Point":
        return fn(coords) if coords else coords
    if kind in ("LineString", "MultiPoint"):
        return [fn(p) for p in coords]
    if kind in ("Polygon", "MultiLineString"):
        return [[fn(p) for p in ch] for ch in coords]
    return [[[fn(p) for p in ring] for ring in rings] for rings in coords]


def member_dims(g) -> str:
    """The dims a triple carries: its own tag, or for a collection the
    union over its members (nested collections included)."""
    kind, dims, coords = g
    if kind != "GeometryCollection":
        return dims
    has = "".join(member_dims(m) for m in coords)
    return ("Z" if "Z" in has else "") + ("M" if "M" in has else "")


def redim(g, dims: str, z: float = 0.0, m: float = 0.0):
    """The triple in ``dims``: a missing Z or M is filled with ``z`` or
    ``m``, an unwanted one dropped. Collections re-dim every member."""
    kind, src, coords = g
    if kind == "GeometryCollection":
        return (kind, dims, [redim(x, dims, z, m) for x in coords])
    if src == dims:
        return (kind, dims, coords)
    mi = 3 if "Z" in src else 2

    def fix(p):
        out = p[:2]
        if "Z" in dims:
            out += (p[2] if "Z" in src else z,)
        if "M" in dims:
            out += (p[mi] if "M" in src else m,)
        return out

    return (kind, dims, map_points(kind, coords, fix))
