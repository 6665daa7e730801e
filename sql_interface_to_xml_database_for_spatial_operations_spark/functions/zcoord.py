"""Z (3-D) coordinate support (F12 remainder, r15 — VERDICT r14
missing item 1): ST_Z / ST_ZMin / ST_ZMax / ST_Force3D(Z) /
ST_3DDistance / ST_3DLength. The reference forwards PostGIS names
verbatim (src/index.ts:44-63), and elevation / LiDAR / GPS-altitude
datasets carry Z on day one — previously the engine's
highest-frequency loud-NULL refusal.

The Z dimension lives in THIS module: a self-contained
``… Z (x y z)`` / ``… ZM (x y z m)`` WKT codec over the six
simple-feature kinds (POINT / MULTIPOINT / LINESTRING /
MULTILINESTRING / POLYGON / MULTIPOLYGON) so the core 2-D geometry
kernel stays untouched — the proven measure_m.py template (r14).
Output mirrors PostGIS ST_AsText: ``POINT Z (1 2 3)``,
``POLYGON Z ((x y z, …))``, ``MULTIPOINT ZM ((x y z m), …)``.

Semantics (PostGIS-matching unless noted):

- ``st_z(point)`` — the Z of a POINT Z / POINT ZM; NULL for 2-D or
  M-only points (the coordinate is absent) and non-points (loud).
- ``st_zmin(g)`` / ``st_zmax(g)`` — min/max Z over all vertices of a
  Z/ZM geometry; no Z or EMPTY → loud NULL.
- ``st_force3d(g)`` / ``st_force3dz(g, z)`` — force XYZ mode: 2-D
  input gains Z = z (default 0), Z input echoes canonically, ZM and
  M-only input drop M and keep/gain Z (liblwgeom ``force_dims(hasz=1,
  hasm=0)`` — PostGIS ST_Force3DZ discards M). GEOMETRYCOLLECTION is
  outside the Z codec's kinds → documented loud NULL.
- ``st_3dlength(line)`` — cumulative 3-D arc length of a lineal
  geometry; 2-D / M-only lineal input computes with Z = 0 (PostGIS
  behavior: missing Z contributes nothing). Non-lineal → loud NULL.
- ``st_3ddistance(a, b)`` — minimum 3-D distance between puntal /
  lineal geometries (any mix of 2-D / M / Z / ZM — absent Z reads 0,
  PostGIS's convention for mixed-dimension pairs). Point–point,
  point–segment, and segment–segment closed forms (Ericson,
  *Real-Time Collision Detection* §5.1.9 — the public algorithm GEOS
  uses); areal operands are a documented loud NULL (PostGIS supports
  planar polygon faces; this engine's 3-D surface model does not).
- ``st_3ddwithin(a, b, d)`` / ``st_3dclosestpoint(a, b)`` /
  ``st_3dshortestline(a, b)`` — the same kernel's predicate and
  witness forms (ties take the first minimum in scan order —
  deterministic); ``st_3dmaxdistance(a, b)`` — |p − q| is convex
  along each segment, so the maximum is EXACT over vertex pairs.
- ``st_3dlineinterpolatepoint(line, f)`` — the POINT Z at fraction f
  of the 3-D arc length of a LINESTRING (last-segment fallback by
  index — the measure_m r14 lesson); ``st_3dperimeter(areal)`` — the
  3-D length of every ring.

All map-only Arrow-batched pandas UDFs — no shuffle; pairwise
kernels carry the linearref-style work budget so adversarial
many-vertex rows degrade to a loud NULL, never a hot loop.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry

_Z_KINDS = (
    "POINT",
    "MULTIPOINT",
    "LINESTRING",
    "MULTILINESTRING",
    "POLYGON",
    "MULTIPOLYGON",
)
_CANON = {
    "POINT": "Point",
    "MULTIPOINT": "MultiPoint",
    "LINESTRING": "LineString",
    "MULTILINESTRING": "MultiLineString",
    "POLYGON": "Polygon",
    "MULTIPOLYGON": "MultiPolygon",
}
_HEAD_RE = re.compile(
    r"^\s*(POINT|MULTIPOINT|LINESTRING|MULTILINESTRING|POLYGON|"
    r"MULTIPOLYGON)\s*(ZM|Z)\b\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)

# point-segment-evaluation budget for the pairwise 3-D distance kernel
# (the linearref.py:209 convention): beyond this the row is a loud
# NULL, never a multi-second driver-side loop
_MAX_PAIR_WORK = 4_000_000


def _fmt(v: float) -> str:
    return G._fmt(v)


# --- GEOMETRYCOLLECTION Z / M / ZM (r16, VERDICT r15 task 4) -------------
#
# Collections stay OUTSIDE the per-kind payload codec (every consumer
# below switches on the six simple-feature kinds); instead the GC
# layer works on the WKT STRING: split the top-level members, recurse
# the member operation, reassemble with the collection's dim tag.
# Members self-describe their dimensionality, so mixed/malformed
# members fail loudly through the member kernels themselves.

_GC_RE = re.compile(
    r"^\s*GEOMETRYCOLLECTION(?:\s+(ZM|Z|M))?\s*(.*)$", re.I | re.S
)
_GC_MAX_DEPTH = 12  # adversarial nesting cap (the wkb.py stance)


def gc_parts(wkt):
    """(dim_tag, [member WKT strings]) for a GEOMETRYCOLLECTION of any
    dimensionality ('' tag for plain 2-D; EMPTY → []); None when the
    input is not a collection or the member list is malformed."""
    if wkt is None:
        return None
    mt = _GC_RE.match(str(wkt))
    if not mt:
        return None
    tag = (mt.group(1) or "").upper()
    rest = mt.group(2).strip()
    if rest.upper() == "EMPTY":
        return tag, []
    body = _strip_parens(rest)
    if body is None:
        return None
    toks = _split_top(body)
    if toks is None or any(not t for t in toks):
        return None
    return tag, toks


def _gc_map(wkt, member_fn, tag: str) -> str | None:
    """Reassembled 'GEOMETRYCOLLECTION <tag> (…)' with ``member_fn``
    applied to every member (member_fn handles nested collections via
    its own GC branch); None if any member refuses."""
    gp = gc_parts(wkt)
    if gp is None:
        return None
    _, toks = gp
    head = f"GEOMETRYCOLLECTION {tag}".rstrip()
    if not toks:
        return f"{head} EMPTY"
    out = []
    for t in toks:
        r = member_fn(t)
        if r is None:
            return None
        out.append(r)
    return f"{head} (" + ", ".join(out) + ")"


def gc_dims(wkt, _depth: int = 0) -> str | None:
    """'', 'Z', 'M', or 'ZM' for a GEOMETRYCOLLECTION WKT — from the
    members' own tags (the collection tag is advisory); None when the
    input is not a well-formed collection. Mixed members report the
    union of dimensions present (PostGIS collections are uniform; a
    hand-built mixed one still answers honestly)."""
    if _depth > _GC_MAX_DEPTH:
        return None
    gp = gc_parts(wkt)
    if gp is None:
        return None
    _, toks = gp
    has_z = has_m = False
    for t in toks:
        sub = gc_dims(t, _depth + 1)
        if sub is None:
            pz = parse_z_wkt(t)
            if pz is not None:
                sub = "ZM" if pz[1] else "Z"
            else:
                from . import measure_m as _mm

                if _mm.parse_m_wkt(t) is not None:
                    sub = "M"
                elif (
                    _ov._EMPTY_RE.match(t.strip().upper())
                    or G.parse_wkt(t) is not None
                ):
                    sub = ""
                else:
                    return None
        has_z = has_z or "Z" in sub
        has_m = has_m or "M" in sub
    return ("Z" if has_z else "") + ("M" if has_m else "")


def _tuple_of(tok: str, width: int):
    parts = tok.split()
    if len(parts) != width:
        return None
    try:
        vals = tuple(float(p) for p in parts)
    except ValueError:
        return None
    if not all(math.isfinite(v) for v in vals):
        return None
    return vals


def _split_top(body: str) -> list[str] | None:
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return None
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [s.strip() for s in out]


def _strip_parens(tok: str) -> str | None:
    tok = tok.strip()
    if not (tok.startswith("(") and tok.endswith(")")):
        return None
    return tok[1:-1].strip()


def _parse_ring(tok: str, width: int):
    inner = _split_top(tok)
    if inner is None:
        return None
    pts = [_tuple_of(t, width) for t in inner]
    if any(p is None for p in pts):
        return None
    return pts


def _valid_poly_ring(ring) -> bool:
    # the 2-D parser's ring contract: ≥ 4 vertices, closed in x/y/z(/m)
    return len(ring) >= 4 and ring[0] == ring[-1]


def parse_z_wkt(wkt):
    """('Point'|…|'MultiPolygon', has_m, payload) for a Z- or ZM-typed
    WKT; None for anything else (2-D and M-only WKT included).
    Payload: Point → tuple; MultiPoint/LineString → [tuple];
    Polygon/MultiLineString → [[tuple]]; MultiPolygon → [[[tuple]]].
    ``<KIND> Z EMPTY`` → empty payload. Tuples are (x, y, z) or
    (x, y, z, m)."""
    if wkt is None:
        return None
    mt = _HEAD_RE.match(str(wkt))
    if not mt:
        return None
    canon = _CANON[mt.group(1).upper()]
    has_m = mt.group(2).upper() == "ZM"
    width = 4 if has_m else 3
    rest = mt.group(3).strip()
    if rest.upper() == "EMPTY":
        return (canon, has_m, () if canon == "Point" else [])
    body = _strip_parens(rest)
    if body is None:
        return None
    if canon == "Point":
        t = _tuple_of(body, width)
        return None if t is None else (canon, has_m, t)
    toks = _split_top(body)
    if toks is None:
        return None
    if canon in ("MultiPoint", "LineString"):
        pts = []
        for tok in toks:
            tok = tok.strip()
            if canon == "MultiPoint":
                stripped = _strip_parens(tok)
                if stripped is not None:
                    tok = stripped
            t = _tuple_of(tok, width)
            if t is None:
                return None
            pts.append(t)
        if canon == "LineString" and len(pts) < 2:
            return None
        return (canon, has_m, pts)
    if canon in ("MultiLineString", "Polygon"):
        chains = []
        for tok in toks:
            inner = _strip_parens(tok)
            if inner is None:
                return None
            pts = _parse_ring(inner, width)
            if pts is None:
                return None
            if canon == "Polygon":
                if not _valid_poly_ring(pts):
                    return None
            elif len(pts) < 2:
                return None
            chains.append(pts)
        return (canon, has_m, chains)
    # MultiPolygon
    polys = []
    for tok in toks:
        poly_body = _strip_parens(tok)
        if poly_body is None:
            return None
        ring_toks = _split_top(poly_body)
        if ring_toks is None:
            return None
        rings = []
        for rt in ring_toks:
            inner = _strip_parens(rt)
            if inner is None:
                return None
            pts = _parse_ring(inner, width)
            if pts is None or not _valid_poly_ring(pts):
                return None
            rings.append(pts)
        if not rings:
            return None
        polys.append(rings)
    return (canon, has_m, polys)


def _pt(p) -> str:
    return " ".join(_fmt(v) for v in p)


def to_z_wkt(kind: str, has_m: bool, payload) -> str:
    tag = "ZM" if has_m else "Z"
    head = f"{kind.upper()} {tag} "
    if kind == "Point":
        if not payload:
            return f"POINT {tag} EMPTY"
        return head + f"({_pt(payload)})"
    if not payload:
        return f"{kind.upper()} {tag} EMPTY"
    if kind == "MultiPoint":
        return head + "(" + ", ".join(f"({_pt(p)})" for p in payload) + ")"
    if kind == "LineString":
        return head + "(" + ", ".join(_pt(p) for p in payload) + ")"
    if kind in ("MultiLineString", "Polygon"):
        return head + "(" + ", ".join(
            "(" + ", ".join(_pt(p) for p in ch) + ")" for ch in payload
        ) + ")"
    return head + "(" + ", ".join(
        "(" + ", ".join(
            "(" + ", ".join(_pt(p) for p in ring) + ")" for ring in rings
        ) + ")"
        for rings in payload
    ) + ")"


def _num(v) -> float | None:
    if v is None:
        return None
    try:
        f = float(v)
    except (TypeError, ValueError):
        return None
    return f if math.isfinite(f) else None


def _iter_pts(kind: str, payload):
    if kind == "Point":
        if payload:
            yield payload
        return
    if kind in ("MultiPoint", "LineString"):
        yield from payload
        return
    if kind in ("MultiLineString", "Polygon"):
        for ch in payload:
            yield from ch
        return
    for rings in payload:
        for ring in rings:
            yield from ring


def dims_of(wkt) -> str | None:
    """'Z' or 'ZM' when this codec owns the WKT, else None."""
    pz = parse_z_wkt(wkt)
    if pz is None:
        return None
    return "ZM" if pz[1] else "Z"


def z_of_point(wkt) -> float | None:
    pz = parse_z_wkt(wkt)
    if pz is None:
        return None
    kind, _, payload = pz
    if kind == "Point" and payload:
        return payload[2]
    return None


def m_of_zm_point(wkt) -> float | None:
    """The M of a POINT ZM (measure_m.st_m delegates ZM points here)."""
    pz = parse_z_wkt(wkt)
    if pz is None:
        return None
    kind, has_m, payload = pz
    if kind == "Point" and has_m and payload:
        return payload[3]
    return None


def _all_z(wkt, _depth: int = 0) -> list | None:
    if _depth > _GC_MAX_DEPTH:
        return None
    pz = parse_z_wkt(wkt)
    if pz is not None:
        kind, _, payload = pz
        return [p[2] for p in _iter_pts(kind, payload)]
    gp = gc_parts(wkt)
    if gp is None:
        return None
    # collection: concatenate members' Z values; Z-less members
    # contribute nothing (PostGIS ST_ZMin over mixed collections)
    zs: list = []
    for t in gp[1]:
        sub = _all_z(t, _depth + 1)
        if sub is not None:
            zs.extend(sub)
    return zs


def zmin_of(wkt) -> float | None:
    zs = _all_z(wkt)
    return min(zs) if zs else None


def zmax_of(wkt) -> float | None:
    zs = _all_z(wkt)
    return max(zs) if zs else None


def _map_pts(kind: str, payload, fn):
    if kind == "Point":
        return fn(payload) if payload else payload
    if kind in ("MultiPoint", "LineString"):
        return [fn(p) for p in payload]
    if kind in ("MultiLineString", "Polygon"):
        return [[fn(p) for p in ch] for ch in payload]
    return [[[fn(p) for p in ring] for ring in rings] for rings in payload]


def force3d_wkt(wkt, z0=0.0, _depth: int = 0) -> str | None:
    """PostGIS ST_Force3DZ: XYZ mode. 2-D gains Z = z0; Z echoes;
    ZM / M-only drop M (force_dims(hasz=1, hasm=0)); collections
    recurse member-wise into GEOMETRYCOLLECTION Z (r16 — the r15
    loud-NULL tier retired)."""
    z = _num(z0)
    if wkt is None or z is None or _depth > _GC_MAX_DEPTH:
        return None
    if gc_parts(wkt) is not None:
        return _gc_map(wkt, lambda w: force3d_wkt(w, z, _depth + 1), "Z")
    pz = parse_z_wkt(wkt)
    if pz is not None:
        kind, has_m, payload = pz
        if not has_m:
            return to_z_wkt(kind, False, payload)
        return to_z_wkt(kind, False, _map_pts(kind, payload, lambda p: p[:3]))
    from . import measure_m as _mm

    pm = _mm.parse_m_wkt(wkt)
    if pm is not None:
        kind, payload = pm
        return to_z_wkt(
            kind, False, _map_pts(kind, payload, lambda p: (p[0], p[1], z))
        )
    s = str(wkt).strip()
    mt = _ov._EMPTY_RE.match(s.upper())
    if mt:
        kind = mt.group(1)
        if kind not in _Z_KINDS:
            return None
        return f"{kind} Z EMPTY"
    g = G.parse_wkt(s)
    if g is None or g.kind == "GeometryCollection":
        return None
    return to_z_wkt(
        g.kind, False, _map_pts(g.kind, g.coords, lambda p: (p[0], p[1], z))
    )


def force3dm_wkt(wkt, m0=0.0, _depth: int = 0) -> str | None:
    """PostGIS ST_Force3DM: XYM mode. 2-D gains M = m0; M echoes;
    Z drops z and gains M = m0; ZM drops z keeping its M; collections
    recurse member-wise into GEOMETRYCOLLECTION M (r16)."""
    m = _num(m0)
    if wkt is None or m is None or _depth > _GC_MAX_DEPTH:
        return None
    if gc_parts(wkt) is not None:
        return _gc_map(wkt, lambda w: force3dm_wkt(w, m, _depth + 1), "M")
    from . import measure_m as _mm

    pz = parse_z_wkt(wkt)
    if pz is not None:
        kind, has_m, payload = pz
        if has_m:
            return _mm.to_m_wkt(
                kind, _map_pts(kind, payload, lambda p: (p[0], p[1], p[3]))
            )
        return _mm.to_m_wkt(
            kind, _map_pts(kind, payload, lambda p: (p[0], p[1], m))
        )
    pm = _mm.parse_m_wkt(wkt)
    if pm is not None:
        kind, payload = pm
        return _mm.to_m_wkt(kind, payload)  # canonical echo
    s = str(wkt).strip()
    mt = _ov._EMPTY_RE.match(s.upper())
    if mt:
        kind = mt.group(1)
        if kind not in _Z_KINDS:
            return None
        return f"{kind} M EMPTY"
    g = G.parse_wkt(s)
    if g is None or g.kind == "GeometryCollection":
        return None
    return _mm.to_m_wkt(
        g.kind, _map_pts(g.kind, g.coords, lambda p: (p[0], p[1], m))
    )


def force4d_wkt(wkt, z0=0.0, m0=0.0, _depth: int = 0) -> str | None:
    """PostGIS ST_Force4D: XYZM mode. 2-D gains (z0, m0); Z gains
    M = m0; M gains Z = z0; ZM echoes canonically; collections recurse
    member-wise into GEOMETRYCOLLECTION ZM (r16)."""
    z, m = _num(z0), _num(m0)
    if wkt is None or z is None or m is None or _depth > _GC_MAX_DEPTH:
        return None
    if gc_parts(wkt) is not None:
        return _gc_map(wkt, lambda w: force4d_wkt(w, z, m, _depth + 1), "ZM")
    from . import measure_m as _mm

    pz = parse_z_wkt(wkt)
    if pz is not None:
        kind, has_m, payload = pz
        if has_m:
            return to_z_wkt(kind, True, payload)
        return to_z_wkt(
            kind, True, _map_pts(kind, payload, lambda p: (*p, m))
        )
    pm = _mm.parse_m_wkt(wkt)
    if pm is not None:
        kind, payload = pm
        return to_z_wkt(
            kind, True,
            _map_pts(kind, payload, lambda p: (p[0], p[1], z, p[2])),
        )
    s = str(wkt).strip()
    mt = _ov._EMPTY_RE.match(s.upper())
    if mt:
        kind = mt.group(1)
        if kind not in _Z_KINDS:
            return None
        return f"{kind} ZM EMPTY"
    g = G.parse_wkt(s)
    if g is None or g.kind == "GeometryCollection":
        return None
    return to_z_wkt(
        g.kind, True,
        _map_pts(g.kind, g.coords, lambda p: (p[0], p[1], z, m)),
    )


def ndims_of(wkt) -> int | None:
    """PostGIS ST_NDims / ST_CoordDim: 2 (XY), 3 (XYZ or XYM), 4
    (XYZM) — across the full codec stack incl. surfaces."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    pz = parse_z_wkt(s)
    if pz is not None:
        return 4 if pz[1] else 3
    from . import measure_m as _mm

    if _mm.parse_m_wkt(s) is not None:
        return 3
    from . import surface3d as _s3

    ps = _s3.parse_surface_wkt(s)
    if ps is not None:
        return 2 + len(ps[1])  # dims tag: '' 2, 'Z'/'M' 3, 'ZM' 4 (r17)
    gd = gc_dims(s)
    if gd is not None:
        return 2 + len(gd)  # '' 2, 'Z'/'M' 3, 'ZM' 4
    if _ov._EMPTY_RE.match(s.upper()) or G.parse_wkt(s) is not None:
        return 2
    return None


def force2d_z_wkt(wkt) -> str | None:
    """Drop Z (and M) from a Z/ZM WKT into the canonical 2-D form;
    None when this codec does not own the WKT (callers fall through
    to the M / 2-D paths)."""
    pz = parse_z_wkt(wkt)
    if pz is None:
        return None
    kind, _, payload = pz
    if kind == "Point":
        if not payload:
            return "POINT EMPTY"
        return G.to_wkt(Geometry("Point", (payload[0], payload[1])))
    if not payload:
        return f"{kind.upper()} EMPTY"
    return G.to_wkt(
        Geometry(kind, _map_pts(kind, payload, lambda p: (p[0], p[1])))
    )


# ---------------------------------------------------------------------------
# 3-D primitives: any puntal/lineal WKT (2-D, M, Z, ZM) → points + segments
# ---------------------------------------------------------------------------


def _prims_3d(wkt, _depth: int = 0):
    """([points], [segments]) in XYZ (absent Z reads 0), or None for
    non-puntal/lineal input. Segments are ((x,y,z), (x,y,z)).
    Collections concatenate their members' primitives (r16); any areal
    member keeps the whole input loud-NULL."""
    if _depth > _GC_MAX_DEPTH:
        return None
    gp = gc_parts(wkt)
    if gp is not None:
        pts: list = []
        segs: list = []
        for t in gp[1]:
            sub = _prims_3d(t, _depth + 1)
            if sub is None:
                return None
            pts.extend(sub[0])
            segs.extend(sub[1])
        return (pts, segs)
    pz = parse_z_wkt(wkt)
    if pz is not None:
        kind, _, payload = pz
        if kind in ("Polygon", "MultiPolygon"):
            return None
        xyz = lambda p: (p[0], p[1], p[2])  # noqa: E731
        if kind == "Point":
            return ([xyz(payload)] if payload else [], [])
        if kind == "MultiPoint":
            return ([xyz(p) for p in payload], [])
        chains = [payload] if kind == "LineString" else payload
        segs = [
            (xyz(p), xyz(q)) for ch in chains for p, q in zip(ch, ch[1:])
        ]
        return ([], segs)
    from . import measure_m as _mm

    pm = _mm.parse_m_wkt(wkt)
    if pm is not None:
        kind, payload = pm
        xy0 = lambda p: (p[0], p[1], 0.0)  # noqa: E731
        if kind == "Point":
            return ([xy0(payload)] if payload else [], [])
        if kind == "MultiPoint":
            return ([xy0(p) for p in payload], [])
        chains = [payload] if kind == "LineString" else payload
        segs = [
            (xy0(p), xy0(q)) for ch in chains for p, q in zip(ch, ch[1:])
        ]
        return ([], segs)
    s = str(wkt).strip()
    mt = _ov._EMPTY_RE.match(s.upper())
    if mt:
        if mt.group(1) in ("POINT", "MULTIPOINT", "LINESTRING", "MULTILINESTRING"):
            return ([], [])
        return None
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind == "Point":
        return ([(g.coords[0], g.coords[1], 0.0)], [])
    if g.kind == "MultiPoint":
        return ([(x, y, 0.0) for x, y in g.coords], [])
    if g.kind in ("LineString", "MultiLineString"):
        chains = [g.coords] if g.kind == "LineString" else g.coords
        segs = [
            ((p[0], p[1], 0.0), (q[0], q[1], 0.0))
            for ch in chains
            for p, q in zip(ch, ch[1:])
        ]
        return ([], segs)
    return None


def _d3(p, q) -> float:
    return math.sqrt(
        (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2
    )


def _pt_seg_w3(p, a, b):
    """(distance, closest point on [a, b]) for a 3-D point."""
    ab = (b[0] - a[0], b[1] - a[1], b[2] - a[2])
    ap = (p[0] - a[0], p[1] - a[1], p[2] - a[2])
    denom = ab[0] ** 2 + ab[1] ** 2 + ab[2] ** 2
    if denom == 0.0:
        return (_d3(p, a), a)
    t = (ap[0] * ab[0] + ap[1] * ab[1] + ap[2] * ab[2]) / denom
    t = 0.0 if t < 0.0 else 1.0 if t > 1.0 else t
    c = (a[0] + t * ab[0], a[1] + t * ab[1], a[2] + t * ab[2])
    return (_d3(p, c), c)


def _pt_seg_d3(p, a, b) -> float:
    return _pt_seg_w3(p, a, b)[0]


def _seg_seg_w3(p1, q1, p2, q2):
    """(distance, witness on A, witness on B) for 3-D segments —
    Ericson RTCD §5.1.9 (clamped quadratic; degenerate segments fall
    back to the point kernels)."""
    d1 = (q1[0] - p1[0], q1[1] - p1[1], q1[2] - p1[2])
    d2 = (q2[0] - p2[0], q2[1] - p2[1], q2[2] - p2[2])
    r = (p1[0] - p2[0], p1[1] - p2[1], p1[2] - p2[2])
    a = d1[0] ** 2 + d1[1] ** 2 + d1[2] ** 2
    e = d2[0] ** 2 + d2[1] ** 2 + d2[2] ** 2
    f = d2[0] * r[0] + d2[1] * r[1] + d2[2] * r[2]
    if a == 0.0 and e == 0.0:
        return (_d3(p1, p2), p1, p2)
    if a == 0.0:
        d, c = _pt_seg_w3(p1, p2, q2)
        return (d, p1, c)
    if e == 0.0:
        d, c = _pt_seg_w3(p2, p1, q1)
        return (d, c, p2)
    c = d1[0] * r[0] + d1[1] * r[1] + d1[2] * r[2]
    b = d1[0] * d2[0] + d1[1] * d2[1] + d1[2] * d2[2]
    denom = a * e - b * b
    s = 0.0 if denom == 0.0 else max(0.0, min(1.0, (b * f - c * e) / denom))
    t = (b * s + f) / e
    if t < 0.0:
        t = 0.0
        s = max(0.0, min(1.0, -c / a))
    elif t > 1.0:
        t = 1.0
        s = max(0.0, min(1.0, (b - c) / a))
    c1 = (p1[0] + s * d1[0], p1[1] + s * d1[1], p1[2] + s * d1[2])
    c2 = (p2[0] + t * d2[0], p2[1] + t * d2[1], p2[2] + t * d2[2])
    return (_d3(c1, c2), c1, c2)


def _seg_seg_d3(p1, q1, p2, q2) -> float:
    return _seg_seg_w3(p1, q1, p2, q2)[0]


def length3d_wkt(wkt) -> float | None:
    """3-D arc length of a lineal geometry (absent Z reads 0)."""
    if wkt is None:
        return None
    prims = _prims_3d(wkt)
    if prims is None:
        return None
    pts, segs = prims
    if pts:
        return None  # puntal input has no length — loud NULL
    return sum(_d3(a, b) for a, b in segs)


def _closest3d(a_wkt, b_wkt):
    """(distance, witness on a, witness on b) — None outside the
    puntal/lineal contract or past the work budget. Ties take the
    first minimum in scan order (deterministic)."""
    if a_wkt is None or b_wkt is None:
        return None
    pa = _prims_3d(a_wkt)
    pb = _prims_3d(b_wkt)
    if pa is None or pb is None:
        return None
    pts_a, segs_a = pa
    pts_b, segs_b = pb
    if not (pts_a or segs_a) or not (pts_b or segs_b):
        return None  # EMPTY operand
    na = len(pts_a) + 2 * len(segs_a)
    nb = len(pts_b) + 2 * len(segs_b)
    if na * nb > _MAX_PAIR_WORK:
        return None  # loud work budget (linearref.py convention)
    best = (math.inf, None, None)
    for p in pts_a:
        for q in pts_b:
            d = _d3(p, q)
            if d < best[0]:
                best = (d, p, q)
        for s, t in segs_b:
            d, c = _pt_seg_w3(p, s, t)
            if d < best[0]:
                best = (d, p, c)
    for s, t in segs_a:
        for q in pts_b:
            d, c = _pt_seg_w3(q, s, t)
            if d < best[0]:
                best = (d, c, q)
        for u, v in segs_b:
            d, c1, c2 = _seg_seg_w3(s, t, u, v)
            if d < best[0]:
                best = (d, c1, c2)
    return best


def distance3d_wkt(a_wkt, b_wkt) -> float | None:
    out = _closest3d(a_wkt, b_wkt)
    return None if out is None else out[0]


def dwithin3d_wkt(a_wkt, b_wkt, d) -> bool | None:
    """ST_3DDWithin over the same puntal/lineal kernel."""
    dv = _num(d)
    if dv is None or dv < 0.0:
        return None
    out = _closest3d(a_wkt, b_wkt)
    return None if out is None else out[0] <= dv


def closestpoint3d_wkt(a_wkt, b_wkt) -> str | None:
    """ST_3DClosestPoint: the point ON a nearest to b (POINT Z)."""
    out = _closest3d(a_wkt, b_wkt)
    if out is None:
        return None
    return to_z_wkt("Point", False, out[1])


def shortestline3d_wkt(a_wkt, b_wkt) -> str | None:
    """ST_3DShortestLine as LINESTRING Z (degenerate when touching —
    PostGIS returns the zero-length line too)."""
    out = _closest3d(a_wkt, b_wkt)
    if out is None:
        return None
    return to_z_wkt("LineString", False, [out[1], out[2]])


def locatebetweenelevations_wkt(wkt, z_lo, z_hi) -> str | None:
    """ST_LocateBetweenElevations (r17): the sub-geometry whose Z lies
    in [z_lo, z_hi], over the Z / ZM codec — the measure_m
    locatebetween_wkt kernel transposed to ordinate index 2, with the
    same output conventions (spans → MULTILINESTRING, zero-length
    contacts → MULTIPOINT parts, mixed → GEOMETRYCOLLECTION — the
    ADVICE r14 contact rules; exact endpoints at t = 0/1; clip in
    ELEVATION space so a clamped-out segment never fabricates a
    contact). ZM input interpolates the measure along with x/y and
    keeps the ZM tag. 2-D / M-only input → loud NULL (PostGIS requires
    a Z ordinate)."""
    lo, hi = _num(z_lo), _num(z_hi)
    if wkt is None or lo is None or hi is None or hi < lo:
        return None
    pz = parse_z_wkt(wkt)
    if pz is None:
        return None
    kind, has_m, payload = pz
    if kind == "Point":
        hits = [payload] if payload and lo <= payload[2] <= hi else []
        return to_z_wkt("MultiPoint", has_m, hits)
    if kind == "MultiPoint":
        return to_z_wkt(
            "MultiPoint", has_m, [p for p in payload if lo <= p[2] <= hi]
        )
    if kind not in ("LineString", "MultiLineString"):
        return None  # areal clip-by-elevation is outside this kernel
    chains = [payload] if kind == "LineString" else payload
    spans, cur, contacts = [], [], []
    for ch in chains:
        for a, b in zip(ch, ch[1:]):
            az, bz = a[2], b[2]

            def at(t, a=a, b=b):
                if t == 0.0:
                    return a
                if t == 1.0:
                    return b
                return tuple(av + t * (bv - av) for av, bv in zip(a, b))

            if az == bz:
                if lo <= az <= hi:
                    t0, t1 = 0.0, 1.0
                else:
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
            else:
                zlo, zhi = (az, bz) if az < bz else (bz, az)
                ilo, ihi = max(lo, zlo), min(hi, zhi)
                if ilo > ihi:
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
                if ilo == ihi:
                    contacts.append(at((ilo - az) / (bz - az)))
                    if cur:
                        spans.append(cur)
                        cur = []
                    continue
                ta = (ilo - az) / (bz - az)
                tb = (ihi - az) / (bz - az)
                t0, t1 = (ta, tb) if ta <= tb else (tb, ta)

            entry, exit_ = at(t0), at(t1)
            if cur and cur[-1] == entry:
                cur.append(exit_)
            else:
                if cur:
                    spans.append(cur)
                cur = [entry, exit_]
        if cur:
            spans.append(cur)
            cur = []
    span_pts = {p for s in spans for p in (s[0], s[-1])}
    pts = []
    for c in contacts:
        if c not in span_pts and c not in pts:
            pts.append(c)
    if spans and pts:
        return (
            f"GEOMETRYCOLLECTION {'ZM' if has_m else 'Z'} ("
            + ", ".join(
                [to_z_wkt("LineString", has_m, s) for s in spans]
                + [to_z_wkt("Point", has_m, p) for p in pts]
            )
            + ")"
        )
    if pts:
        return to_z_wkt("MultiPoint", has_m, pts)
    return to_z_wkt("MultiLineString", has_m, spans)


def longestline3d_wkt(a_wkt, b_wkt) -> str | None:
    """ST_3DLongestLine as LINESTRING Z (r17): |p − q| is convex along
    each segment, so the maximum is attained at a VERTEX pair — the
    argmax of the st_3dmaxdistance scan, first-found on ties (the scan
    order is the deterministic WKT vertex order)."""
    if a_wkt is None or b_wkt is None:
        return None
    pa = _prims_3d(a_wkt)
    pb = _prims_3d(b_wkt)
    if pa is None or pb is None:
        return None
    va = pa[0] + [p for s in pa[1] for p in s]
    vb = pb[0] + [p for s in pb[1] for p in s]
    if not va or not vb:
        return None
    if len(va) * len(vb) > _MAX_PAIR_WORK:
        return None
    best = None
    best_d = -1.0
    for p in va:
        for q in vb:
            d = _d3(p, q)
            if d > best_d:
                best_d, best = d, (p, q)
    return to_z_wkt("LineString", False, [best[0], best[1]])


def maxdistance3d_wkt(a_wkt, b_wkt) -> float | None:
    """ST_3DMaxDistance: |p − q| is convex along each segment, so the
    maximum over two bounded segment sets is attained at VERTEX pairs
    — an exact vertex×vertex scan."""
    if a_wkt is None or b_wkt is None:
        return None
    pa = _prims_3d(a_wkt)
    pb = _prims_3d(b_wkt)
    if pa is None or pb is None:
        return None
    va = pa[0] + [p for s in pa[1] for p in s]
    vb = pb[0] + [p for s in pb[1] for p in s]
    if not va or not vb:
        return None
    if len(va) * len(vb) > _MAX_PAIR_WORK:
        return None
    return max(_d3(p, q) for p in va for q in vb)


def lineinterpolatepoint3d_wkt(wkt, fraction) -> str | None:
    """ST_3DLineInterpolatePoint: the point at ``fraction`` of the
    3-D arc length of a LINESTRING Z/ZM (2-D/M lineal input reads
    Z = 0, like the other 3-D measures). fraction ∈ [0, 1]."""
    f = _num(fraction)
    if wkt is None or f is None or not 0.0 <= f <= 1.0:
        return None
    prims = _prims_3d(wkt)
    if prims is None:
        return None
    pts, segs = prims
    if pts or not segs:
        return None  # puntal / EMPTY — loud (PostGIS wants a line)
    # segments of one LineString arrive in order; reject multi-part
    # input the way PostGIS does (linestring only)
    pz = parse_z_wkt(wkt)
    if pz is not None and pz[0] not in ("LineString",):
        return None
    if pz is None:
        up = str(wkt).strip().upper()
        if not up.startswith("LINESTRING"):
            return None
    lens = [_d3(a, b) for a, b in segs]
    total = sum(lens)
    if total == 0.0:
        return to_z_wkt("Point", False, segs[0][0])
    target = f * total
    cum = 0.0
    last = len(segs) - 1
    for i, ((a, b), ln) in enumerate(zip(segs, lens)):
        # last-segment fallback BY INDEX (the measure_m r14 lesson:
        # value-equality guards snap duplicate segments wrong)
        if cum + ln >= target or i == last:
            t = 0.0 if ln == 0.0 else min(1.0, max(0.0, (target - cum) / ln))
            if t == 0.0:
                return to_z_wkt("Point", False, a)
            if t == 1.0:
                return to_z_wkt("Point", False, b)
            return to_z_wkt(
                "Point",
                False,
                (
                    a[0] + t * (b[0] - a[0]),
                    a[1] + t * (b[1] - a[1]),
                    a[2] + t * (b[2] - a[2]),
                ),
            )
        cum += ln
    return to_z_wkt("Point", False, segs[-1][1])


def perimeter3d_wkt(wkt) -> float | None:
    """ST_3DPerimeter: the 3-D length of every ring of an areal Z
    geometry (2-D areal input reads Z = 0 → the plain perimeter)."""
    if wkt is None:
        return None
    pz = parse_z_wkt(wkt)
    if pz is not None:
        kind, _, payload = pz
        if kind not in ("Polygon", "MultiPolygon"):
            return None
        if kind == "Polygon":
            rings = payload
        else:
            rings = [r for rings_ in payload for r in rings_]
        return sum(
            _d3((p[0], p[1], p[2]), (q[0], q[1], q[2]))
            for ring in rings
            for p, q in zip(ring, ring[1:])
        )
    s = str(wkt).strip()
    mt = _ov._EMPTY_RE.match(s.upper())
    if mt:
        return 0.0 if mt.group(1) in ("POLYGON", "MULTIPOLYGON") else None
    g = G.parse_wkt(s)
    if g is None or g.kind not in ("Polygon", "MultiPolygon"):
        return None
    rings = g.coords if g.kind == "Polygon" else [
        r for rs in g.coords for r in rs
    ]
    return sum(
        math.hypot(q[0] - p[0], q[1] - p[1])
        for ring in rings
        for p, q in zip(ring, ring[1:])
    )


# ---------------------------------------------------------------------------
# UDF surface
# ---------------------------------------------------------------------------


def _safe(fn, *args):
    try:
        return fn(*args)
    except Exception:
        return None


@pandas_udf(DoubleType())
def st_z(wkt: pd.Series) -> pd.Series:
    """ST_Z: the Z of a POINT Z / POINT ZM; NULL otherwise."""
    return pd.Series([_safe(z_of_point, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_zmin(wkt: pd.Series) -> pd.Series:
    """ST_ZMin over all vertices; NULL without a Z dimension."""
    return pd.Series([_safe(zmin_of, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_zmax(wkt: pd.Series) -> pd.Series:
    """ST_ZMax over all vertices; NULL without a Z dimension."""
    return pd.Series([_safe(zmax_of, w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_force3d(wkt: pd.Series) -> pd.Series:
    """ST_Force3D(g): XYZ mode with default Z = 0."""
    return pd.Series([_safe(force3d_wkt, w, 0.0) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_force3dz(wkt: pd.Series, z: pd.Series) -> pd.Series:
    """ST_Force3DZ(g, z): XYZ mode with an explicit default Z."""
    return pd.Series(
        [_safe(force3d_wkt, w, zv) for w, zv in zip(wkt, z)], dtype=object
    )


@pandas_udf(DoubleType())
def st_3dlength(wkt: pd.Series) -> pd.Series:
    """ST_3DLength of a lineal geometry (absent Z reads 0)."""
    return pd.Series([_safe(length3d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(DoubleType())
def st_3ddistance(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DDistance between puntal/lineal geometries."""
    return pd.Series(
        [_safe(distance3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(BooleanType())
def st_3ddwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    """ST_3DDWithin over the 3-D distance kernel."""
    return pd.Series(
        [_safe(dwithin3d_wkt, x, y, dv) for x, y, dv in zip(a, b, d)],
        dtype=object,
    )


@pandas_udf(DoubleType())
def st_3dmaxdistance(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DMaxDistance (exact vertex-pair maximum)."""
    return pd.Series(
        [_safe(maxdistance3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_3dclosestpoint(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DClosestPoint: the POINT Z on a nearest to b."""
    return pd.Series(
        [_safe(closestpoint3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_3dshortestline(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DShortestLine as LINESTRING Z."""
    return pd.Series(
        [_safe(shortestline3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_3dlineinterpolatepoint(wkt: pd.Series, f: pd.Series) -> pd.Series:
    """ST_3DLineInterpolatePoint at a 3-D arc-length fraction."""
    return pd.Series(
        [_safe(lineinterpolatepoint3d_wkt, w, fv) for w, fv in zip(wkt, f)],
        dtype=object,
    )


@pandas_udf(DoubleType())
def st_3dperimeter(wkt: pd.Series) -> pd.Series:
    """ST_3DPerimeter of an areal geometry (absent Z reads 0)."""
    return pd.Series([_safe(perimeter3d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_3dlongestline(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_3DLongestLine as LINESTRING Z (the st_3dmaxdistance argmax
    vertex pair, r17)."""
    return pd.Series(
        [_safe(longestline3d_wkt, x, y) for x, y in zip(a, b)], dtype=object
    )


@pandas_udf(StringType())
def st_locatebetweenelevations(
    wkt: pd.Series, z1: pd.Series, z2: pd.Series
) -> pd.Series:
    """ST_LocateBetweenElevations over the Z / ZM codec (r17)."""
    return pd.Series(
        [
            _safe(locatebetweenelevations_wkt, w, a, b)
            for w, a, b in zip(wkt, z1, z2)
        ],
        dtype=object,
    )


@pandas_udf(StringType())
def st_force3dm(wkt: pd.Series) -> pd.Series:
    """ST_Force3DM with PostGIS's default m = 0 (fixed-arity name)."""
    return pd.Series([_safe(force3dm_wkt, w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_force4d(wkt: pd.Series) -> pd.Series:
    """ST_Force4D with PostGIS's defaults z = m = 0 (fixed-arity)."""
    return pd.Series([_safe(force4d_wkt, w) for w in wkt], dtype=object)


@pandas_udf(IntegerType())
def st_ndims(wkt: pd.Series) -> pd.Series:
    return pd.Series([_safe(ndims_of, w) for w in wkt], dtype="object")


ALL_ZCOORD_FUNCTIONS = {
    "st_z": st_z,
    "st_zmin": st_zmin,
    "st_zmax": st_zmax,
    "st_force3d": st_force3d,
    "st_force3dz": st_force3dz,
    "st_force3dm": st_force3dm,
    "st_force4d": st_force4d,
    "st_ndims": st_ndims,
    # PostGIS documents ST_CoordDim as the SQL/MM alias of ST_NDims
    "st_coorddim": st_ndims,
    "st_3dlength": st_3dlength,
    "st_3ddistance": st_3ddistance,
    "st_3ddwithin": st_3ddwithin,
    "st_3dmaxdistance": st_3dmaxdistance,
    "st_3dclosestpoint": st_3dclosestpoint,
    "st_3dshortestline": st_3dshortestline,
    "st_3dlineinterpolatepoint": st_3dlineinterpolatepoint,
    "st_3dperimeter": st_3dperimeter,
    "st_3dlongestline": st_3dlongestline,
    "st_locatebetweenelevations": st_locatebetweenelevations,
}
