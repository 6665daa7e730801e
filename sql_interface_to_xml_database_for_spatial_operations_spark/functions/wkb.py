"""WKB codec: ST_AsBinary / ST_GeomFromWKB over the engine's WKT model.

The reference's PostGIS leg speaks WKB natively (every PostGIS function
the reference forwards through src/index.ts:44-63 sits on WKB-backed
geometry), and binary interchange is the engine's multimodal stance
(opaque ``binary`` columns + typed codecs, operators/multimodal.py).
This module implements the OGC "Well-Known Binary" layout (Simple
Features Access §8 — the published, public format): 1 byte byte-order
(0 = big / XDR, 1 = little / NDR), uint32 geometry type (Point=1,
LineString=2, Polygon=3, MultiPoint=4, MultiLineString=5,
MultiPolygon=6, GeometryCollection=7), then type-specific payload;
Multi*/collection members are full nested WKBs with their own headers.

Dimensions (r15): Z / M / ZM geometries encode with the ISO (SFA 1.2)
type offsets PostGIS's ST_AsBinary emits — +1000 (Z), +2000 (M),
+3000 (ZM) — with 3- or 4-double coordinates; decoding additionally
honors the EWKB flag bits (0x80000000 = Z, 0x40000000 = M) so
PostGIS ST_AsEWKB output reads too. The WKT side round-trips through
the zcoord / measure_m codecs, so nested members must agree with
their container's dimensions (PostGIS enforces the same), POLYGON M
and dimensional GEOMETRYCOLLECTIONs are outside those codecs' kinds
→ loud NULL, and the EWKB SRID flag (0x20000000) stays rejected by
the plain ST_GeomFromWKB reader rather than misread. The EWKB
surface proper (r15 — the SRID-carrying byte form): ``st_asewkb(g,
srid)`` emits flag-bit dims with the SRID embedded at the top level
(srid 0 omits the flag, PostGIS behavior), ``st_geomfromewkb``
accepts it, and ``st_sridfromewkb`` extracts it.

Encoding always emits little-endian (like PostGIS on x86); decoding
honors either byte-order flag, per element, including mixed-endian
nested members. Truncated / malformed buffers decode to NULL (the
registry-wide null-safety convention, tests/test_udf_null_safety.py).

Scale: both directions are Arrow-vectorized pandas UDFs — map-only,
no shuffle; ``struct`` packing is pure CPython over small per-row
buffers.
"""

from __future__ import annotations

import math
import struct

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, IntegerType, StringType

from . import geometry as G
from . import surface3d as _s3
from . import wkt as W
from .geometry import Geometry

_KIND_CODE = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_CODE_KIND = {v: k for k, v in _KIND_CODE.items()}

_MEMBER_KIND = {
    "MultiPoint": "Point",
    "MultiLineString": "LineString",
    "MultiPolygon": "Polygon",
}

# SQL/MM surface types (ISO codes; Z via the +1000 offset). These stay
# OUT of _KIND_CODE so the container-member logic never treats a
# surface as an ordinary collection member kind.
_SURFACE_CODE = {"PolyhedralSurface": 15, "Tin": 16, "Triangle": 17}
_CODE_SURFACE = {v: k for k, v in _SURFACE_CODE.items()}

# SQL/MM curved types (ISO codes 8-12, r16 — VERDICT r15 missing item
# 4). The engine's geometry model is linear, so a curved buffer
# decodes to its curved WKT and LINEARIZES through curves.py on read
# (PostGIS default of 32 quadrant segments) — a PostGIS-generated
# curved WKB round-trips to its linearized WKT instead of NULL.
# Decoded curved structures travel as ('__curved__', curved_wkt).
_CODE_CURVED = {
    8: "CIRCULARSTRING",
    9: "COMPOUNDCURVE",
    10: "CURVEPOLYGON",
    11: "MULTICURVE",
    12: "MULTISURFACE",
}
_CURVE_QUAD_SEGS = 32  # PostGIS ST_CurveToLine default


def _surface_to_wkb(kind: str, dims, patches) -> bytes:
    """Little-endian ISO WKB of a surface3d codec payload: TRIANGLE
    bodies are ring lists (the POLYGON layout under code 17);
    POLYHEDRALSURFACE / TIN bodies are counts of nested full patch
    WKBs (POLYGON patches for a surface, TRIANGLE for a TIN).
    ``dims`` is the surface3d tag '' | 'Z' | 'M' | 'ZM' (legacy bool
    accepted) — ISO offsets 1000/2000/3000 (codes like 2015 / 3016,
    r17 M/ZM closure)."""
    d = _s3._dims_tag(dims)
    z, m = "Z" in d, "M" in d
    code = _SURFACE_CODE[kind] + (1000 if z else 0) + (2000 if m else 0)
    head = struct.pack("<BI", 1, code)
    width = 2 + len(d)
    fmt = f"<{width}d"
    if kind == "Triangle":
        rings = patches[0] if patches else []
        out = [head, struct.pack("<I", len(rings))]
        for ring in rings:
            out.append(struct.pack("<I", len(ring)))
            out.extend(struct.pack(fmt, *p) for p in ring)
        return b"".join(out)
    patch_kind = "Triangle" if kind == "Tin" else "Polygon"
    members = []
    for rings in patches:
        if patch_kind == "Triangle":
            members.append(_surface_to_wkb("Triangle", d, [rings]))
        elif z or m:
            members.append(_zm_to_wkb("Polygon", z, m, rings))
        else:
            members.append(geom_to_wkb(Geometry("Polygon", rings)))
    return head + struct.pack("<I", len(members)) + b"".join(members)


def geom_to_wkb(g: Geometry) -> bytes:
    """Little-endian WKB of a parsed 2-D geometry."""
    code = _KIND_CODE[g.kind]
    head = struct.pack("<BI", 1, code)
    if g.kind == "Point":
        return head + struct.pack("<2d", g.coords[0], g.coords[1])
    if g.kind == "LineString":
        pts = g.coords
        return head + struct.pack("<I", len(pts)) + b"".join(
            struct.pack("<2d", x, y) for x, y in pts
        )
    if g.kind == "Polygon":
        out = [head, struct.pack("<I", len(g.coords))]
        for ring in g.coords:
            out.append(struct.pack("<I", len(ring)))
            out.extend(struct.pack("<2d", x, y) for x, y in ring)
        return b"".join(out)
    # Multi* / collection: nested full WKBs
    if g.kind == "MultiPoint":
        members = [Geometry("Point", p) for p in g.coords]
    elif g.kind == "MultiLineString":
        members = [Geometry("LineString", line) for line in g.coords]
    elif g.kind == "MultiPolygon":
        members = [Geometry("Polygon", rings) for rings in g.coords]
    else:  # GeometryCollection
        members = g.coords
    return head + struct.pack("<I", len(members)) + b"".join(
        geom_to_wkb(m) for m in members
    )


def _zm_to_wkb(kind: str, z: bool, m: bool, payload) -> bytes:
    """Little-endian ISO WKB of a zcoord / measure_m codec payload
    (3- or 4-wide tuples; shapes mirror the 2-D Geometry coords)."""
    width = 2 + (1 if z else 0) + (1 if m else 0)
    code = _KIND_CODE[kind] + (1000 if z else 0) + (2000 if m else 0)
    head = struct.pack("<BI", 1, code)
    fmt = f"<{width}d"
    if kind == "Point":
        if not payload:  # POINT Z EMPTY → all-NaN coords (PostGIS)
            return head + struct.pack(fmt, *([float("nan")] * width))
        return head + struct.pack(fmt, *payload)
    if kind == "LineString":
        return head + struct.pack("<I", len(payload)) + b"".join(
            struct.pack(fmt, *p) for p in payload
        )
    if kind == "Polygon":
        out = [head, struct.pack("<I", len(payload))]
        for ring in payload:
            out.append(struct.pack("<I", len(ring)))
            out.extend(struct.pack(fmt, *p) for p in ring)
        return b"".join(out)
    if kind == "MultiPoint":
        members = [("Point", p) for p in payload]
    elif kind == "MultiLineString":
        members = [("LineString", ch) for ch in payload]
    else:  # MultiPolygon
        members = [("Polygon", rings) for rings in payload]
    return head + struct.pack("<I", len(members)) + b"".join(
        _zm_to_wkb(mk, z, m, mp) for mk, mp in members
    )


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, fmt: str):
        size = struct.calcsize(fmt)
        if self.pos + size > len(self.buf):
            raise ValueError("truncated WKB")
        vals = struct.unpack_from(fmt, self.buf, self.pos)
        self.pos += size
        return vals


_MAX_COUNT = 10_000_000  # sanity bound: rejects garbage counts early
_MAX_DEPTH = 32  # nesting cap: a ~9 KB buffer of nested collection
# headers would otherwise recurse past Python's limit and crash the
# task instead of NULLing the row (code-review r7)

_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


def _read_geom(
    r: _Reader,
    depth: int = 0,
    srid_out: list | None = None,
    allow_m_areal: bool = False,
):
    """→ (kind, z, m, payload). 2-D payloads mirror Geometry coords
    (GeometryCollection members come back as Geometry objects); Z/M/ZM
    payloads mirror the zcoord / measure_m codec shapes. A top-level
    EWKB SRID flag is honored ONLY when the caller passes ``srid_out``
    (the st_geomfromewkb path) — the plain WKB reader still rejects it
    rather than misread shifted coordinates."""
    if depth > _MAX_DEPTH:
        raise ValueError("nesting too deep")
    (order,) = r.take("B")
    if order == 0:
        e = ">"
    elif order == 1:
        e = "<"
    else:
        raise ValueError(f"bad byte order {order}")
    (code,) = r.take(e + "I")
    if code & _EWKB_SRID:
        if srid_out is None or depth > 0:
            # an embedded SRID would silently shift every coordinate
            # read — reject rather than misread (tests/test_wkb.py);
            # PostGIS writes the SRID at the TOP level only
            raise ValueError("EWKB SRID flag unsupported here")
        (srid,) = r.take(e + "i")
        if srid < 0:
            raise ValueError("negative SRID")
        srid_out.append(srid)
        code &= ~_EWKB_SRID
    z = bool(code & _EWKB_Z)
    m = bool(code & _EWKB_M)
    base = code & ~(_EWKB_Z | _EWKB_M)
    if not (z or m):
        # ISO (SFA 1.2) offsets: 1000 = Z, 2000 = M, 3000 = ZM
        if 3000 < base < 4000:
            z = m = True
            base -= 3000
        elif 2000 < base < 3000:
            m = True
            base -= 2000
        elif 1000 < base < 2000:
            z = True
            base -= 1000
    if base in _CODE_SURFACE:
        # SQL/MM surfaces: TRIANGLE is ring-structured like POLYGON;
        # POLYHEDRALSURFACE / TIN carry nested full patch WKBs. All
        # four dims forms decode (r17 — codes 15-17 plus the ISO
        # 1000/2000/3000 offsets, e.g. 2015 / 3016).
        skind = _CODE_SURFACE[base]
        swidth = 2 + (1 if z else 0) + (1 if m else 0)
        sfmt = e + f"{swidth}d"

        def scount() -> int:
            (n,) = r.take(e + "I")
            if n > _MAX_COUNT:
                raise ValueError("implausible element count")
            return n

        if skind == "Triangle":
            n_rings = scount()
            if n_rings > 1:
                # the WKT TRIANGLE codec is single-ring; a multi-ring
                # buffer must not round-trip truncated (code-review r15)
                raise ValueError("TRIANGLE carries more than one ring")
            rings = []
            for _ in range(n_rings):
                n_pts = scount()
                if n_pts == 0:
                    raise ValueError("zero-point ring")
                rings.append([r.take(sfmt) for _ in range(n_pts)])
            return (skind, z, m, [rings] if rings else [])
        want_patch = "Triangle" if skind == "Tin" else "Polygon"
        patches = []
        for _ in range(scount()):
            # surface patches may be POLYGON M (r17) — the standalone
            # measure codec's areal gate does not apply inside a surface
            pk, pz, pm2, pp = _read_geom(r, depth + 1, allow_m_areal=True)
            if (pz, pm2) != (z, m):
                raise ValueError("patch dimensionality differs from surface")
            if pk != want_patch:
                raise ValueError(f"{skind.upper()} patch is not a {want_patch}")
            patches.append(pp[0] if pk == "Triangle" else pp)
        return (skind, z, m, patches)
    if base in _CODE_CURVED:
        if z or m:
            # curves linearize through the 2-D curves.py kernels; a
            # dimensional curve has no linearization target → loud
            raise ValueError("dimensional curved geometry unsupported")
        return ("__curved__", False, False, _read_curved(r, e, base, depth))
    kind = _CODE_KIND.get(base)
    if kind is None:
        raise ValueError(f"unsupported geometry type {code}")
    if m and not z and not allow_m_areal and kind in ("Polygon", "MultiPolygon"):
        raise ValueError("POLYGON M unsupported")
    width = 2 + (1 if z else 0) + (1 if m else 0)
    fmt = e + f"{width}d"

    def count() -> int:
        (n,) = r.take(e + "I")
        if n > _MAX_COUNT:
            raise ValueError("implausible element count")
        return n

    def coord():
        vals = r.take(fmt)
        return vals if width > 2 else tuple(vals)

    if kind == "Point":
        return (kind, z, m, coord())
    if kind == "LineString":
        return (kind, z, m, [coord() for _ in range(count())])
    if kind == "Polygon":
        n_rings = count()
        rings = []
        for _ in range(n_rings):
            n_pts = count()
            if n_pts == 0:
                raise ValueError("zero-point ring")
            rings.append([coord() for _ in range(n_pts)])
        return (kind, z, m, rings)
    members = [_read_geom(r, depth + 1) for _ in range(count())]
    if any((mz, mm) != (z, m) for _, mz, mm, _ in members):
        # PostGIS enforces uniform dimensionality inside a container
        raise ValueError("member dimensionality differs from container")
    # nested typed-EMPTY members (legal but exotic WKB) have no WKT
    # representation in this engine's model → loud NULL, never
    # 'MULTIPOLYGON (())'
    if any(mk != "Point" and not mp for mk, _, _, mp in members):
        raise ValueError("nested empty member")
    want = _MEMBER_KIND.get(kind)
    if want is not None:
        if any(mk != want for mk, _, _, _ in members):
            raise ValueError(f"{kind.upper()} member is not a {want}")
        return (kind, z, m, [mp for _, _, _, mp in members])
    if z or m:
        # dimensional GEOMETRYCOLLECTION (r16): members re-serialize
        # through the dims codec and travel as WKT strings
        wkts = []
        for mk, mz, mm2, mp in members:
            w = _dims_to_wkt(mk, mz, mm2, mp)
            if w is None:
                raise ValueError("unrepresentable collection member")
            wkts.append(w)
        return (kind, z, m, wkts)
    # 2-D GeometryCollection: members become Geometry objects; curved
    # members linearize on the way in (the top-level curved stance)
    out_members = []
    for mk, _, _, mp in members:
        if mk == "__curved__":
            from . import curves as _cv

            lw = _cv.curvetoline_wkt(mp, _CURVE_QUAD_SEGS)
            lg = None if lw is None else G.parse_wkt(lw)
            if lg is None:
                raise ValueError("unlinearizable curved member")
            out_members.append(lg)
        else:
            out_members.append(Geometry(mk, mp))
    return (kind, z, m, out_members)


def _fmt_pt2(p) -> str:
    return f"{G._fmt(p[0])} {G._fmt(p[1])}"


def _read_curved(r: _Reader, e: str, base: int, depth: int) -> str:
    """One curved body (type header already consumed) → its curved WKT
    string. Component/ring/member geometries are full nested WKBs per
    the spec; their kinds are validated against the SQL/MM containment
    rules so a malformed buffer fails loudly."""

    def count() -> int:
        (n,) = r.take(e + "I")
        if n > _MAX_COUNT:
            raise ValueError("implausible element count")
        return n

    kind = _CODE_CURVED[base]
    n = count()
    if base == 8:  # CIRCULARSTRING: a point chain like LINESTRING
        if n == 0:
            return "CIRCULARSTRING EMPTY"
        if n < 3 or n % 2 == 0:
            raise ValueError("CIRCULARSTRING needs an odd point count >= 3")
        pts = [r.take(e + "2d") for _ in range(n)]
        if any(v != v for p in pts for v in p):
            raise ValueError("NaN coordinate in curve")
        return "CIRCULARSTRING (" + ", ".join(_fmt_pt2(p) for p in pts) + ")"
    if n == 0:
        return f"{kind} EMPTY"
    parts = []
    for _ in range(n):
        mk, mz, mm2, mp = _read_geom(r, depth + 1)
        if mz or mm2:
            raise ValueError("dimensional curved member unsupported")
        if mk == "LineString" and base in (9, 10, 11):
            if len(mp) < 2:
                raise ValueError("short linear component")
            parts.append("(" + ", ".join(_fmt_pt2(p) for p in mp) + ")")
        elif mk == "Polygon" and base == 12:
            if not mp:
                raise ValueError("empty surface member")
            parts.append(
                "("
                + ", ".join(
                    "(" + ", ".join(_fmt_pt2(p) for p in ring) + ")"
                    for ring in mp
                )
                + ")"
            )
        elif mk == "__curved__":
            head = mp.split(" ", 1)[0].split("(", 1)[0]
            allowed = {
                9: {"CIRCULARSTRING"},
                10: {"CIRCULARSTRING", "COMPOUNDCURVE"},
                11: {"CIRCULARSTRING", "COMPOUNDCURVE"},
                12: {"CURVEPOLYGON"},
            }[base]
            if head not in allowed or mp.endswith("EMPTY"):
                raise ValueError(f"{kind} may not contain {head or 'that'}")
            parts.append(mp)
        else:
            raise ValueError(f"{kind} member is not a curve component")
    return f"{kind} (" + ", ".join(parts) + ")"


def _decode(buf):
    """(kind, z, m, payload) — None on any malformation."""
    if buf is None:
        return None
    try:
        b = bytes(buf)
        r = _Reader(b)
        out = _read_geom(r)
        if r.pos != len(b):
            raise ValueError("trailing bytes after geometry")
        return out
    except (ValueError, struct.error):
        return None


def wkb_to_geom(buf) -> Geometry | None:
    """Decode 2-D WKB (either endian, nested) — None on malformation
    or on Z/M-dimensional input (those decode via wkb_to_wkt)."""
    decoded = _decode(buf)
    if decoded is None:
        return None
    kind, z, m, payload = decoded
    if z or m:
        return None
    if kind == "__curved__":
        from . import curves as _cv

        lw = _cv.curvetoline_wkt(payload, _CURVE_QUAD_SEGS)
        return None if lw is None else G.parse_wkt(lw)
    return Geometry(kind, payload)


_EMPTY_KINDS = {
    "POINT": 1,
    "LINESTRING": 2,
    "POLYGON": 3,
    "MULTIPOINT": 4,
    "MULTILINESTRING": 5,
    "MULTIPOLYGON": 6,
    "GEOMETRYCOLLECTION": 7,
}


def wkt_to_wkb(wkt) -> bytes | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    up = s.upper()
    # Typed EMPTY (e.g. the overlay functions emit 'POLYGON EMPTY'):
    # PostGIS encodes POINT EMPTY as (NaN, NaN) and every other kind
    # as a zero-count body.
    for kind, code in _EMPTY_KINDS.items():
        if up == f"{kind} EMPTY":
            if code == 1:
                return struct.pack("<BI2d", 1, 1, float("nan"), float("nan"))
            return struct.pack("<BII", 1, code, 0)
    g = W.read(s)
    if g is None:
        ps = _s3.parse_surface_wkt(s)
        if ps is not None:
            kind, dims, patches = ps
            return _surface_to_wkb(kind, dims, patches)
        cv = _curved_parse(s)
        return None if cv is None else _curved_to_wkb(*cv)
    return _triple_to_wkb(g)


def _triple_to_wkb(g) -> bytes | None:
    kind, dims, coords = g
    if kind != "GeometryCollection":
        if dims:
            return _zm_to_wkb(kind, "Z" in dims, "M" in dims, coords)
        if not coords:
            return wkt_to_wkb(f"{kind.upper()} EMPTY")
        return geom_to_wkb(Geometry(kind, coords))
    derived = W.member_dims(g)
    tag = dims or derived
    if coords and dims and derived != dims:
        return None  # tag/member disagreement must not round-trip
    if not tag:
        # plain 2-D collection: the Geometry path
        xy = G._xy(g)
        return None if xy is None else geom_to_wkb(xy)
    # dimensional GEOMETRYCOLLECTION (r16): ISO offset code, full
    # member WKBs; member dims must all equal the tag so the decoder's
    # uniformity rule round-trips
    if any(W.member_dims(m) != tag for m in coords):
        return None
    members = [_triple_to_wkb(m) for m in coords]
    if any(mb is None for mb in members):
        return None
    off = {"Z": 1000, "M": 2000, "ZM": 3000}[tag]
    return struct.pack("<BII", 1, 7 + off, len(members)) + b"".join(members)


_CURVED_CODE = {
    "CircularString": 8,
    "CompoundCurve": 9,
    "CurvePolygon": 10,
    "MultiCurve": 11,
    "MultiSurface": 12,
}


def _curved_parse(s):
    from . import curves as _cv

    up = str(s).lstrip().upper()
    if not up.startswith(
        ("CIRCULARSTRING", "COMPOUNDCURVE", "CURVEPOLYGON",
         "MULTICURVE", "MULTISURFACE")
    ):
        return None  # cheap gate before the structural parse
    return _cv.parse_curved(s)


def _curved_to_wkb(kind: str, payload) -> bytes:
    """Little-endian WKB of one curved node (r16 — the encode side of
    the type-8-12 reader; st_linetocurve output round-trips through
    st_asbinary → st_geomfromwkb to its linearized form)."""
    if kind == "LineString":
        return struct.pack("<BII", 1, 2, len(payload)) + b"".join(
            struct.pack("<2d", *p) for p in payload
        )
    if kind == "Polygon":
        out = struct.pack("<BII", 1, 3, len(payload))
        for ring in payload:
            out += struct.pack("<I", len(ring)) + b"".join(
                struct.pack("<2d", *p) for p in ring
            )
        return out
    if kind == "CircularString":
        return struct.pack("<BII", 1, 8, len(payload)) + b"".join(
            struct.pack("<2d", *p) for p in payload
        )
    code = _CURVED_CODE[kind]
    return struct.pack("<BII", 1, code, len(payload)) + b"".join(
        _curved_to_wkb(mk, mp) for mk, mp in payload
    )


def _nan_pt(p) -> bool:
    return any(v != v for v in p)


def wkb_to_wkt(buf) -> str | None:
    decoded = _decode(buf)
    if decoded is None:
        return None
    # empty bodies round-trip as typed EMPTY, never 'LINESTRING ()'
    # (which the engine's own parser would reject)
    return _dims_to_wkt(*decoded)


def _finite_payload(kind: str, payload) -> bool:
    if kind == "Point":
        return not payload or all(math.isfinite(v) for v in payload)
    if kind in ("MultiPoint", "LineString"):
        return all(math.isfinite(v) for p in payload for v in p)
    if kind in ("MultiLineString", "Polygon"):
        return all(math.isfinite(v) for ch in payload for p in ch for v in p)
    return all(
        math.isfinite(v)
        for rings in payload
        for ring in rings
        for p in ring
        for v in p
    )


# ---- EWKB (PostGIS extended WKB: flag-bit dims + embedded SRID) ----


def _parse_any(s: str):
    """(kind, z, m, payload) of a 2-D / Z / ZM / M WKT (typed EMPTY
    included), or None. A collection must be plain 2-D; its payload
    holds ``Geometry`` members."""
    g = W.read(s)
    if g is None:
        return None
    kind, dims, coords = g
    if kind == "GeometryCollection" and coords:
        xy = G._xy(g)
        return None if xy is None else (kind, False, False, xy.coords)
    if kind == "GeometryCollection" and dims:
        return None
    return (kind, "Z" in dims, "M" in dims, coords)


def _to_ewkb(kind: str, z: bool, m: bool, payload, srid) -> bytes:
    """Little-endian EWKB: flag-bit type, SRID at the TOP level only
    (srid=None or 0 omits the flag, PostGIS behavior)."""
    code = _KIND_CODE[kind]
    if z:
        code |= _EWKB_Z
    if m:
        code |= _EWKB_M
    head = struct.pack("<B", 1)
    if srid:
        head += struct.pack("<Ii", code | _EWKB_SRID, int(srid))
    else:
        head += struct.pack("<I", code)
    width = 2 + (1 if z else 0) + (1 if m else 0)
    fmt = f"<{width}d"
    if kind == "Point":
        if not payload:
            return head + struct.pack(fmt, *([float("nan")] * width))
        return head + struct.pack(fmt, *payload)
    if kind == "LineString":
        return head + struct.pack("<I", len(payload)) + b"".join(
            struct.pack(fmt, *p) for p in payload
        )
    if kind == "Polygon":
        out = [head, struct.pack("<I", len(payload))]
        for ring in payload:
            out.append(struct.pack("<I", len(ring)))
            out.extend(struct.pack(fmt, *p) for p in ring)
        return b"".join(out)
    if kind == "GeometryCollection":
        members = [(g.kind, g.coords) for g in payload]
        return head + struct.pack("<I", len(members)) + b"".join(
            _to_ewkb(mk, z, m, mp, None) for mk, mp in members
        )
    if kind == "MultiPoint":
        members = [("Point", p) for p in payload]
    elif kind == "MultiLineString":
        members = [("LineString", ch) for ch in payload]
    else:  # MultiPolygon
        members = [("Polygon", rings) for rings in payload]
    return head + struct.pack("<I", len(members)) + b"".join(
        _to_ewkb(mk, z, m, mp, None) for mk, mp in members
    )


_MAX_SRID = 998_999  # PostGIS's spatial_ref_sys ceiling


def wkt_to_ewkb(wkt, srid) -> bytes | None:
    if wkt is None:
        return None
    if srid is None:
        srid = 0
    try:
        srid = int(srid)
    except (TypeError, ValueError):
        return None
    if not 0 <= srid <= _MAX_SRID:
        return None
    s = str(wkt).strip()
    ps = _s3.parse_surface_wkt(s)
    if ps is not None:
        # surfaces carry the SRID flag at the top level over their
        # plain ISO body (code-review r15: st_asbinary round-trips
        # surfaces, so the SRID-carrying form must not be a silent
        # NULL); srid 0 degrades to plain WKB like every other kind
        skind, sz, patches = ps
        body = _surface_to_wkb(skind, sz, patches)
        if not srid:
            return body
        code = struct.unpack_from("<I", body, 1)[0]
        return (
            struct.pack("<BIi", 1, code | _EWKB_SRID, srid) + body[5:]
        )
    cv = _curved_parse(s)
    if cv is not None:
        # curved geometry: SRID flag over the plain body (r16)
        body = _curved_to_wkb(*cv)
        if not srid:
            return body
        code = struct.unpack_from("<I", body, 1)[0]
        return struct.pack("<BIi", 1, code | _EWKB_SRID, srid) + body[5:]
    g = W.read(s)
    if g is not None and g[0] == "GeometryCollection" and (g[1] or W.member_dims(g)):
        # dimensional collection: SRID flag over the ISO body, the
        # surface stance above
        body = wkt_to_wkb(s)
        if body is None:
            return None
        if not srid:
            return body
        code = struct.unpack_from("<I", body, 1)[0]
        return struct.pack("<BIi", 1, code | _EWKB_SRID, srid) + body[5:]
    parsed = _parse_any(s)
    if parsed is None:
        return None
    kind, z, m, payload = parsed
    if m and not z and kind in ("Polygon", "MultiPolygon", "GeometryCollection"):
        return None  # outside the measure codec's kinds
    return _to_ewkb(kind, z, m, payload, srid)


def _decode_ewkb(buf):
    """(kind, z, m, payload, srid) — SRID honored at top level."""
    if buf is None:
        return None
    try:
        b = bytes(buf)
        r = _Reader(b)
        srid_out: list = []
        out = _read_geom(r, srid_out=srid_out)
        if r.pos != len(b):
            raise ValueError("trailing bytes after geometry")
        return (*out, srid_out[0] if srid_out else 0)
    except (ValueError, struct.error):
        return None


def ewkb_to_wkt(buf) -> str | None:
    decoded = _decode_ewkb(buf)
    if decoded is None:
        return None
    kind, z, m, payload, _ = decoded
    return _dims_to_wkt(kind, z, m, payload)


def ewkb_srid(buf) -> int | None:
    decoded = _decode_ewkb(buf)
    return None if decoded is None else decoded[4]


def _dims_to_wkt(kind, z, m, payload) -> str | None:
    if kind == "__curved__":
        # curved buffer: linearize on read (module docstring stance)
        from . import curves as _cv

        return _cv.curvetoline_wkt(payload, _CURVE_QUAD_SEGS)
    if kind == "GeometryCollection" and (z or m):
        tag = "ZM" if z and m else ("Z" if z else "M")
        if not payload:
            return f"GEOMETRYCOLLECTION {tag} EMPTY"
        return f"GEOMETRYCOLLECTION {tag} (" + ", ".join(payload) + ")"
    if kind in _SURFACE_CODE:
        # re-parse to enforce the codec's ring contracts (closure,
        # triangle 4-vertex rings, finite coordinates) — a buffer the
        # WKT surface would reject must not round-trip through WKB
        sdims = "ZM" if z and m else ("Z" if z else ("M" if m else ""))
        txt = _s3.to_surface_wkt(kind, sdims, payload)
        return txt if _s3.parse_surface_wkt(txt) is not None else None
    if z or m:
        if kind == "Point" and _nan_pt(payload):
            payload = ()
        elif not _finite_payload(kind, payload):
            return None
        return W.write(kind, ("Z" if z else "") + ("M" if m else ""), payload)
    g = Geometry(kind, payload)
    if g.kind == "Point" and g.coords[0] != g.coords[0]:
        return "POINT EMPTY"
    if g.kind != "Point" and not g.coords:
        return g.kind.upper() + " EMPTY"
    return G.to_wkt(g)


@pandas_udf(BinaryType())
def st_asbinary(wkt: pd.Series) -> pd.Series:
    """ST_AsBinary: WKT (2-D / Z / M / ZM) → little-endian WKB
    (ISO type offsets for dimensional input; NULL-safe)."""
    return pd.Series([wkt_to_wkb(w) for w in wkt], dtype=object)


@pandas_udf(StringType())
def st_geomfromwkb(buf: pd.Series) -> pd.Series:
    """ST_GeomFromWKB: WKB (either endian, ISO or EWKB-flag dims) →
    WKT; NULL on malformed."""
    return pd.Series([wkb_to_wkt(b) for b in buf], dtype=object)


@pandas_udf(BinaryType())
def st_asewkb(wkt: pd.Series, srid: pd.Series) -> pd.Series:
    """ST_AsEWKB with an explicit SRID (the engine's WKT model carries
    no SRID, so the caller supplies it — ST_SetSRID folded in): flag-
    bit dims, SRID embedded at the top level; srid 0/NULL omits the
    flag (PostGIS)."""
    out = []
    for w, s in zip(wkt, srid):
        try:
            sv = None if s is None or (isinstance(s, float) and math.isnan(s)) else s
            out.append(wkt_to_ewkb(w, sv))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_geomfromewkb(buf: pd.Series) -> pd.Series:
    """ST_GeomFromEWKB: accepts the embedded-SRID flag (top level) and
    flag-bit or ISO dims; the SRID itself is read and discarded (use
    st_sridfromewkb to extract it)."""
    return pd.Series([ewkb_to_wkt(b) for b in buf], dtype=object)


@pandas_udf(IntegerType())
def st_sridfromewkb(buf: pd.Series) -> pd.Series:
    """The embedded SRID of an EWKB buffer (0 when absent)."""
    return pd.Series([ewkb_srid(b) for b in buf], dtype=object)


ALL_WKB_FUNCTIONS = {
    "st_asbinary": st_asbinary,
    "st_geomfromwkb": st_geomfromwkb,
    "st_asewkb": st_asewkb,
    "st_geomfromewkb": st_geomfromewkb,
    "st_sridfromewkb": st_sridfromewkb,
}
