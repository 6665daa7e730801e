"""ST_AsMVT (r15 — VERDICT r14 missing item 2): assemble a Mapbox
Vector Tile layer (binary protobuf) from tile-space features — the
artifact a tile server actually serves, one step past ST_AsMVTGeom
(mvt.py). The reference forwards the PostGIS pair verbatim
(src/index.ts:44-63).

Wire format is the PUBLIC vector-tile-spec 2.1 proto
(github.com/mapbox/vector-tile-spec — Tile.layers = field 3;
Layer{version=15, name=1, features=2, keys=3, values=4, extent=5};
Feature{id=1, tags=2 packed, type=3, geometry=4 packed};
Value{string=1, double=3, int=4, sint=6, bool=7}), hand-encoded
varint/zigzag — no protobuf dependency.

Deterministic layout (the byte-exact oracle mirrors it):

- layer fields emit as version, name, extent, keys, values, features;
- keys/values dedup in FIRST-SEEN order over the feature array;
- map attributes iterate in the caller-built map's insertion order
  (Spark ``map('k1', v1, 'k2', v2)`` preserves argument order);
- features encode in ARRAY ORDER — callers composing with
  ``collect_list`` must ``sort_array`` (or ``array_sort``) first,
  exactly like the engine's other collect-based aggregates, or the
  tile bytes are partition-dependent (tests pin the invariance);
- integer attribute values encode as int_value when ≥ 0 and
  sint_value when negative (single documented rule); doubles as
  double (field 3, little-endian);
- geometry commands per the spec: MoveTo=1 / LineTo=2 / ClosePath=7,
  command integer (id & 0x7) | (count << 3), zigzag-delta params;
  polygon rings drop the WKT closing vertex and emit ClosePath; ring
  winding (CW shell / CCW hole in screen space) is taken from the
  input as ST_AsMVTGeom produced it.

``st_asmvt(features, name, extent)`` — features is
``ARRAY<STRUCT<geom: STRING, id: BIGINT, attrs: MAP<STRING, STRING>,
nattrs: MAP<STRING, BIGINT>>>`` (either map may be NULL); geometries
are tile-space WKT (normally ST_AsMVTGeom output). Returns the TILE
bytes (one layer). NULL/malformed member geometry → the whole tile
is a loud NULL (a silently half-empty tile is worse); EMPTY feature
array → NULL like PostGIS's no-row aggregate.

Scale shape (SCALE.md): groupBy(tile_id) → sort_array(collect_list)
→ this map-only kernel: the binning shuffle is the only wide stage,
and each tile's payload is bounded by extent² geometry, not by table
size.
"""

from __future__ import annotations

import math
import struct

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from . import geometry as G

_MAX_FEATURES = 65_536  # per-tile sanity budget (loud NULL)


def _varint(n: int) -> bytes:
    if n < 0:
        n &= (1 << 64) - 1  # two's-complement 64-bit (proto int64)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _cmd(cmd_id: int, count: int) -> int:
    return (cmd_id & 0x7) | (count << 3)


def _deltas(pts, cursor):
    out = []
    cx, cy = cursor
    for x, y in pts:
        xi, yi = int(round(x)), int(round(y))
        out.append(_zigzag(xi - cx))
        out.append(_zigzag(yi - cy))
        cx, cy = xi, yi
    return out, (cx, cy)


def _geom_commands(g: G.Geometry):
    """(type_enum, [command ints]) per the spec §4.3; None for kinds a
    feature cannot carry (GeometryCollection)."""
    cursor = (0, 0)
    cmds: list[int] = []
    k = g.kind
    if k in ("Point", "MultiPoint"):
        pts = [g.coords] if k == "Point" else list(g.coords)
        cmds.append(_cmd(1, len(pts)))
        ds, cursor = _deltas(pts, cursor)
        cmds.extend(ds)
        return (1, cmds)
    if k in ("LineString", "MultiLineString"):
        chains = [g.coords] if k == "LineString" else list(g.coords)
        for ch in chains:
            cmds.append(_cmd(1, 1))
            ds, cursor = _deltas(ch[:1], cursor)
            cmds.extend(ds)
            cmds.append(_cmd(2, len(ch) - 1))
            ds, cursor = _deltas(ch[1:], cursor)
            cmds.extend(ds)
        return (2, cmds)
    if k in ("Polygon", "MultiPolygon"):
        polys = [g.coords] if k == "Polygon" else list(g.coords)
        for rings in polys:
            for ring in rings:
                body = ring[:-1]  # drop the WKT closing vertex
                cmds.append(_cmd(1, 1))
                ds, cursor = _deltas(body[:1], cursor)
                cmds.extend(ds)
                cmds.append(_cmd(2, len(body) - 1))
                ds, cursor = _deltas(body[1:], cursor)
                cmds.extend(ds)
                cmds.append(_cmd(7, 1))
        return (3, cmds)
    return None


def _encode_value(v) -> bytes | None:
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, int):
        if v >= 0:
            return _tag(4, 0) + _varint(v)
        return _tag(6, 0) + _varint(_zigzag(v))
    if isinstance(v, float):
        if not math.isfinite(v):
            return None
        return _tag(3, 1) + struct.pack("<d", v)
    return _len_field(1, str(v).encode("utf-8"))


def encode_tile(features, layer_name, extent) -> bytes | None:
    """features: iterable of (wkt, id_or_None, [(key, value)]) in
    final order. Returns Tile bytes or None (loud) on malformed
    geometry / non-finite value / empty input."""
    if not features or len(features) > _MAX_FEATURES:
        return None
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    vals: list[bytes] = []
    val_idx: dict[bytes, int] = {}
    feats: list[bytes] = []
    for wkt, fid, attrs in features:
        if wkt is None:
            return None
        g = G.parse_wkt(str(wkt))
        if g is None:
            return None
        gc = _geom_commands(g)
        if gc is None:
            return None
        gtype, cmds = gc
        tags: list[int] = []
        for k, v in attrs:
            if v is None:
                continue  # PostGIS omits NULL attributes
            enc = _encode_value(v)
            if enc is None:
                return None
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            if enc not in val_idx:
                val_idx[enc] = len(vals)
                vals.append(enc)
            tags.append(key_idx[k])
            tags.append(val_idx[enc])
        body = b""
        if fid is not None:
            if fid < 0:
                return None  # proto uint64 — loud, never wrapped
            body += _tag(1, 0) + _varint(int(fid))
        if tags:
            body += _len_field(2, b"".join(_varint(t) for t in tags))
        body += _tag(3, 0) + _varint(gtype)
        body += _len_field(4, b"".join(_varint(c) for c in cmds))
        feats.append(body)
    layer = _tag(15, 0) + _varint(2)  # version 2
    layer += _len_field(1, str(layer_name).encode("utf-8"))
    layer += _tag(5, 0) + _varint(int(extent))
    layer += b"".join(_len_field(3, k.encode("utf-8")) for k in keys)
    layer += b"".join(_len_field(4, v) for v in vals)
    layer += b"".join(_len_field(2, f) for f in feats)
    return _len_field(3, layer)


def asmvt_of(features, name, extent) -> bytes | None:
    """Adapter for the UDF row shape (list of dict-like structs)."""
    if features is None or name is None:
        return None
    ext = extent
    if ext is None:
        ext = 4096
    try:
        ext = int(ext)
    except (TypeError, ValueError):
        return None
    if isinstance(ext, float) and math.isnan(ext):
        return None
    if ext < 1:
        return None
    rows = []
    for f in features:
        if f is None:
            return None
        geom = f.get("geom") if isinstance(f, dict) else f["geom"]
        fid = f.get("id") if isinstance(f, dict) else f["id"]
        attrs = []
        amap = f.get("attrs") if isinstance(f, dict) else f["attrs"]
        nmap = f.get("nattrs") if isinstance(f, dict) else f["nattrs"]
        if amap:
            attrs.extend((str(k), v) for k, v in amap.items())
        if nmap:
            attrs.extend(
                (str(k), int(v) if v is not None else None)
                for k, v in nmap.items()
            )
        if fid is not None:
            if isinstance(fid, float):
                if math.isnan(fid):
                    fid = None
                else:
                    fid = int(fid)
            else:
                fid = int(fid)
        rows.append((geom, fid, attrs))
    return encode_tile(rows, str(name), ext)


@pandas_udf(BinaryType())
def st_asmvt(features: pd.Series, name: pd.Series, extent: pd.Series) -> pd.Series:
    """ST_AsMVT over a pre-collected, pre-sorted feature array
    (module docstring: compose with sort_array(collect_list(...)))."""
    out = []
    for f, n, e in zip(features, name, extent):
        try:
            out.append(asmvt_of(f, n, e))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_MVT_TILE_FUNCTIONS = {
    "st_asmvt": st_asmvt,
}
