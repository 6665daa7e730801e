"""Esri Shapefile source: ``read_shapefile`` (+ the fixture/sink
writer ``write_shapefile``) over the PUBLIC format specification
("ESRI Shapefile Technical Description", 1998 white paper — the .shp
geometry layout — and the dBASE III .dbf layout it pairs with).

Shapefiles are the lingua-franca interchange format of the GIS world;
the reference's users ingest them through ogr before loading BaseX /
Mongo, so a native reader closes the loop. This is an INGEST format —
one layer = one .shp (+ .dbf) file pair:

- ``.shp``: 100-byte header (file code 9994 big-endian, file length
  in 16-bit words, version 1000 little-endian, shape type, bbox),
  then records of (big-endian record number + content length,
  little-endian shape). Shape types decoded: 0 Null, 1 Point,
  3 PolyLine, 5 Polygon, 8 MultiPoint, and their Z forms 11 / 13 /
  15 / 18 (Z block required, trailing M block optional per spec) and
  M forms 21 / 23 / 25 / 28. Polygon ring winding follows the spec:
  CLOCKWISE rings are shells, counter-clockwise rings are holes;
  holes attach to the shell whose ring contains their first vertex;
  multiple shells → MULTIPOLYGON.
- ``.dbf``: dBASE III — 32-byte header (record count, header size,
  record size), 32-byte field descriptors to the 0x0D terminator,
  fixed-width latin-1 records with a deletion flag. Field types:
  C → string, N/F → bigint (decimals = 0) or double, L → boolean,
  D → 'YYYYMMDD' string. Deletion-flagged rows become positional
  placeholders (all-None attributes): the shapefile convention (and
  OGR) pairs .shp record i with .dbf record i — .shp cannot mark
  deletions, so dropping a flagged row would shift every later
  attribute row onto the wrong geometry (ADVICE r15).

``read_shapefile(spark, path)`` accepts a single ``.shp`` or a
directory of them; each pairs with its sibling ``.dbf`` by stem (a
missing .dbf yields geometry-only rows). Output schema:
``gid BIGINT`` (the .shp record number), ``geometry STRING`` (WKT),
then one column per dbf field. Multi-file directories must agree on
the field layout (checked up front across ALL headers — never
first-file sniffing, the reference's xml_extension.ts:236-273 bug
class). Malformed headers or truncated records raise (failfast, like
read_xml's default).

Scale shape: the DRIVER reads only the small .dbf headers to fix the
schema; file CONTENT ships through Spark's binaryFile source for BOTH
halves of every layer (no executor-local filesystem assumption) and
co-groups by layer stem — applyInPandas with one group per layer, the
only shuffle being the one-row-per-file stem exchange. Shapefiles are
capped at 2 GB by their own format, so per-layer granularity is the
right unit; a 100 TB ingest is thousands of layer files fanning out
across executors, and the decoded rows land in parquet for
everything downstream.
"""

from __future__ import annotations

import os
import re
import struct
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import geometry as G
from ..functions import wkt as W
from ..functions.geometry import Geometry
from ..functions.noding import signed_area2

# -- .shp record decoding ----------------------------------------------------

_SHAPE_BASE = {0: "Null", 1: "Point", 3: "PolyLine", 5: "Polygon", 8: "MultiPoint"}


def _kind_dims(shape_type: int):
    if shape_type in _SHAPE_BASE:
        return _SHAPE_BASE[shape_type], False, False
    if shape_type - 10 in _SHAPE_BASE and shape_type != 10:
        return _SHAPE_BASE[shape_type - 10], True, False  # Z (+optional M)
    if shape_type - 20 in _SHAPE_BASE and shape_type != 20:
        return _SHAPE_BASE[shape_type - 20], False, True  # M
    raise ValueError(f"unsupported shape type {shape_type}")


def _point_in_ring(pt, ring) -> bool:
    x, y = pt[0], pt[1]
    inside = False
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        if (y0 > y) != (y1 > y):
            xc = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
            if x < xc:
                inside = not inside
    return inside


def _assemble_polygons(rings):
    """ESRI winding: CW shells, CCW holes; holes attach by containment
    of their first vertex. Rings are 2-D (x, y) closed sequences."""
    shells = []
    holes = []
    for ring in rings:
        xy = [(p[0], p[1]) for p in ring]
        (shells if signed_area2(xy) < 0 else holes).append(ring)
    if not shells:
        # degenerate file: treat every ring as a shell (some writers
        # ignore winding); better one valid polygon than a silent drop
        shells, holes = rings, []
    polys = [[sh] for sh in shells]
    for hole in holes:
        first = (hole[0][0], hole[0][1])
        target = None
        for i, sh in enumerate(shells):
            if _point_in_ring(first, [(p[0], p[1]) for p in sh]):
                target = i
                break
        if target is None:
            polys.append([hole])  # orphan hole: keep it as a shell
        else:
            polys[target].append(hole)
    return polys


class _Rd:
    __slots__ = ("b", "p")

    def __init__(self, b: bytes, p: int = 0):
        self.b = b
        self.p = p

    def take(self, fmt: str):
        size = struct.calcsize(fmt)
        if self.p + size > len(self.b):
            raise ValueError("truncated shapefile record")
        out = struct.unpack_from(fmt, self.b, self.p)
        self.p += size
        return out


def _decode_shape(content: bytes):
    """One .shp record's content → WKT string or None (Null shape)."""
    r = _Rd(content)
    (st,) = r.take("<i")
    if st == 0:
        return None
    kind, has_z, has_m = _kind_dims(st)
    if kind == "Point":
        x, y = r.take("<2d")
        extra = []
        if has_z:
            extra.append(r.take("<d")[0])
            if r.p + 8 <= len(content):  # optional trailing M
                mval = r.take("<d")[0]
                if mval > -1e38:  # "no data" sentinel per spec
                    extra.append(mval)
        elif has_m:
            extra.append(r.take("<d")[0])
        return _emit("Point", has_z, has_m and not has_z, (x, y, *extra))
    r.take("<4d")  # bbox
    if kind == "MultiPoint":
        (n,) = r.take("<i")
        pts = [r.take("<2d") for _ in range(n)]
        pts = _with_dims(r, content, pts, n, has_z, has_m)
        return _emit("MultiPoint", has_z, has_m and not has_z, pts)
    (nparts,) = r.take("<i")
    (npts,) = r.take("<i")
    parts = [r.take("<i")[0] for _ in range(nparts)]
    pts = [r.take("<2d") for _ in range(npts)]
    pts = _with_dims(r, content, pts, npts, has_z, has_m)
    bounds = parts + [npts]
    chains = [pts[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    if kind == "PolyLine":
        if len(chains) == 1:
            return _emit("LineString", has_z, has_m and not has_z, chains[0])
        return _emit(
            "MultiLineString", has_z, has_m and not has_z, chains
        )
    polys = _assemble_polygons(chains)
    # normalize ESRI winding (shells CW) to the engine/OGC convention
    # (shells CCW, holes CW) so writer→reader round-trips echo and the
    # read geometry matches what every other constructor emits
    normed = []
    for rings in polys:
        fixed = []
        for j, ring in enumerate(rings):
            a2 = signed_area2([(p[0], p[1]) for p in ring])
            want_ccw = j == 0
            if a2 != 0 and (a2 > 0) != want_ccw:
                ring = ring[::-1]
            fixed.append(ring)
        normed.append(fixed)
    polys = normed
    if len(polys) == 1:
        return _emit("Polygon", has_z, has_m and not has_z, polys[0])
    return _emit("MultiPolygon", has_z, has_m and not has_z, polys)


def _with_dims(r: _Rd, content: bytes, pts, n: int, has_z: bool, has_m: bool):
    if not (has_z or has_m):
        return pts
    out = [list(p) for p in pts]
    if has_z:
        r.take("<2d")  # z range
        zs = [r.take("<d")[0] for _ in range(n)]
        for p, z in zip(out, zs):
            p.append(z)
        if r.p + 16 + 8 * n <= len(content):  # optional M block
            r.take("<2d")
            ms = [r.take("<d")[0] for _ in range(n)]
            if any(m > -1e38 for m in ms):
                for p, m in zip(out, ms):
                    p.append(m if m > -1e38 else 0.0)
    elif has_m:
        r.take("<2d")
        ms = [r.take("<d")[0] for _ in range(n)]
        for p, m in zip(out, ms):
            p.append(m if m > -1e38 else 0.0)
    return [tuple(p) for p in out]


def _emit(kind: str, has_z: bool, m_only: bool, payload) -> str:
    """Payload tuples are (x, y[, z[, m]]) / (x, y, m) for M-only."""

    def width_of(p):
        return len(p)

    sample = payload
    while isinstance(sample, list):
        sample = sample[0]
    w = width_of(sample)
    if has_z and w == 4:
        return W.write(kind, "ZM", payload)
    if has_z and w == 3:
        return W.write(kind, "Z", payload)
    if m_only and w == 3:
        return W.write(kind, "M", payload)
    # plain 2-D
    pay2 = payload
    if kind == "Point":
        return G.to_wkt(Geometry("Point", (pay2[0], pay2[1])))
    return G.to_wkt(Geometry(kind, pay2))


def shp_records(content: bytes):
    """[(record_number, wkt | None)] of one .shp file's bytes."""
    if len(content) < 100:
        raise ValueError("shapefile too short")
    code, = struct.unpack_from(">i", content, 0)
    if code != 9994:
        raise ValueError(f"bad .shp file code {code}")
    version, = struct.unpack_from("<i", content, 28)
    if version != 1000:
        raise ValueError(f"bad .shp version {version}")
    flen_words, = struct.unpack_from(">i", content, 24)
    if flen_words * 2 != len(content):
        raise ValueError("shp length field disagrees with file size")
    out = []
    pos = 100
    while pos < len(content):
        if pos + 8 > len(content):
            raise ValueError("truncated record header")
        recno, clen = struct.unpack_from(">2i", content, pos)
        pos += 8
        body = content[pos : pos + clen * 2]
        if len(body) != clen * 2:
            raise ValueError("truncated record body")
        out.append((recno, _decode_shape(body)))
        pos += clen * 2
    return out


# -- .dbf decoding ------------------------------------------------------------


def dbf_fields(content: bytes):
    """[(name, type, length, decimals)] from a .dbf header. The field
    area MUST end with the 0x0D terminator inside the buffer — an
    end-of-buffer stop would silently truncate an over-long field list
    (ADVICE r15), so a missing terminator raises instead."""
    if len(content) < 33:
        raise ValueError("dbf too short")
    fields = []
    pos = 32
    while True:
        if pos >= len(content):
            raise ValueError(
                "dbf field descriptor area missing its 0x0D terminator"
            )
        if content[pos] == 0x0D:
            break
        if pos + 32 > len(content):
            raise ValueError("truncated dbf field descriptor")
        raw = content[pos : pos + 32]
        name = raw[:11].split(b"\x00")[0].decode("latin-1").strip()
        ftype = chr(raw[11])
        length = raw[16]
        decimals = raw[17]
        if ftype not in "CNFLD":
            raise ValueError(f"unsupported dbf field type {ftype!r}")
        fields.append((name, ftype, length, decimals))
        pos += 32
    return fields


def dbf_records(content: bytes):
    """(fields, [row dict]) — deletion-flagged rows kept as positional
    all-None placeholders so row i always pairs with .shp record i."""
    fields = dbf_fields(content)
    nrec, = struct.unpack_from("<I", content, 4)
    hdr_size, rec_size = struct.unpack_from("<2H", content, 8)
    rows = []
    for i in range(nrec):
        off = hdr_size + i * rec_size
        rec = content[off : off + rec_size]
        if len(rec) < rec_size:
            raise ValueError("truncated dbf record")
        if rec[0:1] == b"*":
            rows.append({name: None for name, *_ in fields})
            continue  # deleted: placeholder keeps positions aligned
        pos = 1
        row = {}
        for name, ftype, length, decimals in fields:
            raw = rec[pos : pos + length].decode("latin-1")
            pos += length
            txt = raw.strip()
            if ftype == "C":
                row[name] = txt if txt else None
            elif ftype in "NF":
                if not txt:
                    row[name] = None
                elif decimals or "." in txt or ftype == "F":
                    row[name] = float(txt)
                else:
                    row[name] = int(txt)
            elif ftype == "L":
                row[name] = (
                    True
                    if txt in ("T", "t", "Y", "y")
                    else False
                    if txt in ("F", "f", "N", "n")
                    else None  # '?', ' ' — dbf's "uninitialized"
                )
            else:  # D
                row[name] = txt if txt else None
        rows.append(row)
    return fields, rows


# -- reader -------------------------------------------------------------------


def _field_spark_type(ftype: str, decimals: int):
    if ftype == "C" or ftype == "D":
        return StringType()
    if ftype == "L":
        return BooleanType()
    if ftype == "F" or decimals:
        return DoubleType()
    return LongType()


_EXT_RE = re.compile(r"\.(shp|dbf)$", re.IGNORECASE)


def _layer_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        out = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.lower().endswith(".shp")
        )
        if not out:
            raise ValueError(f"no .shp files under {path}")
        return out
    return [path]


def _sibling_dbf(shp_path: str) -> str | None:
    """Case-insensitive sibling discovery: X.SHP pairs with X.DBF or
    X.dbf (extension case-insensitive, stem exact — the stem grouping
    below strips extensions the same way, ADVICE r15)."""
    d = os.path.dirname(shp_path) or "."
    base = _EXT_RE.sub("", os.path.basename(shp_path))
    for f in sorted(os.listdir(d)):
        if f.lower().endswith(".dbf") and _EXT_RE.sub("", f) == base:
            return os.path.join(d, f)
    return None


def _dbf_header_bytes(dbf: str) -> bytes:
    """Driver-side schema sniff sized from the header's OWN hdr_size
    field, so an arbitrarily long field area is read whole and
    dbf_fields sees its 0x0D terminator (ADVICE r15)."""
    with open(dbf, "rb") as fh:
        head = fh.read(32)
        if len(head) < 32:
            raise ValueError("dbf too short")
        (hdr_size,) = struct.unpack_from("<H", head, 8)
        return head + fh.read(max(hdr_size, 33) - 32)


def read_shapefile(spark: SparkSession, path: str) -> DataFrame:
    shp_paths = _layer_paths(path)
    # schema from the small .dbf HEADERS of every layer (driver-side,
    # bytes not rows) — layouts must agree, never first-file sniffing
    layouts = {}
    for sp in shp_paths:
        dbf = _sibling_dbf(sp)
        if dbf is not None:
            layouts[sp] = tuple(dbf_fields(_dbf_header_bytes(dbf)))
        else:
            layouts[sp] = ()
    distinct = set(layouts.values())
    if len(distinct) > 1:
        raise ValueError(
            f"shapefile layers disagree on dbf layout: {sorted(distinct)}"
        )
    fields = list(next(iter(distinct)))
    schema = StructType(
        [
            StructField("gid", LongType(), False),
            StructField("geometry", StringType(), True),
        ]
        + [
            StructField(n, _field_spark_type(t, d), True)
            for n, t, _l, d in fields
        ]
    )
    field_names = [n for n, *_ in fields]

    # content decodes DISTRIBUTED: BOTH halves of each layer ship
    # through Spark's binaryFile source (no executor-local filesystem
    # assumption — on a real cluster the driver's paths aren't
    # mounted), then co-group by layer stem: one group per layer, the
    # only shuffle is the per-FILE stem exchange (one row per file)
    load_paths = [f"file://{os.path.abspath(p)}" for p in shp_paths]
    siblings = (_sibling_dbf(p) for p in shp_paths)
    dbf_paths = [
        f"file://{os.path.abspath(d)}" for d in siblings if d is not None
    ]
    both = spark.read.format("binaryFile").load(load_paths + dbf_paths)
    from pyspark.sql import functions as F

    both = both.select(
        F.regexp_replace(F.col("path"), r"(?i)\.(shp|dbf)$", "").alias("stem"),
        F.col("path"),
        F.col("content"),
    )

    def decode_layer(pdf):
        import pandas as pd

        shp_bytes = dbf_bytes = None
        for p, c in zip(pdf["path"], pdf["content"]):
            if p.lower().endswith(".shp"):
                shp_bytes = bytes(c)
            elif p.lower().endswith(".dbf"):
                dbf_bytes = bytes(c)
        rows = []
        if shp_bytes is not None:
            recs = shp_records(shp_bytes)
            attrs = []
            if field_names and dbf_bytes is not None:
                _, attrs = dbf_records(dbf_bytes)
            for i, (recno, wkt) in enumerate(recs):
                row = {"gid": recno, "geometry": wkt}
                src = attrs[i] if i < len(attrs) else {}
                for n in field_names:
                    row[n] = src.get(n)
                rows.append(row)
        return pd.DataFrame(rows, columns=["gid", "geometry"] + field_names)

    return both.groupBy("stem").applyInPandas(decode_layer, schema=schema)


# -- writer (fixture generator / sink) ----------------------------------------


def _wkt_to_shape(wkt) -> tuple[int, bytes]:
    """(shape_type, content bytes) of a 2-D WKT (writer side)."""
    if wkt is None:
        return 0, struct.pack("<i", 0)
    g = G.parse_wkt(str(wkt).strip())
    if g is None:
        raise ValueError(f"unwritable WKT: {wkt!r}")

    def bbox_pts(pts):
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        return min(xs), min(ys), max(xs), max(ys)

    if g.kind == "Point":
        return 1, struct.pack("<i2d", 1, g.coords[0], g.coords[1])
    if g.kind == "MultiPoint":
        pts = g.coords
        return 8, (
            struct.pack("<i4d", 8, *bbox_pts(pts))
            + struct.pack("<i", len(pts))
            + b"".join(struct.pack("<2d", *p) for p in pts)
        )
    if g.kind in ("LineString", "MultiLineString"):
        chains = [g.coords] if g.kind == "LineString" else g.coords
        code = 3
    else:
        code = 5
        polys = [g.coords] if g.kind == "Polygon" else g.coords
        chains = []
        for rings in polys:
            for j, ring in enumerate(rings):
                # ESRI winding: shell CW, holes CCW
                a2 = signed_area2(ring)
                want_cw = j == 0
                if (a2 < 0) != want_cw:
                    ring = ring[::-1]
                chains.append(ring)
    allpts = [p for ch in chains for p in ch]
    parts = []
    off = 0
    for ch in chains:
        parts.append(off)
        off += len(ch)
    return code, (
        struct.pack("<i4d", code, *bbox_pts(allpts))
        + struct.pack("<2i", len(chains), len(allpts))
        + b"".join(struct.pack("<i", p) for p in parts)
        + b"".join(struct.pack("<2d", *p) for p in allpts)
    )


def write_shapefile(
    rows: list[tuple], fields: list[tuple], shp_path: str
) -> None:
    """Write (wkt, attr...) rows as .shp + .dbf. ``fields`` =
    [(name, type, length, decimals)]; attr order follows it. A
    bounded fixture generator / result sink, driver-side by design
    (the same stance as the GeoJSON sink)."""
    shapes = [_wkt_to_shape(w) for w, *_ in rows]
    types = {t for t, _ in shapes if t != 0}
    if len(types) > 1:
        raise ValueError(f"mixed shape types in one layer: {sorted(types)}")
    layer_type = next(iter(types)) if types else 0
    recs = []
    for i, (st, body) in enumerate(shapes, start=1):
        recs.append(struct.pack(">2i", i, len(body) // 2) + body)
    content = b"".join(recs)
    pts = []
    for w, *_ in rows:
        if w is not None:
            gg = G.parse_wkt(str(w))
            if gg is not None:
                pts.extend(G._points(gg))
    if pts:
        bbox = (
            min(p[0] for p in pts),
            min(p[1] for p in pts),
            max(p[0] for p in pts),
            max(p[1] for p in pts),
        )
    else:
        bbox = (0.0, 0.0, 0.0, 0.0)
    header = (
        struct.pack(">i", 9994)
        + b"\x00" * 20
        + struct.pack(">i", (100 + len(content)) // 2)
        + struct.pack("<2i", 1000, layer_type)
        + struct.pack("<4d", *bbox)
        + struct.pack("<4d", 0, 0, 0, 0)
    )
    with open(shp_path, "wb") as fh:
        fh.write(header + content)

    # .dbf
    rec_size = 1 + sum(length for _, _, length, _ in fields)
    hdr = bytearray()
    hdr += bytes([0x03])
    today = date(2020, 1, 1)  # deterministic fixture timestamp
    hdr += bytes([today.year - 1900, today.month, today.day])
    hdr += struct.pack("<I", len(rows))
    hdr += struct.pack("<2H", 32 + 32 * len(fields) + 1, rec_size)
    hdr += b"\x00" * 20
    for name, ftype, length, decimals in fields:
        d = bytearray(32)
        d[:11] = name.encode("latin-1")[:11].ljust(11, b"\x00")
        d[11] = ord(ftype)
        d[16] = length
        d[17] = decimals
        hdr += bytes(d)
    hdr += b"\x0d"
    body = bytearray()
    for _w, *attrs in rows:
        body += b" "
        for (name, ftype, length, decimals), val in zip(fields, attrs):
            if val is None:
                txt = ""
            elif ftype in "NF":
                txt = (
                    f"{val:.{decimals}f}" if decimals else str(int(val))
                ).rjust(length)
            elif ftype == "L":
                txt = "?" if val is None else "T" if val else "F"
            else:
                txt = str(val)
            enc = txt.encode("latin-1")[:length]
            body += enc.ljust(length, b" ") if ftype in "CD L" else enc.rjust(
                length, b" "
            )
    with open(os.path.splitext(shp_path)[0] + ".dbf", "wb") as fh:
        fh.write(bytes(hdr) + bytes(body) + b"\x1a")
