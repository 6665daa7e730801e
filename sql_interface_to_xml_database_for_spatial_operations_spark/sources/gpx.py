"""GPX source: ``read_gpx`` over the public GPX 1.0/1.1 schema (the
GPS-exchange XML format every consumer GPS device and fitness app
emits; the reference's users convert GPX through ogr before loading
their XML databases, so a native reader closes that loop too).

One GPX file yields one row per FEATURE:

- ``wpt``  (waypoints)      → kind 'wpt',  POINT / POINT Z
- ``rte``  (routes)         → kind 'rte',  LINESTRING / LINESTRING Z
  over the ``rtept`` members
- ``trk``  (tracks)         → kind 'trk', one row PER ``trkseg``:
  LINESTRING / LINESTRING Z over the ``trkpt`` members (seg carries
  the 0-based segment index; single-point segments degrade to POINT)

Coordinates come from the ``lat``/``lon`` ATTRIBUTES (the GPX schema
puts them there, not in text nodes), emitted (x, y) = (lon, lat);
an ``<ele>`` child on every member point lifts the geometry to Z
(mixed presence uses 2-D — elevation must be a per-feature
invariant to type the geometry). ``<name>`` and the first member's
``<time>`` (verbatim ISO text) ride along as columns. Namespaced and
namespace-less documents both parse (the GPX 1.1 xmlns is stripped
by local-name matching, the read_xml convention).

Schema: ``file STRING, kind STRING, seg INT, name STRING,
time STRING, geometry STRING``. Malformed XML raises (failfast, like
read_xml's default); a ``wpt`` without lat/lon raises too — silent
feature drops hide corruption.

Scale shape: file content ships through Spark's binaryFile source
and decodes in mapInPandas — one task per file, the shapefile/XML
per-file parallelism; GPX files are device-sized (MBs), so the file
is the right unit of work, and decoded rows land in parquet for
everything downstream.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import geometry as G
from ..functions import wkt as W
from ..functions.geometry import Geometry

_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("seg", IntegerType(), True),
        StructField("name", StringType(), True),
        StructField("time", StringType(), True),
        StructField("geometry", StringType(), True),
    ]
)


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _child_text(el, name: str):
    for c in el:
        if _local(c.tag) == name:
            return (c.text or "").strip() or None
    return None


def _pt_of(el):
    try:
        lat = float(el.attrib["lat"])
        lon = float(el.attrib["lon"])
    except (KeyError, ValueError) as ex:
        raise ValueError(f"GPX point without valid lat/lon: {ex}")
    ele_txt = _child_text(el, "ele")
    ele = None
    if ele_txt is not None:
        try:
            ele = float(ele_txt)
        except ValueError:
            raise ValueError(f"GPX ele is not numeric: {ele_txt!r}")
    return (lon, lat, ele)


def _line_wkt(pts) -> str | None:
    """LINESTRING (Z when every member carries ele); 1 point → POINT;
    0 points → None."""
    if not pts:
        return None
    has_z = all(p[2] is not None for p in pts)
    if len(pts) == 1:
        x, y, z = pts[0]
        if has_z:
            return W.write("Point", "Z", (x, y, z))
        return G.to_wkt(Geometry("Point", (x, y)))
    if has_z:
        return W.write("LineString", "Z", [(x, y, z) for x, y, z in pts])
    return G.to_wkt(Geometry("LineString", [(x, y) for x, y, _ in pts]))


def gpx_rows(content: bytes, fname: str) -> list[dict]:
    """Feature rows of one GPX document's bytes (module docstring)."""
    root = ET.fromstring(content)
    if _local(root.tag) != "gpx":
        raise ValueError(f"not a GPX document: root <{_local(root.tag)}>")
    rows: list[dict] = []
    for el in root:
        tag = _local(el.tag)
        if tag == "wpt":
            x, y, z = _pt_of(el)
            wkt = (
                W.write("Point", "Z", (x, y, z))
                if z is not None
                else G.to_wkt(Geometry("Point", (x, y)))
            )
            rows.append(
                {
                    "file": fname,
                    "kind": "wpt",
                    "seg": None,
                    "name": _child_text(el, "name"),
                    "time": _child_text(el, "time"),
                    "geometry": wkt,
                }
            )
        elif tag == "rte":
            pts = [_pt_of(c) for c in el if _local(c.tag) == "rtept"]
            first_time = None
            for c in el:
                if _local(c.tag) == "rtept":
                    first_time = _child_text(c, "time")
                    break
            rows.append(
                {
                    "file": fname,
                    "kind": "rte",
                    "seg": None,
                    "name": _child_text(el, "name"),
                    "time": first_time,
                    "geometry": _line_wkt(pts),
                }
            )
        elif tag == "trk":
            name = _child_text(el, "name")
            seg_i = 0
            for c in el:
                if _local(c.tag) != "trkseg":
                    continue
                pts = [_pt_of(p) for p in c if _local(p.tag) == "trkpt"]
                first_time = None
                for p in c:
                    if _local(p.tag) == "trkpt":
                        first_time = _child_text(p, "time")
                        break
                rows.append(
                    {
                        "file": fname,
                        "kind": "trk",
                        "seg": seg_i,
                        "name": name,
                        "time": first_time,
                        "geometry": _line_wkt(pts),
                    }
                )
                seg_i += 1
    return rows


def read_gpx(spark: SparkSession, path: str) -> DataFrame:
    """One DataFrame over a .gpx file or a directory of them
    (distributed per file via binaryFile + mapInPandas)."""
    if os.path.isdir(path):
        paths = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.lower().endswith(".gpx")
        )
        if not paths:
            raise ValueError(f"no .gpx files under {path}")
    else:
        paths = [path]
    df = spark.read.format("binaryFile").load(
        [f"file://{os.path.abspath(p)}" for p in paths]
    )

    def decode(iterator):
        import pandas as pd

        cols = [f.name for f in _SCHEMA.fields]
        for pdf in iterator:
            rows: list[dict] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                fname = os.path.basename(fpath)
                rows.extend(gpx_rows(bytes(content), fname))
            yield pd.DataFrame(rows, columns=cols)

    return df.select("path", "content").mapInPandas(decode, schema=_SCHEMA)
