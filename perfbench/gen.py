"""Seeded input generators for the benchmark.

Two input families, both a pure function of the seed:

- ``write_tables``: the fixture tables the registry rows read
  (``region nation customer``), with the schemas of the TPC-H-ish
  testdata the engine's queries and DuckDB oracles expect.
- ``write_kinerja``: the paper's kinerja fixtures (FIXTURES.md §1-2).
  ``puskesmas`` point features and ``kecamatan`` district boxes, each
  written as a GeoJSON FeatureCollection and as a GML ``featureMember``
  document, plus the expected answer of every kinerja query.

Every point lies strictly inside its district, at least ``_MARGIN`` from
every edge, so no boundary rule can flip a spatial-join result. District
boxes are separated by gaps, so each point lies in exactly one district.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- registry fixture tables --------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_DEAL_SEED = 0  # fixed customer-to-nation deal (see write_tables)


def write_tables(out_dir: str, seed: int, customers: int) -> dict:
    """Write the fixture tables as parquet; return their row counts.

    The registry rows derive point coordinates from ``c_custkey`` and
    group or join by ``c_nationkey``, and read no other column. Both are
    fixed: the customers are dealt out to the 25 nations, exactly
    ``customers / 25`` each, by a fixed shuffle. A seeded deal would
    change how many neighbours DBSCAN (q160) chains together, and with
    it the work, by up to 2.5x between seeds. So the seed varies only the
    columns the rows do not read, and every seed gives the registry rows
    the same input."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> int:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
        return len(next(iter(cols.values())))

    i32 = pa.int32()
    sizes = {
        "region": put(
            "region",
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)},
        ),
        "nation": put(
            "nation",
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            },
        ),
        "customer": put(
            "customer",
            {
                "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
                "c_nationkey": pa.array(
                    np.random.default_rng(_DEAL_SEED).permutation(np.arange(customers) % 25)
                    .astype(np.int32)
                ),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, customers), 2)),
                "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, customers)]),
            },
        ),
    }
    return sizes


# -- kinerja fixtures ------------------------------------------------------------

PROVINCES = ["Aceh", "Bali", "Jawa Barat", "Papua", "Sulawesi Utara"]
JENIS = ["klinik", "poskesdes", "puskesmas", "pustu"]
_MARGIN = 0.01  # minimum distance of a point from its district's edges
_CELL = 1.0  # district grid pitch, degrees
_GAP = 0.05  # gap between neighbouring district boxes, degrees
_LON0, _LAT0 = 95.0, -11.0
D1_MIN_KAPASITAS = 150
D2_KAPASITAS, D2_JENIS = 7, "klinik"
D3_PROVINSI = "Sulawesi Utara"


def _fmt(x: float) -> str:
    return repr(float(x))


def kinerja_sql(points: str, districts: str) -> dict[str, str]:
    """Q-D1..Q-D5 as SQL text over the given table names. Document columns
    are cast explicitly because GML values arrive as strings."""
    return {
        "D1": (
            f"SELECT CAST(id AS BIGINT) AS id, nama, st_asgeojson(geometry) AS geojson "
            f"FROM {points} WHERE CAST(kapasitas AS BIGINT) > {D1_MIN_KAPASITAS}"
        ),
        "D2": (
            f"SELECT CAST(id AS BIGINT) AS id, nama, CAST(rating AS DOUBLE) AS rating "
            f"FROM {points} WHERE CAST(kapasitas AS BIGINT) = {D2_KAPASITAS} "
            f"AND jenis = '{D2_JENIS}'"
        ),
        "D3": (
            f"SELECT CAST(p.id AS BIGINT) AS id, k.nama AS kecamatan FROM {points} p "
            f"JOIN {districts} k ON CAST(p.kecamatan_id AS BIGINT) = CAST(k.id AS BIGINT) "
            f"WHERE k.provinsi = '{D3_PROVINSI}'"
        ),
        "D4": (
            f"SELECT CAST(p.id AS BIGINT) AS id, CAST(k.id AS BIGINT) AS kecamatan_id "
            f"FROM {points} p JOIN {districts} k ON st_within(p.geometry, k.geometry)"
        ),
        "D5": (
            f"SELECT k.provinsi, count(*) AS n, sum(CAST(p.kapasitas AS BIGINT)) AS total "
            f"FROM {districts} k JOIN {points} p ON st_contains(k.geometry, p.geometry) "
            f"GROUP BY k.provinsi"
        ),
    }


def _kinerja_rows(seed: int, points: int, districts: int):
    rng = np.random.default_rng(seed)
    cols = int(np.ceil(np.sqrt(districts)))
    kec = []
    for i in range(districts):
        r, c = divmod(i, cols)
        minx, miny = _LON0 + c * _CELL, _LAT0 + r * _CELL
        maxx, maxy = minx + _CELL - _GAP, miny + _CELL - _GAP
        nama = f"Kecamatan {i + 1}" if i % 7 else f"Kec. Ma'rang {i + 1}"
        kec.append(
            {
                "id": i + 1,
                "nama": nama,
                "provinsi": PROVINCES[i % len(PROVINCES)],
                "populasi": int(rng.integers(5_000, 250_000)),
                "luas": round((maxx - minx) * (maxy - miny), 6),
                "box": (minx, miny, maxx, maxy),
            }
        )
    # skewed kecamatan_id: a few hot districts hold a third of the points
    weights = np.ones(districts)
    weights[: max(1, districts // 16)] = districts / 4
    weights /= weights.sum()
    owner = rng.choice(districts, points, p=weights)
    pts = []
    for j in range(points):
        minx, miny, maxx, maxy = kec[owner[j]]["box"]
        lon = round(float(rng.uniform(minx + _MARGIN, maxx - _MARGIN)), 6)
        lat = round(float(rng.uniform(miny + _MARGIN, maxy - _MARGIN)), 6)
        nama = None if rng.random() < 0.015 else (
            f"Puskesmas Sint'Anna {j + 1}" if rng.random() < 0.03 else f"Puskesmas {j + 1}"
        )
        rating = None if rng.random() < 0.015 else round(float(rng.uniform(1, 5)), 2)
        pts.append(
            {
                "id": j + 1,
                "nama": nama,
                "jenis": JENIS[int(rng.integers(0, len(JENIS)))],
                "kapasitas": int(rng.integers(1, 201)),
                "rating": rating,
                "kecamatan_id": int(owner[j]) + 1,
                "lon": lon,
                "lat": lat,
            }
        )
    return pts, kec


def _ring(box) -> list[list[float]]:
    minx, miny, maxx, maxy = box
    return [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]


def _geojson(rows: list[dict], geom) -> str:
    feats = []
    for r in rows:
        props = {k: v for k, v in r.items() if k not in ("box", "lon", "lat")}
        feats.append({"type": "Feature", "properties": props, "geometry": geom(r)})
    return json.dumps({"type": "FeatureCollection", "features": feats})


def _xml_text(v) -> str:
    return str(v).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _gml(rows: list[dict], tag: str, geom) -> str:
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">']
    for r in rows:
        fields = "".join(
            f"<{k}>{_xml_text(v)}</{k}>"
            for k, v in r.items()
            if k not in ("box", "lon", "lat") and v is not None
        )
        out.append(f"<gml:featureMember><{tag}>{fields}{geom(r)}</{tag}></gml:featureMember>")
    out.append("</gml:FeatureCollection>")
    return "\n".join(out)


def _gml_polygon(box) -> str:
    pos = " ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in _ring(box))
    return (
        "<gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>"
        f"{pos}</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>"
    )


def write_kinerja(out_dir: str, seed: int, points: int, districts: int) -> dict:
    """Write puskesmas/kecamatan in both formats (one file per directory,
    as the readers take a path) and return the expected answers."""
    pts, kec = _kinerja_rows(seed, points, districts)
    docs = {
        ("geojson", "puskesmas"): _geojson(
            pts, lambda r: {"type": "Point", "coordinates": [r["lon"], r["lat"]]}
        ),
        ("geojson", "kecamatan"): _geojson(
            kec, lambda r: {"type": "Polygon", "coordinates": [_ring(r["box"])]}
        ),
        ("gml", "puskesmas"): _gml(
            pts,
            "puskesmas",
            lambda r: f"<gml:Point><gml:coordinates>{_fmt(r['lon'])},{_fmt(r['lat'])}"
            "</gml:coordinates></gml:Point>",
        ),
        ("gml", "kecamatan"): _gml(kec, "kecamatan", lambda r: _gml_polygon(r["box"])),
    }
    for (fmt, name), text in docs.items():
        d = os.path.join(out_dir, fmt, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{name}.{fmt}"), "w", encoding="utf-8") as f:
            f.write(text)

    prov = {k["id"]: k["provinsi"] for k in kec}
    knama = {k["id"]: k["nama"] for k in kec}
    d5: dict[str, list[int]] = {}
    for p in pts:
        acc = d5.setdefault(prov[p["kecamatan_id"]], [0, 0])
        acc[0] += 1
        acc[1] += p["kapasitas"]
    return {
        "D1": sorted(
            [p["id"], p["nama"], [p["lon"], p["lat"]]]
            for p in pts
            if p["kapasitas"] > D1_MIN_KAPASITAS
        ),
        "D2": sorted(
            [p["id"], p["nama"], p["rating"]]
            for p in pts
            if p["kapasitas"] == D2_KAPASITAS and p["jenis"] == D2_JENIS
        ),
        "D3": sorted(
            [p["id"], knama[p["kecamatan_id"]]]
            for p in pts
            if prov[p["kecamatan_id"]] == D3_PROVINSI
        ),
        "D4": sorted([p["id"], p["kecamatan_id"]] for p in pts),
        "D5": sorted([k, v[0], v[1]] for k, v in d5.items()),
    }
