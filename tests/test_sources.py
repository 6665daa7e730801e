"""Source/sink tests: GML + KML XML readers (row-path detection,
attribute/nested-collection flattening per SURVEY.md §1.3), GeoJSON
reader, GeoJSON FeatureCollection sink, and the engine facade."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sql_interface_to_xml_database_for_spatial_operations_spark.engine import create_engine
from sql_interface_to_xml_database_for_spatial_operations_spark.sources.geojson import read_geojson
from sql_interface_to_xml_database_for_spatial_operations_spark.sources.sinks import (
    feature_lines,
    to_feature_collection,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.sources.xml import read_xml

from conftest import SF_DIR, jobs_in_group

GML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">
  <gml:featureMember>
    <puskesmas srid="4326">
      <nama>PKM Satu</nama>
      <kapasitas>120</kapasitas>
      <nilai><njop>5000</njop><tahun>2020</tahun></nilai>
      <pemilik><nama>Andi</nama><porsi>0.6</porsi></pemilik>
      <pemilik><nama>Budi</nama><porsi>0.4</porsi></pemilik>
      <gml:Point><gml:coordinates>106.8,-6.2</gml:coordinates></gml:Point>
    </puskesmas>
  </gml:featureMember>
  <gml:featureMember>
    <puskesmas srid="4326">
      <nama>PKM Dua</nama>
      <kapasitas>80</kapasitas>
      <nilai><njop>3000</njop><tahun>2021</tahun></nilai>
      <pemilik><nama>Cici</nama><porsi>1.0</porsi></pemilik>
      <gml:Point><gml:coordinates>107.1,-6.5</gml:coordinates></gml:Point>
    </puskesmas>
  </gml:featureMember>
</gml:FeatureCollection>
"""

KML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
  <Document>
    <Placemark>
      <name>Masjid A</name>
      <description>first</description>
      <Point><coordinates>124.84,1.48</coordinates></Point>
    </Placemark>
    <Placemark>
      <name>Masjid B</name>
      <description>second</description>
      <Point><coordinates>124.91,1.45</coordinates></Point>
    </Placemark>
  </Document>
</kml>
"""


@pytest.fixture(scope="module")
def gml_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("gml")
    (d / "puskesmas.xml").write_text(GML_DOC)
    return str(d)


@pytest.fixture(scope="module")
def kml_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("kml")
    (d / "masjid.kml").write_text(KML_DOC)
    return str(d)


def test_read_gml_rows_and_nesting(spark, gml_path):
    df = read_xml(spark, gml_path)
    rows = {r["nama"]: r for r in df.collect()}
    assert set(rows) == {"PKM Satu", "PKM Dua"}
    r = rows["PKM Satu"]
    # typed-ish values arrive as strings/longs from JSON inference
    assert int(r["kapasitas"]) == 120
    # row-element attribute (reference: _attribute__srid)
    assert r["_srid"] == "4326"
    # nested element (reference: nilai__njop ≡ col("nilai.njop"))
    assert int(r["nilai"]["njop"]) == 5000
    # geometry → WKT
    assert r["geometry"] == "POINT (106.8 -6.2)"
    # nested collection (reference: @_is_collection) → array
    assert len(r["pemilik"]) == 2


def test_gml_nested_collection_explode(spark, gml_path):
    """The reference's nested-collection lateral join (J6,
    xml_extension.ts:1373-1428) ≡ explode()."""
    df = read_xml(spark, gml_path)
    # single-element rows infer as struct OR array depending on data; the
    # fixture has one row with 2 pemilik and one with 1 → array of struct
    exploded = df.select("nama", F.explode("pemilik").alias("p")).select(
        "nama", F.col("p.nama").alias("pemilik_nama"), F.col("p.porsi").alias("porsi")
    )
    got = {(r.nama, r.pemilik_nama) for r in exploded.collect()}
    assert ("PKM Satu", "Andi") in got and ("PKM Satu", "Budi") in got and ("PKM Dua", "Cici") in got


def test_read_xml_axis_order(spark, tmp_path):
    """axis_order="latlon" (VERDICT r3 #8): a GML 3 / EPSG:4326 document
    storing latitude-first pos pairs normalizes to lon-lat WKT; the
    default stays as-is for reference parity (same doc, swapped result).
    Multi-part geometries swap every pair."""
    doc = """<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">
      <gml:featureMember><city>
        <name>Jakarta</name>
        <gml:Point><gml:pos>-6.2 106.8</gml:pos></gml:Point>
      </city></gml:featureMember>
      <gml:featureMember><city>
        <name>Box</name>
        <gml:Polygon><gml:exterior><gml:LinearRing>
          <gml:posList>-6 106 -6 107 -5 107 -5 106 -6 106</gml:posList>
        </gml:LinearRing></gml:exterior></gml:Polygon>
      </city></gml:featureMember>
    </gml:FeatureCollection>"""
    d = tmp_path / "latlon"
    d.mkdir()
    (d / "cities.gml").write_text(doc)
    asis = {r["name"]: r["geometry"] for r in read_xml(spark, str(d)).collect()}
    swapped = {
        r["name"]: r["geometry"]
        for r in read_xml(spark, str(d), axis_order="latlon").collect()
    }
    assert asis["Jakarta"] == "POINT (-6.2 106.8)"
    assert swapped["Jakarta"] == "POINT (106.8 -6.2)"
    assert swapped["Box"] == (
        "POLYGON ((106 -6, 107 -6, 107 -5, 106 -5, 106 -6))"
    )
    with pytest.raises(ValueError):
        read_xml(spark, str(d), axis_order="bogus")


def test_read_kml_placemarks(spark, kml_path):
    df = read_xml(spark, kml_path)
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {"Masjid A", "Masjid B"}
    assert rows["Masjid A"]["geometry"] == "POINT (124.84 1.48)"
    assert rows["Masjid A"]["_feature_type"] == "Placemark"


def test_read_geojson_collection(spark, tmp_path):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"nama": "RS Satu", "beds": 200},
                "geometry": {"type": "Point", "coordinates": [106.9, -6.3]},
            },
            {
                "type": "Feature",
                "properties": {"nama": "RS Dua", "beds": 90},
                "geometry": {"type": "Point", "coordinates": [107.0, -6.1]},
            },
        ],
    }
    p = tmp_path / "rs.geojson"
    p.write_text(json.dumps(fc))
    df = read_geojson(spark, str(p))
    rows = {r["nama"]: r for r in df.collect()}
    assert rows["RS Satu"]["beds"] == 200
    assert rows["RS Satu"]["geometry"] == "POINT (106.9 -6.3)"


def test_feature_collection_sink_roundtrip(spark, tmp_path):
    fc_in = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"nama": "X", "v": 1},
                "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
            }
        ],
    }
    p = tmp_path / "x.geojson"
    p.write_text(json.dumps(fc_in))
    df = read_geojson(spark, str(p))
    out = to_feature_collection(df)
    assert out["type"] == "FeatureCollection"
    f = out["features"][0]
    assert f["geometry"] == {"type": "Point", "coordinates": [1.5, 2.5]}
    assert f["properties"]["nama"] == "X"
    # scalable variant: one JSON Feature per line
    lines = feature_lines(df).collect()
    assert json.loads(lines[0].feature)["type"] == "Feature"


def test_engine_facade_sql_and_geojson(spark, gml_path):
    eng = create_engine(spark, SF_DIR)
    eng.register_xml("puskesmas", gml_path)
    assert "puskesmas" in eng.tables()
    rows = eng.sql_rows(
        "SELECT nama, st_x(geometry) AS lon FROM puskesmas WHERE CAST(kapasitas AS INT) > 100"
    )
    assert [r.nama for r in rows] == ["PKM Satu"]
    assert rows[0].lon == 106.8
    fc = eng.sql_geojson("SELECT nama, geometry FROM puskesmas")
    assert len(fc["features"]) == 2
    assert eng.stats[-1].rows == 2
    # relational tables registered too
    n = eng.sql_rows("SELECT count(*) AS n FROM nation")[0].n
    assert n == 25


# -- reference flattened-naming compat (SURVEY.md §1.3) --------------------

UNDEF_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">
  <gml:featureMember>
    <f><kode>A1</kode><nama>elem-loc</nama></f>
  </gml:featureMember>
  <gml:featureMember>
    <f kode="A2"><nama>attr-loc</nama></f>
  </gml:featureMember>
  <gml:featureMember>
    <f><info><kode>A3</kode></info><nama>nested-loc</nama></f>
  </gml:featureMember>
</gml:FeatureCollection>
"""


def test_flattened_view_reference_names(spark, gml_path):
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.compat import (
        flattened_view,
    )

    flat = flattened_view(read_xml(spark, gml_path))
    cols = set(flat.columns)
    # parent__child for the nested struct, _attribute__attr for the row
    # attribute — exactly the reference's naming (xml_extension.ts:1738-1751)
    assert {"nilai__njop", "nilai__tahun", "_attribute__srid", "nama", "kapasitas"} <= cols
    rows = {r["nama"]: r for r in flat.collect()}
    assert rows["PKM Satu"]["nilai__njop"] == "5000"
    assert rows["PKM Satu"]["_attribute__srid"] == "4326"
    # nested collection stays an array (reference J6 lateral join ≡ explode)
    assert [p["nama"] for p in rows["PKM Satu"]["pemilik"]] == ["Andi", "Budi"]


def test_flattened_view_is_pure_projection(spark, gml_path, tmp_path):
    """The compat layer must not break Catalyst pruning: over a columnar
    source, selecting one flattened column prunes the scan down to its
    struct (ReadSchema shows only nilai.njop — nothing else is read)."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.compat import (
        flattened_view,
    )

    pq = str(tmp_path / "persil.parquet")
    read_xml(spark, gml_path).write.parquet(pq)
    flat = flattened_view(spark.read.parquet(pq)).select("nilai__njop")
    plan = flat._sc._jvm.PythonSQLUtils.explainString(flat._jdf.queryExecution(), "formatted")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "njop" in read_schema
    assert "kapasitas" not in read_schema and "pemilik" not in read_schema


def test_undef_column_searches_all_locations(spark, tmp_path):
    """_undef__ semantics: element text, row attribute, and nested child
    locations all resolve (reference: xml_extension.ts:1711-1737)."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.compat import (
        undef_column,
    )

    d = tmp_path / "undef"
    d.mkdir()
    (d / "f.xml").write_text(UNDEF_DOC)
    df = read_xml(spark, str(d))
    got = {
        r["nama"]: r["kode"]
        for r in df.select("nama", undef_column(df, "kode").alias("kode")).collect()
    }
    assert got == {"elem-loc": "A1", "attr-loc": "A2", "nested-loc": "A3"}


# -- empty-result robustness (verify-skill probe class) --------------------


def test_empty_results_through_engine_surfaces(spark, gml_path):
    """Empty result sets must flow cleanly through every sink surface:
    rowset, FeatureCollection (0 features), and processQuery payload."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.engine import create_engine

    eng = create_engine(spark)
    eng.register_xml("pkm", gml_path)

    rows = eng.sql_rows("SELECT nama FROM pkm WHERE kapasitas > 99999")
    assert rows == []

    fc = eng.sql_geojson("SELECT nama, geometry FROM pkm WHERE 1 = 0")
    assert fc == {"type": "FeatureCollection", "features": []}

    res = eng.process_query(
        "SELECT nama, st_asgeojson(geometry) AS st_asgeojson FROM pkm WHERE 1 = 0"
    )
    assert res["totalData"] == 0
    assert res["rows"] == []
    assert res["geojson"]["features"] == []


def test_empty_input_operators(spark, tmp_path):
    """Operators over an empty (zero-row) table must return empty, not
    fail — a 100 TB run will hit empty partitions and empty filters."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (
        load_table,
    )

    src = load_table(spark, SF_DIR, "documents").limit(0)
    d = str(tmp_path / "empty_docs")
    src.write.parquet(f"{d}/documents.parquet")
    # shingle → pair generation over zero docs
    assert jaccard_pairs(spark, d).count() == 0
    # component clustering over an empty pair graph
    empty_pairs = spark.createDataFrame([], "doc1 bigint, doc2 bigint")
    assert connected_components(empty_pairs).count() == 0


MULTI_GML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">
  <gml:featureMember>
    <provinsi>
      <nama>Kepulauan</nama>
      <gml:MultiGeometry>
        <gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing>
          <gml:posList>0 0 4 0 4 4 0 4 0 0</gml:posList>
        </gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>
        <gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing>
          <gml:posList>10 10 12 10 12 12 10 12 10 10</gml:posList>
        </gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>
      </gml:MultiGeometry>
    </provinsi>
  </gml:featureMember>
</gml:FeatureCollection>
"""


def test_read_gml_multipart_geometry(spark, tmp_path):
    """A 2-polygon province must ingest as a full MULTIPOLYGON — the
    reference preserves all parts via PostGIS ST_GeomFromGML
    (src/index.ts:44-63); truncating to the first part corrupts any
    archipelago-shaped feature (VERDICT r1 missing #2)."""
    d = tmp_path / "multigml"
    d.mkdir()
    (d / "provinsi.xml").write_text(MULTI_GML_DOC)
    df = read_xml(spark, str(d))
    rows = df.collect()
    assert len(rows) == 1
    wkt = rows[0]["geometry"]
    assert wkt.startswith("MULTIPOLYGON") and "10 10" in wkt and "0 0" in wkt
    # and the full round-trip through the UDF surface preserves both parts
    out = (
        df.select(F.expr("st_area(geometry)").alias("a"), F.expr("st_astext(st_geomfromtext(geometry))").alias("w"))
        .collect()[0]
    )
    assert out["a"] == 20.0 and out["w"] == wkt


def test_st_geomfromgml_multipart_roundtrip(spark):
    """st_astext(st_geomfromgml(...)) on multi-part GML input (VERDICT r1
    next-round item 5)."""
    frag = (
        "<gml:MultiPolygon>"
        "<gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing>"
        "<gml:posList>0 0 4 0 4 4 0 4 0 0</gml:posList>"
        "</gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>"
        "<gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing>"
        "<gml:posList>10 10 12 10 12 12 10 12 10 10</gml:posList>"
        "</gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>"
        "</gml:MultiPolygon>"
    )
    row = spark.sql(
        f"""SELECT st_astext(st_geomfromgml('{frag}')) AS wkt,
                   st_area(st_geomfromgml('{frag}')) AS a,
                   st_geometrytype(st_geomfromgml('{frag}')) AS t"""
    ).collect()[0]
    assert row["wkt"] == (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
        "((10 10, 12 10, 12 12, 10 12, 10 10)))"
    )
    assert row["a"] == 20.0 and row["t"] == "ST_MultiPolygon"


DEEP_GML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">
  <gml:featureMember>
    <persil>
      <nilai>
        <pajak tahun="2021">
          <njop kelas="A">5000</njop>
        </pajak>
      </nilai>
      <gml:Point><gml:coordinates>106.8,-6.2</gml:coordinates></gml:Point>
    </persil>
  </gml:featureMember>
</gml:FeatureCollection>
"""


def test_flattened_view_deep_paths(spark, tmp_path):
    """Depth-4 flattened names (`a__b__c` values, `_attribute__a__b__attr`)
    — the reference marks these unsupported (preprocessing.ts:97-100);
    pure-projection recursion makes them free here."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.compat import (
        flattened_view,
    )

    d = tmp_path / "deepgml"
    d.mkdir()
    (d / "persil.xml").write_text(DEEP_GML_DOC)
    flat = flattened_view(read_xml(spark, str(d)))
    row = flat.collect()[0]
    assert row["nilai__pajak__njop"] == "5000"
    assert row["_attribute__nilai__pajak__tahun"] == "2021"
    assert row["_attribute__nilai__pajak__njop__kelas"] == "A"
    assert row["geometry"] == "POINT (106.8 -6.2)"


def test_engine_explain_surface(spark, gml_path):
    """engine.explain: pushdown must be visible in the returned plan —
    the analog of the reference printing its rewritten native queries."""
    eng = create_engine(spark, SF_DIR)
    plan = eng.explain("SELECT o_orderkey FROM orders WHERE o_orderkey < 100")
    assert "PushedFilters" in plan and "o_orderkey" in plan


def test_read_xml_permissive_skips_corrupt_files(spark, tmp_path):
    """One corrupt file must not kill a 100 TB ingest: permissive mode
    drops the malformed document and keeps every good row; failfast
    (the default) raises."""
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.xml").write_text(GML_DOC)
    (d / "bad.xml").write_text("<gml:FeatureCollection><broken")
    ok = read_xml(spark, str(d), mode="permissive")
    assert ok.count() == 2 and set(r["nama"] for r in ok.collect()) == {"PKM Satu", "PKM Dua"}
    with pytest.raises(Exception):
        read_xml(spark, str(d)).count()


def test_undef_column_finds_deeply_nested(spark, tmp_path):
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.compat import (
        undef_column,
    )

    d = tmp_path / "deepundef"
    d.mkdir()
    (d / "persil.xml").write_text(DEEP_GML_DOC)
    df = read_xml(spark, str(d))
    # njop lives 3 structs deep (nilai.pajak.njop, with attributes so the
    # text is njop._VALUE) — the reference's one-level _undef__ OR misses
    # it; recursive descent finds it
    assert df.select(undef_column(df, "njop").alias("v")).collect()[0]["v"] == "5000"
    assert df.select(undef_column(df, "tahun").alias("v")).collect()[0]["v"] == "2021"
    assert df.select(undef_column(df, "missing").alias("v")).collect()[0]["v"] is None


def test_engine_safe_query_error_contract(spark, gml_path):
    """process_query_safe mirrors the reference's catch-and-render error
    shape (demo/routes.ts:173-186): error message + echoed input + empty
    rowset, never a raised exception."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.engine import SpatialSQLEngine

    eng = SpatialSQLEngine(spark=spark)
    eng.register_xml("safe_t", gml_path)

    ok = eng.process_query_safe("SELECT count(*) AS n FROM safe_t")
    assert ok["error"] is None and ok["totalData"] == 1

    for bad in (
        "SELECT * FROM no_such_table_xyz",
        "SELECT not_a_function(1)",
        "SELEC syntax error",
    ):
        res = eng.process_query_safe(bad)
        assert res["error"] and res["input"] == bad
        assert res["rows"] == [] and res["totalData"] == 0


def test_events_load_pins_utc_session_zone(spark):
    """Event time is defined as naive-wall-time-= -UTC: a host session
    zone with DST (r6 self-review) must not warp NTZ casts or
    date_trunc bucketing away from the oracle's naive reads. The loader
    pins the session zone at events load; this simulates the hostile
    host by un-pinning first."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (
        load_table,
    )

    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        events = load_table(spark, SF_DIR, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        import pyspark.sql.functions as F

        row = (
            events.select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("wall"),
                F.unix_micros("ts").alias("us"),
            )
            .orderBy("us")
            .first()
        )
        # Under UTC, the rendered wall time IS the epoch value: linear
        # mapping, no DST gap/overlap possible.
        import datetime as dt

        rendered = dt.datetime.strptime(row["wall"], "%Y-%m-%d %H:%M:%S")
        epoch = dt.datetime(1970, 1, 1)
        assert int((rendered - epoch).total_seconds()) * 1_000_000 == (
            row["us"] - row["us"] % 1_000_000
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


# -- document registrations: lazily cached, catalog-owned lifecycle --------


def _plan_leaves(df) -> list[str]:
    """Node names of the leaves of ``df``'s executed physical plan, with
    AQE wrappers, query stages and reused exchanges unwrapped. An
    in-memory scan is a leaf: the cached subtree it reads is not one of
    its children, so a document scan inside the cache never shows up."""
    out: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return walk(node.child())
        children = node.children()
        if children.length() == 0:
            out.append(node.nodeName())
        for i in range(children.length()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _cached_entries(spark, view: str) -> int:
    """Storage entries holding ``view``'s cached relation."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(1 for i in infos if i.name() == f"In-memory table {view}")


def _feature_collection(names: list[str]) -> str:
    return json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "properties": {"nama": n, "v": i},
                    "geometry": {"type": "Point", "coordinates": [106.0 + i, -6.0]},
                }
                for i, n in enumerate(names)
            ],
        }
    )


@pytest.mark.parametrize("fmt", ["gml", "geojson"])
def test_document_registration_cache_lifecycle(spark, tmp_path, fmt):
    """A registered document is parsed once: later queries scan the
    in-memory relation, re-registering after a rewrite reloads it into
    one storage entry, and dropping the view frees that entry."""
    eng = create_engine(spark)
    view = f"doc_cache_{fmt}"
    path = tmp_path / f"doc.{fmt}"

    def write(names: list[str]) -> None:
        if fmt == "gml":
            doc = GML_DOC.replace("PKM Satu", names[0]).replace("PKM Dua", names[1])
        else:
            doc = _feature_collection(names)
        path.write_text(doc)

    def register() -> None:
        if fmt == "gml":
            eng.register_xml(view, str(path))
        else:
            eng.register_geojson(view, str(path))

    write(["PKM Satu", "PKM Dua"])
    register()
    query = f"SELECT nama, st_x(geometry) AS lon FROM {view}"
    assert sorted(r.nama for r in eng.sql_rows(query)) == ["PKM Dua", "PKM Satu"]
    df = spark.sql(f"{query} WHERE nama = 'PKM Dua'")
    assert [r.nama for r in df.collect()] == ["PKM Dua"]
    assert _plan_leaves(df) == [f"Scan In-memory table {view}"]
    assert _cached_entries(spark, view) == 1

    # a snapshot: the rewrite shows only after re-registering the name
    write(["PKM Tiga Baru", "PKM Empat"])
    assert sorted(r.nama for r in eng.sql_rows(query)) == ["PKM Dua", "PKM Satu"]
    register()
    assert sorted(r.nama for r in eng.sql_rows(query)) == ["PKM Empat", "PKM Tiga Baru"]
    assert _cached_entries(spark, view) == 1

    spark.catalog.dropTempView(view)
    assert _cached_entries(spark, view) == 0


def test_register_xml_corrupt_document_raises(spark, tmp_path):
    """Caching keeps registration lazy for queries, but schema inference
    still parses the document: a corrupt one fails at register_xml."""
    eng = create_engine(spark)
    bad = tmp_path / "bad.xml"
    bad.write_text("<gml:FeatureCollection><broken")
    with pytest.raises(Exception, match="ParseError"):
        eng.register_xml("doc_cache_corrupt", str(bad))
    assert "doc_cache_corrupt" not in eng.tables()


# -- table loads: memoized Parquet schema, fan_out probe ---------------------


def _write_region(sf_dir, extra: bool = False) -> None:
    import pandas as pd

    pdf = pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]})
    if extra:
        pdf["r_comment"] = ["x", "y"]
    pdf.to_parquet(sf_dir / "region.parquet", index=False)


def test_load_table_memoizes_schema_until_file_changes(spark, tmp_path):
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (
        load_table,
    )

    _write_region(tmp_path)
    first, _ = jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "region"))
    again, jobs = jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    _write_region(tmp_path, extra=True)
    rewritten = load_table(spark, str(tmp_path), "region")
    assert "r_comment" in rewritten.columns
    assert sorted(r.r_comment for r in rewritten.collect()) == ["x", "y"]


def test_load_table_schema_memo_keys_on_inference_confs(spark, tmp_path):
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (
        load_table,
    )

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    original = spark.conf.get(conf)
    flipped = "false" if original == "true" else "true"
    _write_region(tmp_path)
    load = lambda: load_table(spark, str(tmp_path), "region")  # noqa: E731
    load()
    try:
        assert jobs_in_group(spark, load)[1] == 0
        spark.conf.set(conf, flipped)
        assert jobs_in_group(spark, load)[1] == 1
    finally:
        spark.conf.set(conf, original)
    assert jobs_in_group(spark, load)[1] == 0


def test_file_memo_keeps_one_stamp_per_file(spark, tmp_path):
    import os

    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (
        _MEMO_ATTR,
        load_table,
    )

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    original = spark.conf.get(conf)
    flipped = "false" if original == "true" else "true"
    file = ("schema", os.path.realpath(tmp_path / "region.parquet"))
    memo = spark.__dict__.setdefault(_MEMO_ATTR, {})
    for i in range(20):
        _write_region(tmp_path, extra=bool(i % 2))
        assert len(load_table(spark, str(tmp_path), "region").columns) == 2 + i % 2
    try:
        spark.conf.set(conf, flipped)
        load_table(spark, str(tmp_path), "region")
    finally:
        spark.conf.set(conf, original)
    mine = [k for k in memo if k[:2] == file]
    # one stamp, with an entry for each conf tuple loaded under it
    assert len({k[2:5] for k in mine}) == 1
    assert len(mine) == 2


def test_fan_out_probes_partitions_when_input_has_no_files(spark):
    from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (
        fan_out,
    )

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 64, 1, target)
    assert fan_out(wide) is wide
    narrow = fan_out(spark.range(0, 64, 1, 1))
    assert "Exchange" in narrow._jdf.queryExecution().executedPlan().toString()
    assert narrow.count() == 64
