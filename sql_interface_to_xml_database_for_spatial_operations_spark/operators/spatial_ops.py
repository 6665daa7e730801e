"""Spatial operator suite (SURVEY.md §2.6 F1-F12 + spatial joins).

The fixture tables carry no geometry, so deterministic coordinates are
derived from integer keys (identical integer→double arithmetic on the
Spark and DuckDB sides); the Spark side then goes through the *real* WKT
+ UDF path (st_point → st_within/st_distance/...), while the oracle
re-expresses the predicate in plain SQL math over the raw coordinates —
so the WKT serialization, parsing, and geometry evaluation are what is
actually under test.

Scale pattern (the one that matters at 100 TB): every spatial join first
applies a JVM-side bounding-box range predicate — Catalyst-planned,
codegen'd, pushdown-friendly — and only the surviving candidate pairs
reach the vectorized Python UDF. This is the honest generalization of
the reference's only real optimization, the Mongo ``$near`` pushdown
(reference: extension/mongodb/mongo_extension.ts:129-152).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, shared_relation
from .registry import query

# ---------------------------------------------------------------------------
# Derived geometry fixtures (same arithmetic both engines, bit-identical)
# ---------------------------------------------------------------------------


@shared_relation("customer")
def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point features from customer keys (analog of the reference's
    puskesmas/masjid point tables, SURVEY.md §5)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        ((F.col("c_custkey") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("c_custkey") * 104729 % 17000) / 100.0 - 85.0).alias("lat"),
    )


CUSTOMER_POINTS_SQL = """
    SELECT c_custkey, c_nationkey,
           ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon,
           ((c_custkey * 104729) % 17000) / 100.0 - 85.0 AS lat
    FROM customer
"""


@shared_relation("nation")
def nation_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-aligned polygon features from nation keys (analog of the
    reference's kecamatan/province polygon tables)."""
    n = load_table(spark, sf_dir, "nation")
    minx = (F.col("n_nationkey") % 12) * 30.0 - 180.0
    miny = (F.col("n_nationkey") * 7 % 8) * 20.0 - 80.0
    return n.select(
        "n_nationkey",
        "n_name",
        minx.alias("minx"),
        miny.alias("miny"),
        (minx + 30.0 + (F.col("n_nationkey") % 3) * 15.0).alias("maxx"),
        (miny + 20.0 + (F.col("n_nationkey") % 2) * 10.0).alias("maxy"),
    )


NATION_BOXES_SQL = """
    SELECT n_nationkey, n_name,
           (n_nationkey % 12) * 30.0 - 180.0 AS minx,
           ((n_nationkey * 7) % 8) * 20.0 - 80.0 AS miny,
           (n_nationkey % 12) * 30.0 - 180.0 + 30.0 + (n_nationkey % 3) * 15.0 AS maxx,
           ((n_nationkey * 7) % 8) * 20.0 - 80.0 + 20.0 + (n_nationkey % 2) * 10.0 AS maxy
    FROM nation
"""


@shared_relation("region")
def region_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    minx = (F.col("r_regionkey") % 5) * 72.0 - 180.0
    miny = (F.col("r_regionkey") % 4) * 40.0 - 80.0
    return r.select(
        "r_regionkey",
        "r_name",
        minx.alias("minx"),
        miny.alias("miny"),
        (minx + 90.0).alias("maxx"),
        (miny + 60.0).alias("maxy"),
    )


REGION_BOXES_SQL = """
    SELECT r_regionkey, r_name,
           (r_regionkey % 5) * 72.0 - 180.0 AS minx,
           (r_regionkey % 4) * 40.0 - 80.0 AS miny,
           (r_regionkey % 5) * 72.0 - 180.0 + 90.0 AS maxx,
           (r_regionkey % 4) * 40.0 - 80.0 + 60.0 AS maxy
    FROM region
"""


def _fmt_sql(expr: str) -> str:
    """DuckDB expression printing a double exactly like the engine's WKT
    serializer (Python repr: integers lose the trailing .0)."""
    return (
        f"CASE WHEN floor({expr}) = ({expr}) "
        f"THEN CAST(CAST({expr} AS BIGINT) AS VARCHAR) "
        f"ELSE CAST({expr} AS VARCHAR) END"
    )


def _pts(spark, sf_dir, with_geom=True) -> DataFrame:
    df = customer_points(spark, sf_dir)
    if with_geom:
        df = df.withColumn("geom", F.expr("st_point(lon, lat)"))
    return df


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


@query(
    "q41_st_point_accessors",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey, lon AS x, lat AS y,
           CAST(4326 AS BIGINT) AS srid, 'ST_Point' AS gtype
    FROM pts
    """,
)
def q41_st_point_accessors(spark, sf_dir):
    """F6/F5 + accessors: build WKT points, read back x/y/srid/type through
    the UDF path (reference: geo:srid basex_extension.ts:78,
    geometry-type 432-436)."""
    return _pts(spark, sf_dir).select(
        "c_custkey",
        F.expr("st_x(geom)").alias("x"),
        F.expr("st_y(geom)").alias("y"),
        F.expr("st_srid(geom)").cast("bigint").alias("srid"),
        F.expr("st_geometrytype(geom)").alias("gtype"),
    )


@query(
    "q42_st_astext",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey,
           'POINT (' || {_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")} || ')' AS wkt
    FROM pts
    """,
)
def q42_st_astext(spark, sf_dir):
    """F7/F9: WKT serialization (reference: geo:as-text,
    basex_extension.ts:50-52; ST_AsText regexes 143-148)."""
    return _pts(spark, sf_dir).select("c_custkey", F.expr("st_astext(geom)").alias("wkt"))


@query(
    "q43_st_distance_radius",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey, round(sqrt(lon*lon + lat*lat), 6) AS dist
    FROM pts
    WHERE sqrt(lon*lon + lat*lat) < 40
    """,
)
def q43_st_distance_radius(spark, sf_dir):
    """F1: ST_Distance(g, const) θ c — the reference's flagship pushdown
    predicate (basex regex 156-161; mongo $near/$maxDistance 47-51,
    129-152). Planar units, honest semantics (no 111.32 hack)."""
    d = F.expr("st_distance(geom, 'POINT (0 0)')")
    return (
        _pts(spark, sf_dir)
        .withColumn("dist_raw", d)
        .filter(F.col("dist_raw") < 40)
        .select("c_custkey", F.round("dist_raw", 6).alias("dist"))
    )


@query(
    "q44_spatial_join_within",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL}), boxes AS ({NATION_BOXES_SQL})
    SELECT n_nationkey AS boxkey, CAST(count(*) AS BIGINT) AS n_points
    FROM boxes JOIN pts
      ON lon > minx AND lon < maxx AND lat > miny AND lat < maxy
    GROUP BY n_nationkey
    """,
)
def q44_spatial_join_within(spark, sf_dir):
    """F2 as a JOIN: ST_Within(point, polygon) — points-in-polygons count
    (the reference's Q-B join suite shape, SURVEY.md §5). JVM bbox range
    join generates candidates; the st_within UDF verifies them; polygons
    broadcast (25 rows vs millions of points at scale). r10: st_within
    is now OGC-strict (boundary points excluded — the ST_Covers
    distinction), so the oracle uses strict inequalities."""
    pts = _pts(spark, sf_dir)
    boxes = nation_boxes(spark, sf_dir).withColumn(
        "box_geom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)")
    )
    return (
        pts.join(
            F.broadcast(boxes),
            F.col("lon").between(F.col("minx"), F.col("maxx"))
            & F.col("lat").between(F.col("miny"), F.col("maxy")),
        )
        .filter(F.expr("st_within(geom, box_geom)"))
        .groupBy(F.col("n_nationkey").alias("boxkey"))
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@query(
    "q45_spatial_join_intersects",
    oracle=f"""
    WITH nb AS ({NATION_BOXES_SQL}), rb AS ({REGION_BOXES_SQL})
    SELECT n_nationkey, r_regionkey
    FROM nb JOIN rb
      ON nb.minx <= rb.maxx AND rb.minx <= nb.maxx
     AND nb.miny <= rb.maxy AND rb.miny <= nb.maxy
    """,
)
def q45_spatial_join_intersects(spark, sf_dir):
    """F3: ST_Intersects polygon×polygon join (reference:
    geo:intersects, basex_extension.ts:403-411 — BaseX 9.7 only).
    bbox-overlap candidates JVM-side, exact predicate in the UDF."""
    nb = nation_boxes(spark, sf_dir).withColumnRenamed("minx", "nminx").withColumnRenamed(
        "miny", "nminy"
    ).withColumnRenamed("maxx", "nmaxx").withColumnRenamed("maxy", "nmaxy")
    rb = region_boxes(spark, sf_dir)
    nb = nb.withColumn("ngeom", F.expr("st_makeenvelope(nminx, nminy, nmaxx, nmaxy)"))
    rb = rb.withColumn("rgeom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)"))
    return (
        nb.join(
            F.broadcast(rb),
            (F.col("nminx") <= F.col("maxx"))
            & (F.col("minx") <= F.col("nmaxx"))
            & (F.col("nminy") <= F.col("maxy"))
            & (F.col("miny") <= F.col("nmaxy")),
        )
        .filter(F.expr("st_intersects(ngeom, rgeom)"))
        .select("n_nationkey", "r_regionkey")
    )


@query(
    "q46_st_area_props",
    oracle=f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT n_nationkey, (maxx - minx) * (maxy - miny) AS area,
           CAST(2 AS BIGINT) AS dim, 'ST_Polygon' AS gtype
    FROM boxes
    """,
)
def q46_st_area_props(spark, sf_dir):
    """F4/F5 + ST_Area: polygon measures (reference: geo:dimension
    basex_extension.ts:415-438; ST_Area was PG-only — F12)."""
    boxes = nation_boxes(spark, sf_dir).withColumn(
        "box_geom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)")
    )
    return boxes.select(
        "n_nationkey",
        F.expr("st_area(box_geom)").alias("area"),
        F.expr("st_dimension(box_geom)").cast("bigint").alias("dim"),
        F.expr("st_geometrytype(box_geom)").alias("gtype"),
    )


DWITHIN_DIST = 3.0


@query(
    "q47_dwithin_pairs",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT a.c_custkey AS custkey1, b.c_custkey AS custkey2
    FROM pts a JOIN pts b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
     AND abs(a.lon - b.lon) <= 3.0 AND abs(a.lat - b.lat) <= 3.0
    WHERE sqrt((a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat)) <= 3.0
    """,
)
def q47_dwithin_pairs(spark, sf_dir):
    """ST_DWithin self-join: same-nation customer pairs within 3 planar
    units, candidates generated by 2-D grid-cell bucketing (the spatial
    analog of the band-bucketed range join, temporal.py): cell size =
    the distance bound, side A keyed by its home cell, side B replicated
    into its 3×3 neighborhood, equi-join on (cell_x, cell_y). Any pair
    within the bound shares exactly one (home, neighbor) cell match, so
    recall is exact and no distinct is needed. The shuffle key
    cardinality scales with covered area — not with a 25-value nation
    key whose per-key pair count grows quadratically. |Δlon|/|Δlat|
    residuals prune JVM-side; the distance UDF sees only candidates —
    O(candidates) instead of the reference's O(n·m) XQuery nested loop
    (BASELINE.md: 5-10 min at 40k rows)."""
    return (
        _grid_candidates(spark, sf_dir, DWITHIN_DIST)
        .filter((F.col("nk1") == F.col("nk2")) & (F.col("custkey1") < F.col("custkey2")))
        .filter(F.expr(f"st_dwithin(geom1, geom2, {DWITHIN_DIST}D)"))
        .select("custkey1", "custkey2")
    )


# The 3×3 cell offsets as one SQL expression (INT dx, dy): nine
# F.struct(F.lit…) trees cost a py4j round trip per node on every call.
_NEIGHBORHOOD_SQL = "array({})".format(
    ", ".join(f"named_struct('dx', {dx}, 'dy', {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
)


def _grid_candidates(spark, sf_dir, dist: float) -> DataFrame:
    """Grid-cell candidate pairs within ``dist``: side A keyed on its
    home cell, side B replicated into its 3×3 neighborhood, equi-join on
    (cx, cy), |Δlon|/|Δlat| ≤ dist residual. Every pair within the bound
    appears exactly once (B's single replica in A's home cell). Shared by
    the DWithin self-join (q47) and the radius-bounded KNN join (q97)."""
    cell = lambda c: F.floor(c / dist).cast("int")  # noqa: E731
    a = _pts(spark, sf_dir).select(
        F.col("c_custkey").alias("custkey1"),
        F.col("c_nationkey").alias("nk1"),
        F.col("lon").alias("lon1"),
        F.col("lat").alias("lat1"),
        F.col("geom").alias("geom1"),
        cell(F.col("lon")).alias("cx"),
        cell(F.col("lat")).alias("cy"),
    )
    b = (
        _pts(spark, sf_dir)
        .select(
            F.col("c_custkey").alias("custkey2"),
            F.col("c_nationkey").alias("nk2"),
            F.col("lon").alias("lon2"),
            F.col("lat").alias("lat2"),
            F.col("geom").alias("geom2"),
            F.expr(f"explode({_NEIGHBORHOOD_SQL})").alias("o"),
        )
        .select(
            "custkey2",
            "nk2",
            "lon2",
            "lat2",
            "geom2",
            (cell(F.col("lon2")) + F.col("o.dx")).alias("cx"),
            (cell(F.col("lat2")) + F.col("o.dy")).alias("cy"),
        )
    )
    return a.join(b, ["cx", "cy"]).filter(
        (F.abs(F.col("lon1") - F.col("lon2")) <= dist)
        & (F.abs(F.col("lat1") - F.col("lat2")) <= dist)
    )


@query(
    "q48_distance_sphere_count",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_near
    FROM pts
    WHERE 2 * 6371008.8 * asin(sqrt(
            sin((radians(lat) - radians(10.0)) / 2) * sin((radians(lat) - radians(10.0)) / 2)
            + cos(radians(10.0)) * cos(radians(lat))
              * sin((radians(lon) - radians(10.0)) / 2) * sin((radians(lon) - radians(10.0)) / 2)
          )) <= 2000000.0
    GROUP BY c_nationkey
    """,
)
def q48_distance_sphere_count(spark, sf_dir):
    """ST_DistanceSphere: honest haversine meters (replacing the
    reference's degrees×111.32 km heuristic, mongo_extension.ts:142-151).
    Customers within 2,000 km of POINT(10 10), counted per nation."""
    return (
        _pts(spark, sf_dir)
        .filter(F.expr("st_distance_sphere('POINT (10 10)', geom)") <= 2000000.0)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )


@query(
    "q49_st_asgeojson",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey,
           '{{"type":"Point","coordinates":[' || {_fmt_sql("lon")} || ',' || {_fmt_sql("lat")} || ']}}' AS geojson
    FROM pts WHERE c_custkey < 100
    """,
)
def q49_st_asgeojson(spark, sf_dir):
    """S10/F12: GeoJSON output (reference: convertRestoGeoJSON,
    src/index.ts:323-347)."""
    return (
        _pts(spark, sf_dir)
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", F.expr("st_asgeojson(geom)").alias("geojson"))
    )


@query(
    "q50_st_geomfromtext",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey,
           'POINT (' || {_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")} || ')' AS wkt
    FROM pts WHERE c_custkey < 200
    """,
)
def q50_st_geomfromtext(spark, sf_dir):
    """F8: WKT ingestion with messy input — lowercase tag + stray spaces,
    JVM-concatenated, normalized by st_geomfromtext∘st_astext."""
    messy = F.concat(
        F.lit("  point( "),
        F.col("lon").cast("string"),
        F.lit("   "),
        F.col("lat").cast("string"),
        F.lit(" )  "),
    )
    return (
        customer_points(spark, sf_dir)
        .filter(F.col("c_custkey") < 200)
        .withColumn("messy", messy)
        .select("c_custkey", F.expr("st_astext(st_geomfromtext(messy))").alias("wkt"))
    )


@query(
    "q51_st_geomfromgeojson",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey,
           'POINT (' || {_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")} || ')' AS wkt
    FROM pts WHERE c_custkey < 200
    """,
)
def q51_st_geomfromgeojson(spark, sf_dir):
    """F8: GeoJSON geometry ingestion (reference: json_extension.ts:131-158)
    — JVM-built Feature JSON parsed back to WKT by the UDF."""
    gj = F.concat(
        F.lit('{"type":"Feature","properties":{},"geometry":{"type":"Point","coordinates":['),
        F.col("lon").cast("string"),
        F.lit(","),
        F.col("lat").cast("string"),
        F.lit("]}}"),
    )
    return (
        customer_points(spark, sf_dir)
        .filter(F.col("c_custkey") < 200)
        .withColumn("gj", gj)
        .select("c_custkey", F.expr("st_astext(st_geomfromgeojson(gj))").alias("wkt"))
    )


@query(
    "q52_centroid_perimeter",
    oracle=f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT n_nationkey,
           (minx + maxx) / 2 AS cx, (miny + maxy) / 2 AS cy,
           2 * (maxx - minx) + 2 * (maxy - miny) AS perimeter
    FROM boxes
    """,
)
def q52_centroid_perimeter(spark, sf_dir):
    """F12: ST_Centroid + ST_Perimeter over polygon rings (PG-side in the
    reference; st_length is line-only for PostGIS parity since r7). Box
    coords are integer-valued doubles → exact."""
    boxes = nation_boxes(spark, sf_dir).withColumn(
        "box_geom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)")
    )
    return boxes.select(
        "n_nationkey",
        F.expr("st_x(st_centroid(box_geom))").alias("cx"),
        F.expr("st_y(st_centroid(box_geom))").alias("cy"),
        F.expr("st_perimeter(box_geom)").alias("perimeter"),
    )


@query(
    "q53_buffer_contains",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey,
           round(0.5 * 32 * 4.0 * sin(2 * pi() / 32), 6) AS buf_area
    FROM pts WHERE c_custkey < 100
    """,
)
def q53_buffer_contains(spark, sf_dir):
    """F12: ST_Buffer, point path (functions/buffer.py — the real
    round-join kernel; the inscribed 32-gon is the same vertex budget
    PostGIS's quad_segs=8 uses). The oracle uses the closed-form n-gon
    area ½·n·r²·sin(2π/n); shoelace over the generated vertices must
    agree to <1e-12. Lines/polygons/erosion are gated by q155."""
    return (
        customer_points(spark, sf_dir)
        .filter(F.col("c_custkey") < 100)
        .withColumn("geom", F.expr("st_point(lon, lat)"))
        .select(
            "c_custkey",
            F.round(F.expr("st_area(st_buffer(geom, 2.0D))"), 6).alias("buf_area"),
        )
    )


@query(
    "q59_st_geomfromgml_kml",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_custkey,
           'POINT (' || {_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")} || ')' AS wkt_gml,
           'POINT (' || {_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")} || ')' AS wkt_kml,
           CAST(lon AS DOUBLE) AS x_gml
    FROM pts WHERE c_custkey < 150
    """,
)
def q59_st_geomfromgml_kml(spark, sf_dir):
    """F8: GML and KML geometry ingestion (reference:
    extension/xml_extension.ts:283-308 ST_GeomFromGML, 340-369
    ST_GeomFromKML). JVM-concatenated GML 3 <gml:Point><gml:pos> and KML
    <Point><coordinates> fragments are parsed back to WKT by the UDFs;
    both must round-trip to the same point."""
    gml = F.concat(
        F.lit("<gml:Point srsName=\"EPSG:4326\"><gml:pos>"),
        F.col("lon").cast("string"),
        F.lit(" "),
        F.col("lat").cast("string"),
        F.lit("</gml:pos></gml:Point>"),
    )
    kml = F.concat(
        F.lit("<Point><coordinates>"),
        F.col("lon").cast("string"),
        F.lit(","),
        F.col("lat").cast("string"),
        F.lit(",0</coordinates></Point>"),
    )
    return (
        customer_points(spark, sf_dir)
        .filter(F.col("c_custkey") < 150)
        .withColumn("gml", gml)
        .withColumn("kml", kml)
        .select(
            "c_custkey",
            F.expr("st_astext(st_geomfromgml(gml))").alias("wkt_gml"),
            F.expr("st_astext(st_geomfromkml(kml))").alias("wkt_kml"),
            F.expr("st_x(st_geomfromgml(gml))").alias("x_gml"),
        )
    )


@query(
    "q85_st_extent_agg",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_nationkey,
           min(lon) AS minx, min(lat) AS miny,
           max(lon) AS maxx, max(lat) AS maxy,
           CAST(count(*) AS BIGINT) AS n
    FROM pts GROUP BY c_nationkey
    """,
)
def q85_st_extent_agg(spark, sf_dir):
    """ST_Extent — PostGIS's bbox *aggregate* (the reference's users get
    it from PostgreSQL, SURVEY.md §2.6 F12). Shape: the pandas UDFs
    (st_x/st_y) extract per-row bbox coordinates map-side, then plain
    JVM min/max/count aggregate them — partial (map-side) aggregation
    applies, so each partition ships one 4-double box per group instead
    of its geometries. A GROUPED_AGG pandas UDF would NOT get this:
    Spark plans those as AggregateInPandas after a full shuffle of every
    group row — the wrong plan at 100 TB."""
    pts = _pts(spark, sf_dir)
    return (
        pts.select(
            "c_nationkey",
            F.expr("st_xmin(geom)").alias("x0"),
            F.expr("st_ymin(geom)").alias("y0"),
            F.expr("st_xmax(geom)").alias("x1"),
            F.expr("st_ymax(geom)").alias("y1"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.min("x0").alias("minx"),
            F.min("y0").alias("miny"),
            F.max("x1").alias("maxx"),
            F.max("y1").alias("maxy"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _archipelago_gml() -> F.Column:
    """GML MultiPolygon fragment column for the 2-box nation archipelago
    (box1 6×4 at (minx, miny); box2 w×h at (minx+10, miny+8), w/h derived
    from the key). Shared by q94 (ingest+measure) and q98 (hull/envelope)."""
    w = (F.col("n_nationkey") % 3) * 2 + 2
    h = (F.col("n_nationkey") % 2) * 2 + 2

    def ring(x0, y0, x1, y1):
        s = lambda c: c.cast("string")  # noqa: E731
        return F.concat_ws(
            " ", s(x0), s(y0), s(x1), s(y0), s(x1), s(y1), s(x0), s(y1), s(x0), s(y0)
        )

    def member(r):
        return F.concat(
            F.lit("<gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>"),
            r,
            F.lit("</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>"),
        )

    b1 = ring(F.col("minx"), F.col("miny"), F.col("minx") + 6, F.col("miny") + 4)
    b2 = ring(F.col("minx") + 10, F.col("miny") + 8, F.col("minx") + 10 + w, F.col("miny") + 8 + h)
    return F.concat(
        F.lit("<gml:MultiPolygon>"), member(b1), member(b2), F.lit("</gml:MultiPolygon>")
    )


@query(
    "q94_multipart_gml_ingest",
    oracle=f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT n_nationkey,
           'ST_MultiPolygon' AS gtype,
           CAST(2 AS BIGINT) AS dim,
           24.0 + ((n_nationkey % 3) * 2 + 2) * ((n_nationkey % 2) * 2 + 2) AS area,
           20.0 + 2 * (((n_nationkey % 3) * 2 + 2) + ((n_nationkey % 2) * 2 + 2)) AS perimeter,
           minx AS xmin,
           miny + 8 + ((n_nationkey % 2) * 2 + 2) AS ymax
    FROM boxes
    """,
)
def q94_multipart_gml_ingest(spark, sf_dir):
    """Multi-part GML ingestion end-to-end (reference: full-fragment
    ST_GeomFromGML conversion, src/index.ts:44-63 via
    xml_extension.ts:283-308): each nation becomes a 2-polygon
    archipelago as a GML MultiPolygon fragment, parsed by st_geomfromgml,
    measured by st_area/st_perimeter/st_dimension and the bbox accessors.
    Both parts must survive — the area/perimeter/bbox oracle values are
    the closed forms over BOTH boxes, so a first-part-only reader fails.
    The fragment build is JVM concat; only the parse+measure UDFs run
    Python (Arrow-vectorized)."""
    boxes = nation_boxes(spark, sf_dir)
    gml = _archipelago_gml()
    return (
        boxes.withColumn("gml", gml)
        .select(
            "n_nationkey",
            F.expr("st_geometrytype(st_geomfromgml(gml))").alias("gtype"),
            F.expr("st_dimension(st_geomfromgml(gml))").cast("bigint").alias("dim"),
            F.expr("st_area(st_geomfromgml(gml))").alias("area"),
            F.expr("st_perimeter(st_geomfromgml(gml))").alias("perimeter"),
            F.expr("st_xmin(st_geomfromgml(gml))").alias("xmin"),
            F.expr("st_ymax(st_geomfromgml(gml))").alias("ymax"),
        )
    )


@query(
    "q95_st_collect_agg",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL})
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_points,
           'MULTIPOINT (' || string_agg({_fmt_sql("lon")} || ' ' || {_fmt_sql("lat")}, ', ' ORDER BY c_custkey) || ')' AS wkt,
           'ST_MultiPoint' AS gtype
    FROM pts GROUP BY c_nationkey
    """,
)
def q95_st_collect_agg(spark, sf_dir):
    """ST_Collect — PostGIS's geometry-collecting aggregate (F12 surface):
    per nation, customers fold into one MULTIPOINT (members ordered by
    custkey for determinism). Pure JVM collect_list + sort_array +
    concat_ws — partial aggregation applies, no Python in the aggregate;
    the built WKT then round-trips st_geomfromtext→st_geometrytype to
    prove the engine parses its own large multi-part output."""
    pts = customer_points(spark, sf_dir)

    def fmt_num(c):
        return F.when(F.floor(c) == c, c.cast("bigint").cast("string")).otherwise(
            c.cast("string")
        )

    pt = F.concat_ws(" ", fmt_num(F.col("lon")), fmt_num(F.col("lat")))
    return (
        pts.select("c_nationkey", F.struct(F.col("c_custkey"), pt.alias("pt")).alias("m"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.concat(
                F.lit("MULTIPOINT ("),
                F.concat_ws(", ", F.transform(F.sort_array(F.collect_list("m")), lambda m: m["pt"])),
                F.lit(")"),
            ).alias("wkt"),
        )
        .select(
            "c_nationkey",
            "n_points",
            "wkt",
            F.expr("st_geometrytype(st_geomfromtext(wkt))").alias("gtype"),
        )
    )


@query(
    "q97_knn_within_radius",
    oracle=f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL}),
    cand AS (
      SELECT a.c_custkey AS custkey1, b.c_custkey AS custkey2,
             round(sqrt((a.lon - b.lon) * (a.lon - b.lon)
                      + (a.lat - b.lat) * (a.lat - b.lat)), 6) AS dist
      FROM pts a JOIN pts b
        ON a.c_custkey <> b.c_custkey
       AND abs(a.lon - b.lon) <= 3.0 AND abs(a.lat - b.lat) <= 3.0
      WHERE sqrt((a.lon - b.lon) * (a.lon - b.lon)
               + (a.lat - b.lat) * (a.lat - b.lat)) <= 3.0
    )
    SELECT custkey1, custkey2, dist, rank FROM (
      SELECT custkey1, custkey2, dist,
             CAST(row_number() OVER (
               PARTITION BY custkey1 ORDER BY dist, custkey2
             ) AS BIGINT) AS rank
      FROM cand
    ) WHERE rank <= 3
    """,
)
def q97_knn_within_radius(spark, sf_dir):
    """Radius-bounded KNN join: each point's 3 nearest neighbors within
    3 planar units — the scale-correct KNN formulation (unbounded KNN
    needs either all-pairs or an expanding search; bounding the radius
    makes grid-cell blocking exact). Candidates come from the shared
    grid machinery (_grid_candidates), the exact distance verifies
    UDF-side, and a per-point window keeps the top 3 by (distance,
    custkey). The window shuffle key is custkey1 — fine at any scale
    since only candidate rows (≤ points × neighbors-in-radius) reach it.

    The radius filter uses the RAW distance; rounding happens only in the
    output column — same WHERE-then-round order as the oracle, so a true
    distance in (3.0, 3.0000005) is excluded by both engines (ADVICE r2)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("custkey1").orderBy(F.col("dist").asc(), F.col("custkey2").asc())
    return (
        _grid_candidates(spark, sf_dir, DWITHIN_DIST)
        .filter(F.col("custkey1") != F.col("custkey2"))
        .withColumn("raw_dist", F.expr("st_distance(geom1, geom2)"))
        .filter(F.col("raw_dist") <= DWITHIN_DIST)
        .withColumn("dist", F.round(F.col("raw_dist"), 6))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("custkey1", "custkey2", "dist", "rank")
    )


@query(
    "q98_hull_envelope",
    oracle=f"""
    WITH boxes AS ({NATION_BOXES_SQL}),
    dims AS (
      SELECT n_nationkey, minx, miny,
             (n_nationkey % 3) * 2 + 2 AS w,
             (n_nationkey % 2) * 2 + 2 AS h
      FROM boxes
    )
    SELECT n_nationkey,
           44.0 + 5 * h + 4 * w + w * h AS hull_area,
           CAST(7 AS BIGINT) AS hull_npoints,
           (10.0 + w) * (8.0 + h) AS env_area,
           'ST_Polygon' AS hull_type
    FROM dims
    """,
)
def q98_hull_envelope(spark, sf_dir):
    """ST_ConvexHull + ST_Envelope + ST_NPoints over the 2-box
    archipelago (F12 surface — the reference's users got these from
    PostgreSQL). The hull of the fixed two-box arrangement is always the
    6-vertex polygon A(0,0) B(6,0) F(10+w,8) G(10+w,8+h) H(10,8+h)
    D(0,4) in local coords, so its shoelace area has the closed form
    44 + 5h + 4w + wh the oracle computes — a wrong hull (missed part,
    wrong chain) breaks area AND vertex count."""
    boxes = nation_boxes(spark, sf_dir)
    return (
        boxes.withColumn("gml", _archipelago_gml())
        .withColumn("hull", F.expr("st_convexhull(st_geomfromgml(gml))"))
        .select(
            "n_nationkey",
            F.expr("st_area(hull)").alias("hull_area"),
            F.expr("st_npoints(hull)").cast("bigint").alias("hull_npoints"),
            F.expr("st_area(st_envelope(st_geomfromgml(gml)))").alias("env_area"),
            F.expr("st_geometrytype(hull)").alias("hull_type"),
        )
    )
