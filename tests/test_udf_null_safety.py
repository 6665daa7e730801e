"""Every registered UDF must be null-safe: NULL/malformed input
yields NULL (or NaN for numeric outputs), never a raised exception that
fails the whole query (ADVICE r1: st_makeenvelope was the one outlier).
"""

from __future__ import annotations

import math

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import (
    FUNCTION_FAMILIES,
)

# Every SQL name of every registered family. Relation predicates
# (st_touches etc.) are binary WKT→bool like st_within; the default
# (S, S) / junk-junk argument builders below cover them without
# per-name entries.
_SWEPT = sorted({name for family in FUNCTION_FAMILIES for name in family})

D = "CAST(NULL AS DOUBLE)"
S = "CAST(NULL AS STRING)"
B = "CAST(NULL AS BINARY)"

# name → SQL argument list matching the UDF's arity/types
_NULL_ARGS = {
    "st_point": f"{D}, {D}",
    "st_makeenvelope": f"{D}, {D}, {D}, {D}",
    "st_buffer": f"{S}, {D}",
    "st_bufferstyle": f"{S}, {D}, {S}",
    "bpe_token_ids": f"{S}, {S}",
    "bpe_token_count": f"{S}, {S}",
    "st_distance": f"{S}, {S}",
    "st_distance_sphere": f"{S}, {S}",
    "st_within": f"{S}, {S}",
    "st_covers": f"{S}, {S}",
    "st_collect": f"{S}, {S}",
    "st_coveredby": f"{S}, {S}",
    "st_contains": f"{S}, {S}",
    "st_intersects": f"{S}, {S}",
    "st_dwithin": f"{S}, {S}, {D}",
    "st_touches": f"{S}, {S}",
    "st_disjoint": f"{S}, {S}",
    "st_equals": f"{S}, {S}",
    "st_overlaps": f"{S}, {S}",
    "st_crosses": f"{S}, {S}",
    "st_union": f"{S}, {S}",
    "st_union_all": "CAST(NULL AS ARRAY<STRING>)",
    "st_simplify": f"{S}, {D}",
    "st_snaptogrid": f"{S}, {D}",
    "st_snap": f"{S}, {S}, {D}",
    "st_simplifyvw": f"{S}, {D}",
    "st_simplifypreservetopology": f"{S}, {D}",
    "st_reduceprecision": f"{S}, {D}",
    "st_transform": f"{S}, CAST(NULL AS INT), CAST(NULL AS INT)",
    "st_azimuth": f"{S}, {S}",
    "st_intersection": f"{S}, {S}",
    "st_difference": f"{S}, {S}",
    "st_symdifference": f"{S}, {S}",
    "st_translate": f"{S}, {D}, {D}",
    "st_scale": f"{S}, {D}, {D}",
    "st_rotate": f"{S}, {D}",
    "st_geometryn": f"{S}, CAST(NULL AS INT)",
    "st_pointn": f"{S}, CAST(NULL AS INT)",
    "st_interiorringn": f"{S}, CAST(NULL AS INT)",
    "st_lineinterpolatepoint": f"{S}, {D}",
    "st_linelocatepoint": f"{S}, {S}",
    "st_linesubstring": f"{S}, {D}, {D}",
    "st_closestpoint": f"{S}, {S}",
    "st_shortestline": f"{S}, {S}",
    "st_longestline": f"{S}, {S}",
    "st_maxdistance": f"{S}, {S}",
    "st_addpoint": f"{S}, {S}, CAST(NULL AS INT)",
    "st_setpoint": f"{S}, CAST(NULL AS INT), {S}",
    "st_removepoint": f"{S}, CAST(NULL AS INT)",
    "st_segmentize": f"{S}, {D}",
    "st_expand": f"{S}, {D}",
    "st_makeline": f"{S}, {S}",
    "st_makepolygon_holes": f"{S}, CAST(NULL AS ARRAY<STRING>)",
    "st_affine": f"{S}, {D}, {D}, {D}, {D}, {D}, {D}",
    "st_relate": f"{S}, {S}",
    "st_split": f"{S}, {S}",
    "st_sharedpaths": f"{S}, {S}",
    "st_concavehull": f"{S}, {D}",
    "st_concavehull_holes": f"{S}, {D}",
    "st_squaregrid": f"{D}, {S}",
    "st_hexagongrid": f"{D}, {S}",
    "st_tileenvelope": "CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT)",
    "st_project": f"{S}, {D}, {D}",
    "st_chaikinsmoothing": f"{S}, CAST(NULL AS INT)",
    "st_collectionextract": f"{S}, CAST(NULL AS INT)",
    "st_generatepoints": f"{S}, CAST(NULL AS INT), CAST(NULL AS INT)",
    "st_scroll": f"{S}, {S}",
    "st_lineextend": f"{S}, {D}, {D}",
    "st_clusterintersecting": "CAST(NULL AS ARRAY<STRING>)",
    "st_clusterwithin": f"CAST(NULL AS ARRAY<STRING>), {D}",
    "st_subdivide": f"{S}, CAST(NULL AS INT)",
    "st_relatematch": f"{S}, {S}",
    "st_hausdorffdistance": f"{S}, {S}",
    "st_frechetdistance": f"{S}, {S}",
    "st_angle": f"{S}, {S}, {S}, {S}",
    "st_geohash": f"{S}, CAST(NULL AS INT)",
    "st_pointfromgeohash": f"{S}, CAST(NULL AS INT)",
    "st_geomfromgeohash": f"{S}, CAST(NULL AS INT)",
    "st_box2dfromgeohash": f"{S}, CAST(NULL AS INT)",  # r16
    "st_distancesphere": f"{S}, {S}",  # r16: modern spelling alias
    "st_offsetcurve": f"{S}, {D}",
    "st_offsetcurvestyle": f"{S}, {D}, {S}",
    "st_square": f"{D}, CAST(NULL AS INT), CAST(NULL AS INT)",
    "st_hexagon": f"{D}, CAST(NULL AS INT), CAST(NULL AS INT)",
    "st_addmeasure": f"{S}, {D}, {D}",
    "st_interpolatepoint": f"{S}, {S}",
    "st_locatealong": f"{S}, {D}",
    "st_locatebetween": f"{S}, {D}, {D}",
    "st_lineinterpolatepoints": f"{S}, {D}, CAST(NULL AS BOOLEAN)",
    "st_closestpointofapproach": f"{S}, {S}",
    "st_distancecpa": f"{S}, {S}",
    "st_cpawithin": f"{S}, {S}, {D}",
    # st_maximuminscribedcircle/radius, st_largestemptycircle/radius,
    # st_asgml/st_askml are unary WKT→value,
    # covered by the default (S,) builders
    "st_asewkb": f"{S}, CAST(NULL AS INT)",
    "st_force3dz": f"{S}, {D}",
    "st_3ddistance": f"{S}, {S}",
    "st_3ddwithin": f"{S}, {S}, {D}",
    "st_3dmaxdistance": f"{S}, {S}",
    "st_3dclosestpoint": f"{S}, {S}",
    "st_3dshortestline": f"{S}, {S}",
    "st_3dlineinterpolatepoint": f"{S}, {D}",
    "st_3dlongestline": f"{S}, {S}",  # r17
    "st_locatebetweenelevations": f"{S}, {D}, {D}",  # r17
    "st_asmvt": (
        "CAST(NULL AS ARRAY<STRUCT<geom: STRING, id: BIGINT,"
        " attrs: MAP<STRING, STRING>, nattrs: MAP<STRING, BIGINT>>>),"
        f" {S}, CAST(NULL AS INT)"
    ),
    "st_distancespheroid": f"{S}, {S}, {S}",  # r15: PostGIS arity
    "st_lengthspheroid": f"{S}, {S}",  # r15: PostGIS arity
    "st_dwithinspheroid": f"{S}, {S}, {D}, {S}",  # r16: predicate form
    "st_areaspheroid": f"{S}, {S}",  # r16: geography ST_Area analog
    "st_perimeterspheroid": f"{S}, {S}",  # r16: geography ST_Perimeter
    "st_patchn": f"{S}, CAST(NULL AS INT)",  # r15: surface3d
    "st_3dintersects": f"{S}, {S}",
    "st_wrapx": f"{S}, {D}, {D}",  # r15: editors_x
    "st_quantizecoordinates": f"{S}, CAST(NULL AS INT)",
    "st_collect_all": "CAST(NULL AS ARRAY<STRING>)",
    "st_makeline_all": "CAST(NULL AS ARRAY<STRING>)",
    "st_polygonize_all": "CAST(NULL AS ARRAY<STRING>)",
    "st_clusterkmeans_all": "CAST(NULL AS ARRAY<STRING>), CAST(NULL AS INT)",
    "st_clusterdbscan_all": f"CAST(NULL AS ARRAY<STRING>), {D}, CAST(NULL AS INT)",
    "st_pointinsidecircle": f"{S}, {D}, {D}, {D}",
    "st_3dextent_all": "CAST(NULL AS ARRAY<STRING>)",
    "st_linecrossingdirection": f"{S}, {S}",
    "st_simplifypolygonhull": f"{S}, {D}, CAST(NULL AS BOOLEAN)",
    "st_curvetoline": f"{S}, CAST(NULL AS INT)",
    "st_asmvtgeom": (
        f"{S}, {S}, CAST(NULL AS INT), CAST(NULL AS INT),"
        " CAST(NULL AS BOOLEAN)"
    ),
    # EWKT surface (r15): st_geomfromewkt / st_sridfromewkt / st_asewkt
    # are unary WKT→value, covered by the default (S,) builders
    "st_setsrid": f"{S}, CAST(NULL AS INT)",
    "st_makepoint": f"{D}, {D}",
    "st_pointz": f"{D}, {D}, {D}",
    "st_pointm": f"{D}, {D}, {D}",
    "st_makepointm": f"{D}, {D}, {D}",
    "st_pointzm": f"{D}, {D}, {D}, {D}",
    # misc batch 2 (r15)
    "st_orderingequals": f"{S}, {S}",
    "st_clipbybox2d": f"{S}, {S}",
    "st_makebox2d": f"{S}, {S}",
    "st_filterbym": f"{S}, {D}, {D}",
    "st_rotatex": f"{S}, {D}",
    "st_rotatey": f"{S}, {D}",
    "st_rotatez": f"{S}, {D}",
    "st_transscale": f"{S}, {D}, {D}, {D}, {D}",
    "st_asencodedpolyline": f"{S}, CAST(NULL AS INT)",
    "st_linefromencodedpolyline": f"{S}, CAST(NULL AS INT)",
    # st_geomfromtwkb is unary (binary), covered by the (S,) default
    "st_astwkb": f"{S}, CAST(NULL AS INT)",
    # st_tesselate / st_tessellate are unary, covered by the default
    "st_extrude": f"{S}, {D}, {D}, {D}",
    "st_assvg": f"{S}, CAST(NULL AS INT), CAST(NULL AS INT)",
    "st_aslatlontext": f"{S}, {S}",
    "st_minkowskisum": f"{S}, {S}",
    "st_projectspheroid": f"{S}, {D}, {D}, {S}",
    "st_azimuthspheroid": f"{S}, {S}, {S}",
    # st_force3dm / st_force4d / st_ndims / st_coorddim /
    # st_linefrommultipoint are unary, covered by the (S,) default
    "st_geomfromwkb": B,
    "st_geomfromewkb": B,
    "st_sridfromewkb": B,
    "text_jaro": f"{S}, {S}",
    "text_jarowinkler": f"{S}, {S}",
    "text_damerau": f"{S}, {S}",
    "text_hamming": f"{S}, {S}",
    "text_jaccard_chars": f"{S}, {S}",
}


@pytest.mark.parametrize("name", _SWEPT)
def test_null_input_yields_null(spark, name):
    args = _NULL_ARGS.get(name, S)
    val = spark.sql(f"SELECT {name}({args}) AS v").collect()[0]["v"]
    assert val is None or (isinstance(val, float) and math.isnan(val)), (name, val)


# Free text has no malformed form: the text_* functions score or
# normalize any string, so they sit out this case.
@pytest.mark.parametrize("name", [n for n in _SWEPT if not n.startswith("text_")])
def test_malformed_wkt_yields_null_not_crash(spark, name):
    junk = "'POLYGON garbage (('"
    args = _NULL_ARGS.get(name, junk).replace(S, junk).replace(B, "X'DEADBEEF'")
    val = spark.sql(f"SELECT {name}({args}) AS v").collect()[0]["v"]
    assert val is None or (isinstance(val, float) and math.isnan(val)) or val is False, (
        name,
        val,
    )


def test_buffer_mixed_values_nonpoint_kinds(spark):
    """VERDICT r9 item 8: the buffer null-safety surface on NON-point
    kinds — valid geometry + NULL/NaN distance, and non-finite
    coordinates through the line/polygon paths, in one mixed VALUES
    batch (all-NULL sweeps can't catch these: the WKT guard
    short-circuits first)."""
    rows = spark.sql(
        "SELECT st_buffer(g, d) AS b FROM VALUES "
        "('LINESTRING (0 0, 10 0)', 2.0D), "
        "('LINESTRING (0 0, 10 0)', CAST(NULL AS DOUBLE)), "
        "('LINESTRING (0 0, 10 0)', CAST('NaN' AS DOUBLE)), "
        "('LINESTRING (0 0, 10 0)', CAST('Infinity' AS DOUBLE)), "
        "('LINESTRING (0 0, inf 1)', 1.0D), "
        "('POINT (nan nan)', 1.0D), "
        "('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', -1.0D), "
        "('POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))', 0.0D) "
        "AS t(g, d)"
    ).collect()
    assert rows[0]["b"] is not None and rows[0]["b"].startswith("POLYGON")
    assert all(r["b"] is None for r in rows[1:6])
    # erosion survives with exact area (shape may be a seamed multipart)
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        geometry as G,
    )

    assert abs(G.area(G.parse_wkt(rows[6]["b"])) - 4.0) < 1e-9
    # bowtie at dist 0 repairs through the linework makevalid (r11,
    # VERDICT r10 item 4): two unit triangles, never a NULL or an echo
    assert abs(G.area(G.parse_wkt(rows[7]["b"])) - 2.0) < 1e-9


def test_bufferstyle_mixed_values(spark):
    """r14: valid geometry + NULL/NaN companions through the 3-arg
    style surface (all-NULL sweeps short-circuit on the WKT guard)."""
    rows = spark.sql(
        "SELECT st_bufferstyle(g, d, s) AS b FROM VALUES "
        "('LINESTRING (0 0, 10 0)', 2.0D, 'endcap=flat'), "
        "('LINESTRING (0 0, 10 0)', CAST(NULL AS DOUBLE), 'endcap=flat'), "
        "('LINESTRING (0 0, 10 0)', CAST('NaN' AS DOUBLE), 'endcap=flat'), "
        "('LINESTRING (0 0, 10 0)', 2.0D, CAST(NULL AS STRING)), "
        "('LINESTRING (0 0, 10 0)', 2.0D, 'side=bogus'), "
        "('LINESTRING (0 0, inf 1)', 2.0D, 'join=mitre') "
        "AS t(g, d, s)"
    ).collect()
    assert rows[0]["b"] == "POLYGON ((0 -2, 10 -2, 10 2, 0 2, 0 -2))"
    assert all(r["b"] is None for r in rows[1:])


def test_offsetcurve_mixed_values(spark):
    """r14 continuation: valid geometry + NULL/NaN companions through
    the 3-arg offset surface (the WKT guard short-circuits all-NULL
    sweeps). r15 (ADVICE r14): a NULL style means DEFAULTS, exactly
    like the empty string, and the 2-arg PostGIS shape works."""
    rows = spark.sql(
        "SELECT st_offsetcurvestyle(g, d, s) AS b FROM VALUES "
        "('LINESTRING (0 0, 10 0)', 2.0D, ''), "
        "('LINESTRING (0 0, 10 0)', 2.0D, CAST(NULL AS STRING)), "
        "('LINESTRING (0 0, 10 0)', CAST(NULL AS DOUBLE), ''), "
        "('LINESTRING (0 0, 10 0)', CAST('NaN' AS DOUBLE), ''), "
        "('LINESTRING (0 0, 10 0)', CAST('Infinity' AS DOUBLE), ''), "
        "('LINESTRING (0 0, 10 0)', 2.0D, 'endcap=flat'), "
        "('LINESTRING (0 0, inf 1)', 2.0D, '') "
        "AS t(g, d, s)"
    ).collect()
    assert rows[0]["b"] == "LINESTRING (0 2, 10 2)"
    assert rows[1]["b"] == "LINESTRING (0 2, 10 2)"  # NULL style = defaults
    assert all(r["b"] is None for r in rows[2:])
    two_arg = spark.sql(
        "SELECT st_offsetcurve('LINESTRING (0 0, 10 0)', 2.0D) AS b"
    ).collect()
    assert two_arg[0]["b"] == "LINESTRING (0 2, 10 2)"


def test_geohash_mixed_values(spark):
    """r14 continuation: valid geometry + NULL int precision (Arrow
    ships nullable ints as float64 NaN — the st_pointn crash class)."""
    rows = spark.sql(
        "SELECT st_geohash(g, n) AS h FROM VALUES "
        "('POINT (10.40744 57.64911)', 11), "
        "('POINT (10.40744 57.64911)', CAST(NULL AS INT)), "
        "('POINT (190 0)', 5), "
        "(CAST(NULL AS STRING), 5) "
        "AS t(g, n)"
    ).collect()
    assert rows[0]["h"] == "u4pruydqqvj"
    assert rows[1]["h"] is not None and len(rows[1]["h"]) == 20  # auto
    assert rows[2]["h"] is None and rows[3]["h"] is None
    rows = spark.sql(
        "SELECT st_pointfromgeohash(h, p) AS w FROM VALUES "
        "('ezs42', CAST(NULL AS INT)), ('ezs42', 3), ('eza42', 0) "
        "AS t(h, p)"
    ).collect()
    assert rows[0]["w"] == "POINT (-5.60302734375 42.60498046875)"
    assert rows[1]["w"] is not None and rows[2]["w"] is None


def test_surface3d_editors_x_mixed_values(spark):
    """r15: valid geometry + NULL/NaN numeric companions through the
    surface3d and editors_x multi-arg surfaces (all-NULL sweeps
    short-circuit on the WKT guard — the st_pointn crash class)."""
    tri = "TIN Z (((0 0 0, 1 0 0, 0 1 0, 0 0 0)))"
    rows = spark.sql(
        f"SELECT st_patchn(g, n) AS p FROM VALUES "
        f"('{tri}', 1), ('{tri}', CAST(NULL AS INT)), ('{tri}', 9) "
        "AS t(g, n)"
    ).collect()
    assert rows[0]["p"] == "TRIANGLE Z ((0 0 0, 1 0 0, 0 1 0, 0 0 0))"
    assert rows[1]["p"] is None and rows[2]["p"] is None
    rows = spark.sql(
        "SELECT st_wrapx(g, w, m) AS o FROM VALUES "
        "('POINT (1 2)', 5.0D, 20.0D), "
        "('POINT (1 2)', CAST(NULL AS DOUBLE), 20.0D), "
        "('POINT (1 2)', 5.0D, CAST('NaN' AS DOUBLE)) "
        "AS t(g, w, m)"
    ).collect()
    assert rows[0]["o"] == "POINT (21 2)"
    assert rows[1]["o"] is None and rows[2]["o"] is None
    rows = spark.sql(
        "SELECT st_quantizecoordinates(g, d) AS q FROM VALUES "
        "('POINT (123.5 7)', 2), "
        "('POINT (123.5 7)', CAST(NULL AS INT)), "
        "('POINT (123.5 7)', -3) "
        "AS t(g, d)"
    ).collect()
    assert rows[0]["q"] == "POINT (123.5 7)"
    assert rows[1]["q"] is None and rows[2]["q"] is None
    # one st_isclosed serves both the lineal and the surface contract
    rows = spark.sql(
        "SELECT st_isclosed(g) AS c FROM VALUES "
        "('LINESTRING (0 0, 1 0, 1 1, 0 0)'), "
        "('POLYHEDRALSURFACE Z (((0 0 0, 0 1 0, 1 1 0, 1 0 0, 0 0 0)))'), "
        "(CAST(NULL AS STRING)) AS t(g)"
    ).collect()
    assert rows[0]["c"] is True and rows[1]["c"] is False and rows[2]["c"] is None
