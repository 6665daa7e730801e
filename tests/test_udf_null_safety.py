"""Every registered st_* UDF must be null-safe: NULL/malformed input
yields NULL (or NaN for numeric outputs), never a raised exception that
fails the whole query (ADVICE r1: st_makeenvelope was the one outlier).
"""

from __future__ import annotations

import math

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions.bounding import (
    ALL_BOUNDING_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.bpe import (
    ALL_BPE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.collection_fns import (
    ALL_COLLECTION_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.measures import (
    ALL_MEASURE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.relate import (
    ALL_RELATE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.relations import (
    ALL_RELATION_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.validity import (
    ALL_VALIDITY_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.subdivide import (
    ALL_SUBDIVIDE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.noding import (
    ALL_NODING_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.tessellate import (
    ALL_TESSELLATE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.split import (
    ALL_SPLIT_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.grids import (
    ALL_GRID_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.cluster_geo import (
    ALL_CLUSTER_GEO_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.spatial import (
    ALL_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.projection import (
    ALL_PROJECTION_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.simplify import (
    ALL_SIMPLIFY_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.union_ops import (
    ALL_UNION_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
    ALL_OVERLAY_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (
    ALL_AFFINE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.linework import (
    ALL_LINEWORK_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.accessors import (
    ALL_ACCESSOR_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.linearref import (
    ALL_LINEARREF_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.editors import (
    ALL_EDITOR_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.constructors import (
    ALL_CONSTRUCTOR_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.cells import (
    ALL_CELL_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.geohash import (
    ALL_GEOHASH_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.curves import (
    ALL_CURVE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.mvt import (
    ALL_MVT_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.geo_export import (
    ALL_EXPORT_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.inscribed import (
    ALL_INSCRIBED_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.spheroid import (
    ALL_SPHEROID_FUNCTIONS,
)

# functions/textnorm.py and functions/strsim.py are deliberately NOT
# swept here: their text_* UDFs take arbitrary TEXT, so "malformed
# WKT" is a perfectly valid input that scores/normalizes rather than
# NULLs; their NULL-input behavior is pinned in tests/test_textnorm.py
# and tests/test_strsim.py instead.
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.measure_m import (
    ALL_MEASURE_M_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.offsetcurve import (
    ALL_OFFSET_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.mvt_tile import (
    ALL_MVT_TILE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.zcoord import (
    ALL_ZCOORD_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.surface3d import (
    ALL_SURFACE3D_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.editors_x import (
    ALL_EDITORS_X_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.agg_forms import (
    ALL_AGG_FORM_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.cluster_window import (
    ALL_CLUSTER_WINDOW_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.misc_fns import (
    ALL_MISC_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.crossing import (
    ALL_CROSSING_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.polygon_hull import (
    ALL_POLYGON_HULL_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.voronoi_lines import (
    ALL_VORONOI_LINE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.effective_area import (
    ALL_EFFECTIVE_AREA_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.ewkt import (
    ALL_EWKT_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.misc_fns2 import (
    ALL_MISC2_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.polyline import (
    ALL_POLYLINE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.twkb import (
    ALL_TWKB_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.extrude import (
    ALL_EXTRUDE_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.svg_export import (
    ALL_SVG_FUNCTIONS,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.minkowski import (
    ALL_MINKOWSKI_FUNCTIONS,
)

# Relation predicates (st_touches etc.) are binary WKT→bool like
# st_within; the default (S, S) / junk-junk argument builders below cover
# them without per-name entries.
_SWEPT = {
    **ALL_FUNCTIONS,
    **ALL_RELATION_FUNCTIONS,
    **ALL_RELATE_FUNCTIONS,
    **ALL_MEASURE_FUNCTIONS,
    **ALL_BOUNDING_FUNCTIONS,
    **ALL_COLLECTION_FUNCTIONS,
    **ALL_VALIDITY_FUNCTIONS,
    **ALL_SUBDIVIDE_FUNCTIONS,
    **ALL_NODING_FUNCTIONS,
    **ALL_TESSELLATE_FUNCTIONS,
    **ALL_SPLIT_FUNCTIONS,
    **ALL_GRID_FUNCTIONS,
    **ALL_CLUSTER_GEO_FUNCTIONS,
    **ALL_UNION_FUNCTIONS,
    **ALL_SIMPLIFY_FUNCTIONS,
    **ALL_PROJECTION_FUNCTIONS,
    **ALL_OVERLAY_FUNCTIONS,
    **ALL_AFFINE_FUNCTIONS,
    **ALL_LINEWORK_FUNCTIONS,
    **ALL_ACCESSOR_FUNCTIONS,
    **ALL_LINEARREF_FUNCTIONS,
    **ALL_EDITOR_FUNCTIONS,
    **ALL_CONSTRUCTOR_FUNCTIONS,
    **ALL_BPE_FUNCTIONS,
    **ALL_GEOHASH_FUNCTIONS,
    **ALL_OFFSET_FUNCTIONS,
    **ALL_CELL_FUNCTIONS,
    **ALL_MEASURE_M_FUNCTIONS,
    **ALL_INSCRIBED_FUNCTIONS,
    **ALL_EXPORT_FUNCTIONS,
    **ALL_SPHEROID_FUNCTIONS,
    **ALL_CURVE_FUNCTIONS,
    **ALL_MVT_FUNCTIONS,
    **ALL_ZCOORD_FUNCTIONS,
    **ALL_MVT_TILE_FUNCTIONS,
    **ALL_SURFACE3D_FUNCTIONS,  # after accessors: st_isclosed overload
    **ALL_EDITORS_X_FUNCTIONS,
    **ALL_AGG_FORM_FUNCTIONS,
    **ALL_CLUSTER_WINDOW_FUNCTIONS,
    **ALL_MISC_FUNCTIONS,
    **ALL_CROSSING_FUNCTIONS,
    **ALL_POLYGON_HULL_FUNCTIONS,
    **ALL_VORONOI_LINE_FUNCTIONS,
    **ALL_EFFECTIVE_AREA_FUNCTIONS,
    **ALL_EWKT_FUNCTIONS,
    **ALL_MISC2_FUNCTIONS,
    **ALL_POLYLINE_FUNCTIONS,
    **ALL_TWKB_FUNCTIONS,
    **ALL_EXTRUDE_FUNCTIONS,
    **ALL_SVG_FUNCTIONS,
    **ALL_MINKOWSKI_FUNCTIONS,
}

D = "CAST(NULL AS DOUBLE)"
S = "CAST(NULL AS STRING)"

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
}


@pytest.mark.parametrize("name", sorted(_SWEPT))
def test_null_input_yields_null(spark, name):
    args = _NULL_ARGS.get(name, S)
    val = spark.sql(f"SELECT {name}({args}) AS v").collect()[0]["v"]
    assert val is None or (isinstance(val, float) and math.isnan(val)), (name, val)


@pytest.mark.parametrize("name", sorted(_SWEPT))
def test_malformed_wkt_yields_null_not_crash(spark, name):
    junk = "'POLYGON garbage (('"
    args = _NULL_ARGS.get(name, junk).replace(S, junk)
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
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.surface3d import (
        register_surface3d_functions,
    )

    # earlier parity rows re-register accessors (st_isclosed's lineal
    # form) through their _ensure_udfs — registration is last-wins, so
    # pin the surface overload back before asserting on it
    register_surface3d_functions(spark)
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
    # the st_isclosed overload keeps the lineal contract intact
    rows = spark.sql(
        "SELECT st_isclosed(g) AS c FROM VALUES "
        "('LINESTRING (0 0, 1 0, 1 1, 0 0)'), "
        "('POLYHEDRALSURFACE Z (((0 0 0, 0 1 0, 1 1 0, 1 0 0, 0 0 0)))'), "
        "(CAST(NULL AS STRING)) AS t(g)"
    ).collect()
    assert rows[0]["c"] is True and rows[1]["c"] is False and rows[2]["c"] is None
