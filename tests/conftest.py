"""Shared test fixtures: one SparkSession per test run + oracle-parity
helpers replicating the driver's DuckDB comparison (row count + schema +
order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_interface_to_xml_database_for_spatial_operations_spark import (  # noqa: E402
    get_spark,
    register_spatial_functions,
    register_bpe_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.relations import (  # noqa: E402
    register_relation_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.projection import (  # noqa: E402
    register_projection_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.bounding import (  # noqa: E402
    register_bounding_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.collection_fns import (  # noqa: E402
    register_collection_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.measures import (  # noqa: E402
    register_measure_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.relate import (  # noqa: E402
    register_relate_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.validity import (  # noqa: E402
    register_validity_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.subdivide import (  # noqa: E402
    register_subdivide_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.noding import (  # noqa: E402
    register_noding_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.tessellate import (  # noqa: E402
    register_tessellate_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.split import (  # noqa: E402
    register_split_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.grids import (  # noqa: E402
    register_grid_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.cluster_geo import (  # noqa: E402
    register_cluster_geo_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.simplify import (  # noqa: E402
    register_simplify_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.union_ops import (  # noqa: E402
    register_union_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (  # noqa: E402
    register_overlay_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (  # noqa: E402
    register_affine_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.linework import (  # noqa: E402
    register_linework_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.accessors import (  # noqa: E402
    register_accessor_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.linearref import (  # noqa: E402
    register_linearref_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.editors import (  # noqa: E402
    register_editor_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.constructors import (  # noqa: E402
    register_constructor_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.cells import (  # noqa: E402
    register_cell_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.geohash import (  # noqa: E402
    register_geohash_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.curves import (  # noqa: E402
    register_curve_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.geo_export import (  # noqa: E402
    register_export_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.inscribed import (  # noqa: E402
    register_inscribed_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.spheroid import (  # noqa: E402
    register_spheroid_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.textnorm import (  # noqa: E402
    register_textnorm_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.measure_m import (  # noqa: E402
    register_measure_m_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.mvt import (  # noqa: E402
    register_mvt_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.mvt_tile import (  # noqa: E402
    register_mvt_tile_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.wkb import (  # noqa: E402
    register_wkb_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.zcoord import (  # noqa: E402
    register_zcoord_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.surface3d import (  # noqa: E402
    register_surface3d_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.editors_x import (  # noqa: E402
    register_editors_x_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.agg_forms import (  # noqa: E402
    register_agg_form_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.cluster_window import (  # noqa: E402
    register_cluster_window_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.misc_fns import (  # noqa: E402
    register_misc_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.crossing import (  # noqa: E402
    register_crossing_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.polygon_hull import (  # noqa: E402
    register_polygon_hull_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.voronoi_lines import (  # noqa: E402
    register_voronoi_line_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.effective_area import (  # noqa: E402
    register_effective_area_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.ewkt import (  # noqa: E402
    register_ewkt_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.misc_fns2 import (  # noqa: E402
    register_misc2_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.polyline import (  # noqa: E402
    register_polyline_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.twkb import (  # noqa: E402
    register_twkb_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.extrude import (  # noqa: E402
    register_extrude_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.strsim import (  # noqa: E402
    register_strsim_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.svg_export import (  # noqa: E402
    register_svg_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.minkowski import (  # noqa: E402
    register_minkowski_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.offsetcurve import (  # noqa: E402
    register_offset_functions,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (  # noqa: E402
    TABLES,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    register_spatial_functions(s)
    register_bpe_functions(s)
    register_relation_functions(s)
    register_relate_functions(s)
    register_measure_functions(s)
    register_bounding_functions(s)
    register_collection_functions(s)
    register_validity_functions(s)
    register_subdivide_functions(s)
    register_noding_functions(s)
    register_tessellate_functions(s)
    register_split_functions(s)
    register_grid_functions(s)
    register_cluster_geo_functions(s)
    register_union_functions(s)
    register_simplify_functions(s)
    register_projection_functions(s)
    register_overlay_functions(s)
    register_affine_functions(s)
    register_linework_functions(s)
    register_accessor_functions(s)
    register_linearref_functions(s)
    register_editor_functions(s)
    register_constructor_functions(s)
    register_geohash_functions(s)
    register_offset_functions(s)
    register_cell_functions(s)
    register_measure_m_functions(s)
    register_inscribed_functions(s)
    register_export_functions(s)
    register_spheroid_functions(s)
    register_textnorm_functions(s)
    register_curve_functions(s)
    register_mvt_functions(s)
    register_zcoord_functions(s)
    register_mvt_tile_functions(s)
    register_wkb_functions(s)
    register_surface3d_functions(s)  # after accessors: st_isclosed overload
    register_editors_x_functions(s)
    register_agg_form_functions(s)
    register_cluster_window_functions(s)
    register_misc_functions(s)
    register_crossing_functions(s)
    register_polygon_hull_functions(s)
    register_voronoi_line_functions(s)
    register_effective_area_functions(s)
    register_ewkt_functions(s)
    register_misc2_functions(s)
    register_polyline_functions(s)
    register_twkb_functions(s)
    register_extrude_functions(s)
    register_strsim_functions(s)
    register_svg_functions(s)
    register_minkowski_functions(s)
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, value-normalized frame (mirrors the
    driver's order-insensitive compare)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if pd.isna(v):
            return "<NULL>"
        if isinstance(v, float):
            return f"{v!r}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(str(x) for x in v) + "]"
        return str(v)

    out = df.apply(lambda col: col.map(norm))
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def assert_parity(spark_df, oracle_con, sql: str, name: str = "query") -> None:
    sdf = spark_df.toPandas()
    odf = oracle_con.sql(sql).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count spark={len(sdf)} oracle={len(odf)}"
    ns, no = _normalize(sdf), _normalize(odf)
    if not ns.equals(no):
        diff_mask = (ns != no).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch; first diffs:\n"
            f"spark:\n{ns[diff_mask].head(5)}\noracle:\n{no[diff_mask].head(5)}"
        )


def jobs_in_group(spark, fn):
    """(result of ``fn()``, Spark jobs it launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
