"""The one catalogue of SQL functions.

Each ``FUNCTION_FAMILIES`` entry is a family's ``name → UDF`` dict, and
``register_all`` registers every family on a session in table order. No
SQL name appears in two families. The table lives here, not in the
package ``__init__``: every Python worker daemon imports the package,
and it should not pay for importing the whole library up front.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ._register_once import once_per_session
from .accessors import ALL_ACCESSOR_FUNCTIONS
from .affine import ALL_AFFINE_FUNCTIONS
from .agg_forms import ALL_AGG_FORM_FUNCTIONS
from .bounding import ALL_BOUNDING_FUNCTIONS
from .bpe import ALL_BPE_FUNCTIONS
from .cells import ALL_CELL_FUNCTIONS
from .cluster_geo import ALL_CLUSTER_GEO_FUNCTIONS
from .cluster_window import ALL_CLUSTER_WINDOW_FUNCTIONS
from .collection_fns import ALL_COLLECTION_FUNCTIONS
from .constructors import ALL_CONSTRUCTOR_FUNCTIONS
from .crossing import ALL_CROSSING_FUNCTIONS
from .curves import ALL_CURVE_FUNCTIONS
from .editors import ALL_EDITOR_FUNCTIONS
from .editors_x import ALL_EDITORS_X_FUNCTIONS
from .effective_area import ALL_EFFECTIVE_AREA_FUNCTIONS
from .ewkt import ALL_EWKT_FUNCTIONS
from .extrude import ALL_EXTRUDE_FUNCTIONS
from .geo_export import ALL_EXPORT_FUNCTIONS
from .geohash import ALL_GEOHASH_FUNCTIONS
from .grids import ALL_GRID_FUNCTIONS
from .inscribed import ALL_INSCRIBED_FUNCTIONS
from .linearref import ALL_LINEARREF_FUNCTIONS
from .linework import ALL_LINEWORK_FUNCTIONS
from .measure_m import ALL_MEASURE_M_FUNCTIONS
from .measures import ALL_MEASURE_FUNCTIONS
from .minkowski import ALL_MINKOWSKI_FUNCTIONS
from .misc_fns import ALL_MISC_FUNCTIONS
from .misc_fns2 import ALL_MISC2_FUNCTIONS
from .mvt import ALL_MVT_FUNCTIONS
from .mvt_tile import ALL_MVT_TILE_FUNCTIONS
from .noding import ALL_NODING_FUNCTIONS
from .offsetcurve import ALL_OFFSET_FUNCTIONS
from .overlay import ALL_OVERLAY_FUNCTIONS
from .polygon_hull import ALL_POLYGON_HULL_FUNCTIONS
from .polyline import ALL_POLYLINE_FUNCTIONS
from .projection import ALL_PROJECTION_FUNCTIONS
from .relate import ALL_RELATE_FUNCTIONS
from .relations import ALL_RELATION_FUNCTIONS
from .simplify import ALL_SIMPLIFY_FUNCTIONS
from .spatial import ALL_FUNCTIONS
from .spheroid import ALL_SPHEROID_FUNCTIONS
from .split import ALL_SPLIT_FUNCTIONS
from .strsim import ALL_STRSIM_FUNCTIONS
from .subdivide import ALL_SUBDIVIDE_FUNCTIONS
from .surface3d import ALL_SURFACE3D_FUNCTIONS
from .svg_export import ALL_SVG_FUNCTIONS
from .tessellate import ALL_TESSELLATE_FUNCTIONS
from .textnorm import ALL_TEXTNORM_FUNCTIONS
from .twkb import ALL_TWKB_FUNCTIONS
from .union_ops import ALL_UNION_FUNCTIONS
from .validity import ALL_VALIDITY_FUNCTIONS
from .voronoi_lines import ALL_VORONOI_LINE_FUNCTIONS
from .wkb import ALL_WKB_FUNCTIONS
from .zcoord import ALL_ZCOORD_FUNCTIONS

FUNCTION_FAMILIES: tuple[dict, ...] = (
    ALL_FUNCTIONS,
    ALL_RELATION_FUNCTIONS,
    ALL_RELATE_FUNCTIONS,
    ALL_MEASURE_FUNCTIONS,
    ALL_BOUNDING_FUNCTIONS,
    ALL_COLLECTION_FUNCTIONS,
    ALL_VALIDITY_FUNCTIONS,
    ALL_SUBDIVIDE_FUNCTIONS,
    ALL_NODING_FUNCTIONS,
    ALL_TESSELLATE_FUNCTIONS,
    ALL_SPLIT_FUNCTIONS,
    ALL_GRID_FUNCTIONS,
    ALL_CLUSTER_GEO_FUNCTIONS,
    ALL_UNION_FUNCTIONS,
    ALL_SIMPLIFY_FUNCTIONS,
    ALL_PROJECTION_FUNCTIONS,
    ALL_OVERLAY_FUNCTIONS,
    ALL_AFFINE_FUNCTIONS,
    ALL_LINEWORK_FUNCTIONS,
    # st_isclosed lives here only: accessors.is_closed routes
    # POLYHEDRALSURFACE / TIN / TRIANGLE input to the mesh kernel.
    ALL_ACCESSOR_FUNCTIONS,
    ALL_LINEARREF_FUNCTIONS,
    ALL_EDITOR_FUNCTIONS,
    ALL_CONSTRUCTOR_FUNCTIONS,
    ALL_GEOHASH_FUNCTIONS,
    ALL_OFFSET_FUNCTIONS,
    ALL_CELL_FUNCTIONS,
    ALL_MEASURE_M_FUNCTIONS,
    ALL_INSCRIBED_FUNCTIONS,
    ALL_EXPORT_FUNCTIONS,
    ALL_SPHEROID_FUNCTIONS,
    ALL_TEXTNORM_FUNCTIONS,
    ALL_CURVE_FUNCTIONS,
    ALL_MVT_FUNCTIONS,
    ALL_MVT_TILE_FUNCTIONS,
    # Registration deliberately REPLACES Spark 4.1's flag-gated
    # geospatial builtins of the same names (st_asbinary,
    # st_geomfromwkb, st_srid): builtin resolution otherwise wins
    # and throws UNSUPPORTED_FEATURE.GEOSPATIAL_DISABLED on a
    # vanilla session (the replacement warning in the logs is this).
    ALL_WKB_FUNCTIONS,
    ALL_ZCOORD_FUNCTIONS,
    ALL_SURFACE3D_FUNCTIONS,
    ALL_EDITORS_X_FUNCTIONS,
    ALL_AGG_FORM_FUNCTIONS,
    ALL_CLUSTER_WINDOW_FUNCTIONS,
    ALL_MISC_FUNCTIONS,
    ALL_CROSSING_FUNCTIONS,
    ALL_POLYGON_HULL_FUNCTIONS,
    ALL_VORONOI_LINE_FUNCTIONS,
    ALL_EFFECTIVE_AREA_FUNCTIONS,
    ALL_EWKT_FUNCTIONS,
    ALL_MISC2_FUNCTIONS,
    ALL_POLYLINE_FUNCTIONS,
    ALL_TWKB_FUNCTIONS,
    ALL_EXTRUDE_FUNCTIONS,
    ALL_STRSIM_FUNCTIONS,
    ALL_SVG_FUNCTIONS,
    ALL_MINKOWSKI_FUNCTIONS,
    ALL_BPE_FUNCTIONS,
)


@once_per_session
def register_all(spark: SparkSession) -> None:
    """Register every family in ``FUNCTION_FAMILIES`` for ``spark.sql``."""
    for family in FUNCTION_FAMILIES:
        for name, fn in family.items():
            spark.udf.register(name, fn)
