"""Driver row for ST_AsMVT tile assembly (functions/mvt_tile.py, r15
— VERDICT r14 missing item 2). The oracle is BYTE-EXACT: every fixture
is designed so all protobuf varints are single-byte (coordinates < 64
zigzag, lengths < 128), making the expected tile a deterministic hex
string DuckDB assembles from the same integers.

Families (val = uppercase hex of the tile, or a NULL marker):

- ``tile_pt``: one point feature per nation — id = k, a string
  attribute (the nation name) and an int attribute (k%5); pins the
  full layer layout (version/name/extent/keys/values/feature), tag
  indices, int-value encoding, and the MoveTo command for
  (k%16, k%8).
- ``tile_poly``: an s×s square ring (s = 1 + k%8) with no id and no
  attributes; pins the polygon path — MoveTo + LineTo(3) deltas +
  ClosePath — and the attribute-less feature body.
- ``tile_multi``: two point features sharing one attribute key AND
  value — pins multi-feature assembly, per-feature cursor reset, and
  key/value DEDUP (one key slot, one value slot, both features
  tagging [0, 0]).
- ``tile_null``: junk member geometry / empty array → loud NULL.

Scale shape (SCALE.md): the tile id from st_tileenvelope binning is
the groupBy key; sort_array(collect_list(...)) bounds each group by
the tile's feature count and this kernel is the per-tile map stage.
New module so grid_ops.py fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


# DuckDB-side byte builder: one byte as two uppercase hex chars
def _hx(expr: str) -> str:
    return f"lpad(upper(to_hex({expr})), 2, '0')"


_K = "n_nationkey"
_X = f"({_K} % 16)"
_Y = f"({_K} % 8)"
_R = f"({_K} % 5)"
_S = f"(1 + {_K} % 8)"

# tile_pt expected bytes (module docstring layout; name = n_name):
#   layer = 78 02 | 0A 03 'lyr' | 28 80 20 (ext 4096)
#         | 1A 04 'name' | 1A 04 'rank'
#         | 22 (2+|nm|) 0A |nm| nm | 22 02 20 r
#         | 12 0F 08 k 12 04 00 00 01 01 18 01 22 03 09 2x 2y
#   tile  = 1A (47+|nm|) layer
_PT_ORACLE_HEX = (
    "'1A' || " + _hx("47 + length(n_name)") + " || '7802' || '0A036C7972' || "
    "'288020' || '1A046E616D65' || '1A0472616E6B' || "
    "'22' || " + _hx("2 + length(n_name)") + " || '0A' || "
    + _hx("length(n_name)") + " || upper(hex(n_name)) || "
    "'220220' || " + _hx(_R) + " || "
    "'120F08' || " + _hx(_K) + " || '120400000101' || '1801' || "
    "'220309' || " + _hx(f"2 * {_X}") + " || " + _hx(f"2 * {_Y}")
)

# tile_poly expected bytes: layer = 78 02 | 0A 02 'sq' | 28 80 02
# (ext 256) | 12 0F 18 03 22 0B 09 00 00 1A 2s 00 00 2s (2s-1) 00 0F
# (geometry = 11 command bytes); tile = 1A 1A layer (layer_len = 26)
_POLY_ORACLE_HEX = (
    "'1A1A' || '7802' || '0A027371' || '288002' || "
    "'120F' || '1803' || '220B' || '090000' || '1A' || "
    + _hx(f"2 * {_S}") + " || '0000' || " + _hx(f"2 * {_S}") + " || "
    + _hx(f"2 * {_S} - 1") + " || '00' || '0F'"
)

# tile_multi expected bytes (constant): layer = 78 02 | 0A 01 'm' |
# 28 80 02 | 1A 01 'k' | 22 03 0A 01 'x' |
# 12 0D 08 01 12 02 00 00 18 01 22 03 09 02 02 |
# 12 0D 08 02 12 02 00 00 18 01 22 03 09 04 04
# layer_len = 2+3+3+3+5+15+15 = 46 (0x2E)
_MULTI_HEX = (
    "1A2E78020A016D2880021A016B22030A0178"
    "120D0801120200001801220309 0202"
    "120D0802120200001801220309 0404"
).replace(" ", "")

_Q175_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'tile_pt' AS fam, n_nationkey AS key, {_PT_ORACLE_HEX} AS val
    FROM boxes
    UNION ALL
    SELECT 'tile_poly' AS fam, n_nationkey AS key, {_POLY_ORACLE_HEX} AS val
    FROM boxes
    UNION ALL
    SELECT 'tile_multi' AS fam, n_nationkey AS key, '{_MULTI_HEX}' AS val
    FROM boxes
    UNION ALL
    SELECT 'tile_null' AS fam, n_nationkey AS key, 'NULL(tile)' AS val
    FROM boxes
"""

_PT_CALL = (
    "hex(st_asmvt(array(named_struct("
    f"'geom', 'POINT (' || CAST({_X} AS STRING) || ' ' || CAST({_Y} AS STRING) || ')', "
    f"'id', CAST({_K} AS BIGINT), "
    "'attrs', map('name', n_name), "
    f"'nattrs', map('rank', CAST({_R} AS BIGINT)))), 'lyr', 4096))"
)
_POLY_CALL = (
    "hex(st_asmvt(array(named_struct("
    f"'geom', 'POLYGON ((0 0, ' || CAST({_S} AS STRING) || ' 0, ' || "
    f"CAST({_S} AS STRING) || ' ' || CAST({_S} AS STRING) || ', 0 ' || "
    f"CAST({_S} AS STRING) || ', 0 0))', "
    "'id', CAST(NULL AS BIGINT), "
    "'attrs', CAST(NULL AS MAP<STRING, STRING>), "
    "'nattrs', CAST(NULL AS MAP<STRING, BIGINT>))), 'sq', 256))"
)
_MULTI_CALL = (
    "hex(st_asmvt(array("
    "named_struct('geom', 'POINT (1 1)', 'id', CAST(1 AS BIGINT), "
    "'attrs', map('k', 'x'), 'nattrs', CAST(NULL AS MAP<STRING, BIGINT>)), "
    "named_struct('geom', 'POINT (2 2)', 'id', CAST(2 AS BIGINT), "
    "'attrs', map('k', 'x'), 'nattrs', CAST(NULL AS MAP<STRING, BIGINT>))"
    "), 'm', 256))"
)
_NULL_CALL = (
    "COALESCE(hex(st_asmvt(array(named_struct("
    "'geom', 'junk((', 'id', CAST(1 AS BIGINT), "
    "'attrs', CAST(NULL AS MAP<STRING, STRING>), "
    "'nattrs', CAST(NULL AS MAP<STRING, BIGINT>))), 'l', 256)), "
    "COALESCE(hex(st_asmvt(array(named_struct("
    "'geom', CAST(NULL AS STRING), 'id', CAST(1 AS BIGINT), "
    "'attrs', CAST(NULL AS MAP<STRING, STRING>), "
    "'nattrs', CAST(NULL AS MAP<STRING, BIGINT>))), 'l', 256)), "
    "'NULL(tile)'))"
)


@query("q175_st_asmvt", oracle=_Q175_ORACLE)
def q175_st_asmvt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVT tile assembly end to end: full layer layout, polygon
    command stream, multi-feature key/value dedup, loud NULLs — every
    expected tile a byte-exact hex closed form (module docstring)."""
    boxes = nation_boxes(spark, sf_dir)

    def fam(name: str, expr: str) -> DataFrame:
        return boxes.select(
            F.lit(name).alias("fam"),
            F.col("n_nationkey").alias("key"),
            F.expr(expr).alias("val"),
        )

    rows = fam("tile_pt", _PT_CALL)
    rows = rows.unionByName(fam("tile_poly", _POLY_CALL))
    rows = rows.unionByName(fam("tile_multi", _MULTI_CALL))
    rows = rows.unionByName(fam("tile_null", _NULL_CALL))
    return rows
