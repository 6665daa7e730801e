"""Shared SQL-string builders for integer nation-box WKT fixtures.

The linework/accessor/linearref driver rows all string-build WKT from
the integer nation-box coordinates (spatial_ops.NATION_BOXES_SQL) so
the oracle can construct byte-identical expected strings. The int-cast
idiom and the box-corner point expressions live here once — a change
to the integer-coordinate WKT-building idiom applies to every family
at the same time instead of by-hand in each module.
"""

from __future__ import annotations

import itertools


def int_str(expr: str) -> str:
    """SQL rendering an integer-valued DOUBLE expression as its exact
    integer string ('30', not '30.0') in both Spark and DuckDB."""
    return f"CAST(CAST({expr} AS BIGINT) AS STRING)"


def sql_concat(*parts: str) -> str:
    return " || ".join(parts)


# box corners as "x y" coordinate-pair SQL over NATION_BOXES_SQL columns
CORNERS = {
    "bl": f"{int_str('minx')} || ' ' || {int_str('miny')}",
    "br": f"{int_str('maxx')} || ' ' || {int_str('miny')}",
    "tr": f"{int_str('maxx')} || ' ' || {int_str('maxy')}",
    "tl": f"{int_str('minx')} || ' ' || {int_str('maxy')}",
}

# unit-square hole corners, strictly inside every box (w >= 30, h >= 20)
HOLE_CORNERS = {
    "h00": f"{int_str('minx + 1')} || ' ' || {int_str('miny + 1')}",
    "h10": f"{int_str('minx + 2')} || ' ' || {int_str('miny + 1')}",
    "h11": f"{int_str('minx + 2')} || ' ' || {int_str('miny + 2')}",
    "h01": f"{int_str('minx + 1')} || ' ' || {int_str('miny + 2')}",
}

# the closed hole ring's coordinate list (no head/tail quotes), reusable
# inside any 'POLYGON ((...), (<here>))' or 'LINESTRING (<here>)' build
HOLE_RING = sql_concat(
    HOLE_CORNERS["h00"], "', '", HOLE_CORNERS["h10"], "', '",
    HOLE_CORNERS["h11"], "', '", HOLE_CORNERS["h01"], "', '",
    HOLE_CORNERS["h00"],
)


_FAMILY_FIXTURE_VIEW = "_graft_family_fixture"
# per-call unique suffix: a shared view name made concurrent query
# CONSTRUCTION in one session a race. next() on an itertools.count is a
# single C call, so two threads never draw the same suffix (a
# ``global += 1`` read-modify-write could).
_VIEW_SEQ = itertools.count(1)


def sql_union_rows(fixture, branches: list[str]):
    """One-shot SQL UNION ALL of per-family projections over a fixture
    DataFrame (r17 optimization; see ``family_rows`` for why): each
    ``branches`` element is the select-item list of one branch (the text
    between SELECT and FROM). Analyzes the whole union once instead of
    once per fold step, and persists the fixture so the N branches read
    one cached block instead of N parquet scans."""
    from ..caching import tracked_persist

    view = f"{_FAMILY_FIXTURE_VIEW}_{next(_VIEW_SEQ)}"
    spark = fixture.sparkSession
    fixture = tracked_persist(fixture)
    fixture.createOrReplaceTempView(view)
    sql = "\nUNION ALL\n".join(
        f"SELECT {body} FROM {view}" for body in branches
    )
    out = spark.sql(sql)  # analyzes eagerly — the view is inlined here
    # Dropping right away assumes classic (eager) analysis: ``out`` already
    # holds the view's resolved plan. A lazily analyzed client (Spark
    # Connect) would resolve the name later and find it gone.
    spark.catalog.dropTempView(view)
    return out


def family_rows(boxes, families: dict[str, str]):
    """The shared driver-row scaffold: one (fam, key, val) projection per
    family expression over the nation-box DataFrame, unioned.

    r17 (optimization round, guide §7.3 "planning time itself can become
    the bottleneck" + §3.3 "very wide unions"): the original
    ``unionByName`` fold analyzed a GROWING plan once per family —
    O(n²) driver-side analysis, measured 2.5 s of the 52-family q169's
    2.6 s wall — because every Dataset transformation analyzes eagerly.
    Building the identical union as ONE ``spark.sql`` string analyzes
    the n-child union once (0.37 s for the same 52 families). The SQL
    text is exactly the old fold: same branch order, same column order,
    same pairwise left-associative UNION ALL type coercion, so the
    result (rows AND schema) is unchanged. The fixture DataFrame rides
    along as a temp view; the view is resolved/inlined at ``spark.sql``
    analysis time, so a later overwrite of the view name cannot retarget
    an already-built plan."""
    return sql_union_rows(
        boxes,
        [
            f"'{name}' AS fam, n_nationkey AS key, {expr} AS val"
            for name, expr in families.items()
        ],
    )


def pt_sql(dx: int, dy: int) -> str:
    """SQL for the "x y" coordinate pair (minx+dx, miny+dy) — identical
    text in Spark and DuckDB (int_str idiom)."""
    return f"{int_str(f'minx + {dx}')} || ' ' || {int_str(f'miny + {dy}')}"


def ring_sql(*offsets: tuple[int, int]) -> str:
    """Comma-joined coordinate list for integer offsets from the box's
    min corner (no parens — compose inside POLYGON/LINESTRING builds)."""
    return " || ', ' || ".join(pt_sql(dx, dy) for dx, dy in offsets)


def poly_sql(*rings: tuple[tuple[int, int], ...]) -> str:
    """'POLYGON ((...), (...))' SQL build from offset rings."""
    body = " || '), (' || ".join(ring_sql(*r) for r in rings)
    return "'POLYGON ((' || " + body + " || '))'"
