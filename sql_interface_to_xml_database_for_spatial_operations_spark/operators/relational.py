"""Relational operator suite (SURVEY.md §2.2-§2.5, §2.7).

Each query is the Spark-first re-expression of a reference capability:
where the reference splits work between a document store's native query
language and PostgreSQL (reference: src/preprocessing.ts:8-310 pushdown
split; src/sqlrebuilder.ts:383-458 VALUES rebuild), here the whole plan is
declared to Catalyst, which performs the same predicate pushdown, column
pruning and join planning as built-in optimizer rules.

Float discipline for oracle parity: money-like doubles are exact 2-decimal
values, so aggregates run over DECIMAL(18,2) (exact, order-independent —
immune to shuffle-order float drift) and cast back to double at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dec(col: str):
    """Exact decimal view of a 2-dp money double."""
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# §2.2 Projection / filters / predicates  (P1-P12)
# ---------------------------------------------------------------------------


@query(
    "q01_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount < 0.05
    """,
)
def q01_filter_pushdown(spark, sf_dir):
    """P6/P7: conjunctive comparison predicates, pushed to the parquet scan
    by Catalyst (reference hand-rolls this CNF split in
    preprocessing.ts:42-51 + xml_extension.ts:1660-1764)."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.05)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "q02_projection_pruning",
    oracle="SELECT o_orderkey, o_orderpriority FROM orders",
)
def q02_projection_pruning(spark, sf_dir):
    """P1/P2: column pruning reaches the scan (ReadSchema shows 2 of 6 cols;
    reference: src/index.ts:146-235 getColumns)."""
    return T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")


@query("q03_select_star", oracle="SELECT * FROM nation")
def q03_select_star(spark, sf_dir):
    """P4: SELECT * expansion (reference: getdata.ts:16, sample-row based)."""
    return T(spark, sf_dir, "nation")


@query(
    "q04_alias_expressions",
    oracle="""
    SELECT c_custkey AS custkey,
           upper(c_mktsegment) AS segment,
           CAST(c_acctbal * 2 AS DOUBLE) AS double_bal
    FROM customer
    """,
)
def q04_alias_expressions(spark, sf_dir):
    """P5: column aliasing / computed projections (reference threads alias
    maps through XQuery builders, xml_extension.ts:638-696)."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_mktsegment").alias("segment"),
        (dec("c_acctbal") * 2).cast("double").alias("double_bal"),
    )


@query(
    "q05_where_and_or",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE (o_orderstatus = 'F' AND o_totalprice > 300000)
       OR (o_orderstatus = 'P' AND o_totalprice < 50000)
    """,
)
def q05_where_and_or(spark, sf_dir):
    """P8: AND/OR connectives — the reference can only push AND-conjuncts
    (preprocessing.ts:42-51); OR trees fell through to PostgreSQL. Catalyst
    pushes the whole disjunction."""
    o = T(spark, sf_dir, "orders")
    return o.filter(
        ((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000))
        | ((F.col("o_orderstatus") == "P") & (F.col("o_totalprice") < 50000))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "q06_in_list",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM lineitem WHERE l_returnflag IN ('A', 'R') AND l_linenumber IN (1, 2)
    """,
)
def q06_in_list(spark, sf_dir):
    """P9: IN expr_list (reference: xml_extension.ts:1775-1821 → XQuery
    `= (v1, v2)`; mongo `$in`)."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag").isin("A", "R") & F.col("l_linenumber").isin(1, 2)).select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )


@query(
    "q07_not_in_list",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_name NOT IN ('FRANCE', 'GERMANY', 'CHINA')
    """,
)
def q07_not_in_list(spark, sf_dir):
    """P9: NOT IN (reference mongo `$nin`, json_extension.ts:321-337)."""
    n = T(spark, sf_dir, "nation")
    return n.filter(~F.col("n_name").isin("FRANCE", "GERMANY", "CHINA")).select("n_nationkey", "n_name")


@query(
    "q08_null_predicates",
    oracle="""
    SELECT
      CAST(count(*) FILTER (WHERE nullif(o_orderstatus, 'P') IS NULL) AS BIGINT) AS n_null,
      CAST(count(*) FILTER (WHERE nullif(o_orderstatus, 'P') IS NOT NULL) AS BIGINT) AS n_not_null,
      CAST(count(nullif(o_orderstatus, 'P')) AS BIGINT) AS n_counted
    FROM orders
    """,
)
def q08_null_predicates(spark, sf_dir):
    """P10: IS NULL / IS NOT NULL with honest three-valued logic — the
    reference coerced missing values to ''/0 (json_extension.ts:192-204),
    a lossy behavior we deliberately do not replicate (SURVEY.md §1.2)."""
    o = T(spark, sf_dir, "orders").withColumn("st", F.expr("nullif(o_orderstatus, 'P')"))
    return o.agg(
        F.count_if(F.col("st").isNull()).alias("n_null"),
        F.count_if(F.col("st").isNotNull()).alias("n_not_null"),
        F.count("st").alias("n_counted"),
    )


@query(
    "q09_where_bool_literal",
    oracle="""
    SELECT CAST((SELECT count(*) FROM region WHERE true) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM region WHERE false) AS BIGINT) AS n_false
    """,
)
def q09_where_bool_literal(spark, sf_dir):
    """P11: WHERE true/false placeholder predicates (reference:
    sqlrebuilder.ts:5-31 rebuildWhere; empty-table path
    xml_extension.ts:1622-1626)."""
    r = T(spark, sf_dir, "region")
    n_true = r.filter(F.lit(True)).count()
    n_false = r.filter(F.lit(False)).count()
    return spark.createDataFrame([(n_true, n_false)], "n_true bigint, n_false bigint")


@query(
    "q10_between_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity BETWEEN 10 AND 15
    """,
)
def q10_between_range(spark, sf_dir):
    """P7: range predicate (>=, <=) pushed to the scan."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(10, 15)).select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# §2.3 Joins  (J1-J7)
# ---------------------------------------------------------------------------


@query(
    "q11_join_inner_equi",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 200000
    """,
)
def q11_join_inner_equi(spark, sf_dir):
    """J1: inner equi join. The reference builds an O(n*m) nested-loop
    XQuery (xml_extension.ts:712-954, 5-10 min at 40k rows — BASELINE.md);
    here customer broadcasts and the probe streams."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.filter(F.col("o_totalprice") > 200000)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@query(
    "q12_join_theta",
    oracle="""
    SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_richer_customers
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
    GROUP BY s_suppkey
    """,
)
def q12_join_theta(spark, sf_dir):
    """J1 theta variant: equi key + inequality residual. Catalyst plans the
    equality as the shuffle/broadcast key and evaluates `<` as a join
    residual — vs the reference's full nested loop with θ ∈ {=,<,>,<=,>=,!=}
    (xml_extension.ts:725-737)."""
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal < c.c_acctbal))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_customers"))
    )


@query(
    "q13_join_left_outer",
    oracle="""
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderstatus = 'F'
    GROUP BY c_custkey
    """,
)
def q13_join_left_outer(spark, sf_dir):
    """J2: LEFT OUTER with an ON-clause filter on the right side —
    unmatched customers keep count 0 via null-safe COUNT (the reference
    pads nulls by hand, xml_extension.ts:1101-1118)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q14_join_right_outer",
    oracle="""
    SELECT n_name, s_name
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    """,
)
def q14_join_right_outer(spark, sf_dir):
    """J2: RIGHT OUTER — nations with no supplier emit null s_name
    (reference: xml_extension.ts:1245-1309)."""
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select("n_name", "s_name")


@query(
    "q15_join_full_outer",
    oracle="""
    WITH left_side AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 15),
         right_side AS (
           SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
           FROM customer WHERE c_nationkey >= 5 GROUP BY c_nationkey
         )
    SELECT CAST(coalesce(n_nationkey, c_nationkey) AS BIGINT) AS nationkey,
           n_name, n_customers
    FROM left_side FULL JOIN right_side ON n_nationkey = c_nationkey
    """,
)
def q15_join_full_outer(spark, sf_dir):
    """J3: FULL JOIN — never pushable in the reference (getdata.ts:57-61
    routes it to per-table fetch + PG); native in Spark."""
    n = T(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15).select("n_nationkey", "n_name")
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") >= 5)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return n.join(c, n.n_nationkey == c.c_nationkey, "full").select(
        F.coalesce("n_nationkey", "c_nationkey").cast("bigint").alias("nationkey"),
        "n_name",
        "n_customers",
    )


@query(
    "q16_join_multiway",
    oracle="""
    SELECT r_name,
           n_name,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    WHERE o_orderstatus <> 'P'
    GROUP BY r_name, n_name
    """,
)
def q16_join_multiway(spark, sf_dir):
    """>2-table join: the reference cannot push these at all
    (getdata.ts:95 — falls back to per-table fetch + PG join). Spark chains
    two broadcast joins (region, nation, customer are dims) into one
    shuffle-free probe pipeline over orders."""
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_revenue"),
        )
    )


@query(
    "q17_natural_join",
    oracle="""
    SELECT nationkey, c_custkey, n_name
    FROM (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey FROM customer WHERE c_custkey <= 100)
    NATURAL JOIN (SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name FROM nation)
    """,
)
def q17_natural_join(spark, sf_dir):
    """J7: NATURAL JOIN — present only as dead code in the reference
    (xml_extension.ts:955-1051); supported natively here via spark.sql."""
    return spark.sql(
        """
        SELECT nationkey, c_custkey, n_name
        FROM (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey FROM {customer} WHERE c_custkey <= 100)
        NATURAL JOIN (SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name FROM {nation})
        """,
        customer=T(spark, sf_dir, "customer"),
        nation=T(spark, sf_dir, "nation"),
    )


@query(
    "q18_semi_join_in_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
)
def q18_semi_join_in_subquery(spark, sf_dir):
    """Q2: IN-subquery. The reference runs the inner query to completion and
    splices a literal value list (src/index.ts:78-144) — O(list) SQL text;
    Catalyst rewrites to a left-semi hash join instead."""
    o = T(spark, sf_dir, "orders")
    rich = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return o.join(rich, o.o_custkey == rich.c_custkey, "left_semi").select("o_orderkey", "o_totalprice")


@query(
    "q19_anti_join_not_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)
def q19_anti_join_not_exists(spark, sf_dir):
    """Q3: NOT EXISTS → left-anti join (dead legacy code in the reference,
    backup.ts:737-745; first-class here)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q20_lateral_explode",
    oracle="""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE doc_id < 50)
    WHERE word <> ''
    GROUP BY word
    """,
)
def q20_lateral_explode(spark, sf_dir):
    """J6: correlated flatten of a nested collection. The reference iterates
    `@_is_collection` children in XQuery and cartesian-combines with parent
    columns (xml_extension.ts:1373-1428) ≡ LATERAL VIEW explode."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregation  (A1-A4 + engine extras)
# ---------------------------------------------------------------------------


@query(
    "q21_count_groupby",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q21_count_groupby(spark, sf_dir):
    """A1/A2: COUNT + GROUP BY — the only aggregate the reference pushes
    down (basex_extension.ts:16-30; xml_extension.ts:2045-2065). Spark runs
    it as partial (map-side) + final aggregation automatically."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q22_agg_global",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
    FROM lineitem
    """,
)
def q22_agg_global(spark, sf_dir):
    """A3: whole-input aggregate, no grouping (reference:
    xml_extension.ts:697-710 `let $aggregaterow := $doc`)."""
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.min(dec("l_extendedprice")).cast("double").alias("min_price"),
        F.max(dec("l_extendedprice")).cast("double").alias("max_price"),
    )


@query(
    "q23_agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 1000000 + 0.5) AS BIGINT) AS avg_qty_e6,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q23_agg_pricing_summary(spark, sf_dir):
    """A4: full aggregate set (TPC-H Q1 shape). SUM/AVG/MIN/MAX were never
    pushed by the reference — PostgreSQL computed them over inlined VALUES
    (SURVEY.md §2.4 A4); here they are partial+final hash aggregates."""
    li = T(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (1 - dec("l_discount"))
    charge = dec("l_extendedprice") * (1 - dec("l_discount")) * (1 + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            # floor-micro-int, not round(x, 6): the average is a ratio of
            # a 2-dp decimal sum to an integer count, which CAN tie
            # exactly at the 6th decimal, where Spark/DuckDB round()
            # semantics diverge (see q113's note).
            F.floor(F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)) * 1000000 + 0.5)
            .cast("bigint")
            .alias("avg_qty_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q24_having",
    oracle="""
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n
    FROM customer GROUP BY c_nationkey
    HAVING count(*) > 50
    """,
)
def q24_having(spark, sf_dir):
    """A4: HAVING = post-aggregation filter (reference passes it through to
    PG untouched, sqlrebuilder.ts:383-458)."""
    c = T(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 50)


@query(
    "q25_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q25_distinct(spark, sf_dir):
    """A4: DISTINCT (PG-side in the reference) → shuffle dedup here."""
    return T(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "q26_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q26_rollup(spark, sf_dir):
    """Engine extra beyond the reference (SURVEY.md §2.4 'not in the
    reference'): ROLLUP hierarchies in one pass."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# §2.5 Sorts / limits / set ops / windows  (O1-O5)
# ---------------------------------------------------------------------------


@query(
    "q27_orderby_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
)
def q27_orderby_limit_topk(spark, sf_dir):
    """O1-O3: ORDER BY + LIMIT → TakeOrderedAndProject (per-partition top-K
    then merge on the driver; no global sort). Tie-broken on the unique key
    so the result is deterministic."""
    o = T(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).select(
        "o_orderkey", "o_totalprice"
    ).limit(25)


@query(
    "q28_union_all",
    oracle="""
    SELECT c_custkey AS key, 'customer' AS side FROM customer WHERE c_acctbal > 9500
    UNION ALL
    SELECT s_suppkey AS key, 'supplier' AS side FROM supplier WHERE s_acctbal > 5000
    """,
)
def q28_union_all(spark, sf_dir):
    """O4: UNION ALL — absent from the reference (SURVEY.md §2.5 O4);
    engine capability."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_custkey").alias("key"), F.lit("customer").alias("side"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_suppkey").alias("key"), F.lit("supplier").alias("side"))
    )
    return c.unionAll(s)


@query(
    "q29_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q29_intersect(spark, sf_dir):
    """O4: INTERSECT (distinct semantics)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(F.col("c_nationkey").alias("nationkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q30_except",
    oracle="""
    SELECT o_orderkey AS orderkey FROM orders
    EXCEPT
    SELECT l_orderkey AS orderkey FROM lineitem
    """,
)
def q30_except(spark, sf_dir):
    """O4: EXCEPT — orders with no lineitems (non-empty at every fixture
    SF: 27 / 257 / 2764 rows; the previous nation-without-supplier
    variant was empty at sf0.01, so its driver row passed vacuously)."""
    o = T(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("orderkey"))
    li = T(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("orderkey"))
    return o.exceptAll(li).distinct()


@query(
    "q31_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def q31_window_rank(spark, sf_dir):
    """O5: window functions — absent from the reference (SURVEY.md §2.5 O5).
    Top-3 customers per nation by balance, deterministic tie-break."""
    from pyspark.sql.window import Window

    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rn")
    )


@query(
    "q32_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders WHERE o_custkey <= 200
    """,
)
def q32_window_running_sum(spark, sf_dir):
    """O5: running aggregate window (exact decimal accumulation)."""
    from pyspark.sql.window import Window

    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "q112_window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(lag(o_totalprice) OVER w AS DOUBLE) AS prev_price,
           CAST(lead(o_totalprice) OVER w AS DOUBLE) AS next_price,
           CAST(date_diff('day',
                lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def q112_window_lag_lead(spark, sf_dir):
    """O5: lag/lead offset windows + inter-order gap in days — the
    per-entity sequence-delta shape (same single shuffle on the
    partition key as any window; offsets add no extra exchange)."""
    from pyspark.sql.window import Window

    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).cast("double").alias("prev_price"),
        F.lead("o_totalprice").over(w).cast("double").alias("next_price"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("bigint")
        .alias("days_since_prev"),
    )


@query(
    "q113_window_distribution",
    # Micro-unit integers, not round(x, 6): cume_dist yields values like
    # 333/640 whose decimal expansion ties exactly at the 6th place, and
    # there round() is engine-dependent three ways — Spark HALF_UPs the
    # double's SHORTEST DECIMAL REPR ("0.5203125" → 0.520313) while the
    # actual double is below the tie (0.52031249999999995559…), DuckDB
    # rounds the double numerically. floor(x·1e6 + 0.5) is pure IEEE
    # arithmetic on bit-identical inputs (both engines compute the same
    # k/n division), so it is deterministic and identical at every SF.
    # Found by the round-6 full-registry sweep at sf0.1 (3 rows in
    # nation 11); sf0.01 never hit a tie, which is why the round() form
    # survived four driver rounds.
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER w AS BIGINT) AS bal_quartile,
           CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pct_rank_e6,
           CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT) AS cum_dist_e6
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def q113_window_distribution(spark, sf_dir):
    """O5: distribution windows (ntile quartiles, percent_rank,
    cume_dist as micro-unit integers) per nation — deterministic via the
    c_custkey tiebreak in the window ordering."""
    from pyspark.sql.window import Window

    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("bigint").alias("bal_quartile"),
        F.floor(F.percent_rank().over(w) * 1000000 + 0.5).cast("bigint").alias("pct_rank_e6"),
        F.floor(F.cume_dist().over(w) * 1000000 + 0.5).cast("bigint").alias("cum_dist_e6"),
    )


# ---------------------------------------------------------------------------
# §2.7 Subqueries  (Q1-Q3)
# ---------------------------------------------------------------------------


@query(
    "q33_subquery_from",
    oracle="""
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ) per_cust
    GROUP BY n_orders
    """,
)
def q33_subquery_from(spark, sf_dir):
    """Q1: derived table in FROM (reference: src/index.ts:65-76
    processSubQueryFrom recursion) — order-count histogram."""
    o = T(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q34_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT count(*) FROM customer)
          > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
    """,
)
def q34_scalar_subquery(spark, sf_dir):
    """Q2 variant: scalar subquery (above-average balance, expressed in
    exact decimal arithmetic: bal * n > total ⇔ bal > avg)."""
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM {customer}
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT count(*) FROM {customer})
              > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM {customer})
        """,
        customer=T(spark, sf_dir, "customer"),
    )


@query(
    "q35_correlated_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (
      SELECT 1 FROM customer
      WHERE c_nationkey = s_nationkey AND c_acctbal > s_acctbal * 2
    )
    """,
)
def q35_correlated_exists(spark, sf_dir):
    """Q3: correlated EXISTS → decorrelated by Catalyst into a semi join
    (the reference's legacy prototype only, backup.ts:737-745)."""
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM {supplier}
        WHERE EXISTS (
          SELECT 1 FROM {customer}
          WHERE c_nationkey = s_nationkey AND c_acctbal > s_acctbal * 2
        )
        """,
        supplier=T(spark, sf_dir, "supplier"),
        customer=T(spark, sf_dir, "customer"),
    )


# ---------------------------------------------------------------------------
# §2.6 Non-spatial scalar functions  (F10-F12)
# ---------------------------------------------------------------------------


@query(
    "q36_date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY order_year, order_month
    """,
)
def q36_date_functions(spark, sf_dir):
    """F10: date() selection functions (reference regex-matches `date(col)`
    predicates, basex_extension.ts:131-136) + date-part extraction."""
    o = T(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.month("o_orderdate").cast("bigint").alias("order_month"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q37_mod_function",
    oracle="""
    SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY bucket
    """,
)
def q37_mod_function(spark, sf_dir):
    """F11: mod(col, k) (reference: XQuery `mod`, Mongo `$mod` —
    basex_extension.ts:379-383, mongo_extension.ts:123-127)."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy((F.col("o_orderkey") % 7).cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q38_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS BIGINT) AS name_len,
           concat(c_mktsegment, ':', c_name) AS tagged,
           replace(c_name, 'Customer', 'Cust') AS renamed
    FROM customer WHERE c_custkey <= 500
    """,
)
def q38_string_functions(spark, sf_dir):
    """F12: string scalar surface (PG-evaluated in the reference)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", "c_mktsegment", "c_name").alias("tagged"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("renamed"),
    )


@query(
    "q39_case_expression",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY price_band
    """,
)
def q39_case_expression(spark, sf_dir):
    """F12: CASE expressions (PG-evaluated in the reference)."""
    o = T(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band")
    )
    return o.groupBy(band).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )


@query(
    "q40_math_functions",
    oracle="""
    SELECT s_suppkey,
           abs(s_acctbal) AS abs_bal,
           CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
           CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
           sqrt(CAST(s_suppkey AS DOUBLE)) AS sqrt_key
    FROM supplier
    """,
)
def q40_math_functions(spark, sf_dir):
    """F12: math scalar surface. sqrt is IEEE-correctly-rounded so double
    results are bit-identical across engines."""
    s = T(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.abs("s_acctbal").alias("abs_bal"),
        F.floor("s_acctbal").cast("bigint").alias("floor_bal"),
        F.ceil("s_acctbal").cast("bigint").alias("ceil_bal"),
        F.sqrt(F.col("s_suppkey").cast("double")).alias("sqrt_key"),
    )


# ---------------------------------------------------------------------------
# §2.4 extras the reference lacks but Spark gives natively (SURVEY A4 note):
# cube / rollup / grouping sets / multi-distinct / approx distinct
# ---------------------------------------------------------------------------


@query(
    "q54_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q54_cube(spark, sf_dir):
    """CUBE over two low-cardinality dims — all 4 grouping combinations in
    one pass (Spark Expand + single shuffle; the reference would need 4
    separate PostgreSQL queries — SURVEY.md §2.4 'not in the reference')."""
    li = T(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


@query(
    "q55_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q55_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — two independent group-bys share one scan
    and one Expand-fed shuffle instead of two full passes over the table."""
    o = T(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )


@query(
    "q56_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
           CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q56_pivot(spark, sf_dir):
    """PIVOT on l_linestatus. With the pivot values enumerated up front
    Spark plans ONE aggregate (no extra distinct-values job and no second
    shuffle); the oracle states the same thing as FILTERed aggregates."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_f"),
            F.col("O").alias("qty_o"),
        )
    )


@query(
    "q57_count_distinct_multi",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q57_count_distinct_multi(spark, sf_dir):
    """Two COUNT(DISTINCT) over different columns in one aggregate — Spark
    plans this as a single Expand + two-stage aggregation (partial
    distinct per mapper, final merge), not two scans."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q58_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_order,
           true AS supp_in_bound,
           true AS order_in_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q58_approx_count_distinct(spark, sf_dir):
    """HLL++ approximate distinct (rsd 2%) — the single-pass, fixed-memory
    sketch that replaces exact distinct at 100 TB (exact needs a shuffle of
    every distinct value; the sketch merges map-side in O(kB) per group).

    DuckDB cannot mirror the HLL++ estimate value, so the driver row is a
    BOUNDED comparison (VERDICT r3 #6): the query returns the exact counts
    (which the oracle mirrors) plus booleans asserting the estimate sits
    within 3·rsd = 6% of exact — a sketch regression flips a boolean into
    a hash mismatch. The exact aggregate here is the verification harness,
    not the production path (at 100 TB you ship only the sketch);
    tests/test_parity.py pins the tighter 5% bound on the raw estimates."""
    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx_supp"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_order"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_orderkey").alias("n_order"),
    )

    def in_bound(a: str, e: str):
        return F.abs(F.col(a) - F.col(e)) <= 0.06 * F.col(e)

    return agg.select(
        "l_returnflag",
        "n_supp",
        "n_order",
        in_bound("approx_supp", "n_supp").alias("supp_in_bound"),
        in_bound("approx_order", "n_order").alias("order_in_bound"),
    )


@query(
    "q86_skew_salted_join",
    oracle="""
    SELECT l.l_returnflag AS flag, f.flag_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned')) AS f(flag, flag_name)
      ON l.l_returnflag = f.flag
    GROUP BY l.l_returnflag, f.flag_name
    """,
)
def q86_skew_salted_join(spark, sf_dir):
    """Skew-salted join: l_returnflag has 3 distinct values, the
    worst-case skewed key (3 reducers own the whole shuffle). Salting
    appends hash(l_orderkey) % 16 to the key on the big side and explodes
    the small side 16×, fanning each hot key over 16 reducers; results
    are identical to the plain join (the oracle). This is the manual
    fallback when AQE skew-join can't kick in (e.g. the skewed side
    already exchanged for a prior stage)."""
    SALT = 16
    li = T(spark, sf_dir, "lineitem")
    flags = spark.createDataFrame(
        [("A", "accepted"), ("N", "none"), ("R", "returned")], ["flag", "flag_name"]
    )
    salted_li = li.withColumn("salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(SALT)))
    salted_flags = flags.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
    return (
        salted_li.join(salted_flags, (salted_li.l_returnflag == salted_flags.flag) & (salted_li.salt == salted_flags.salt))
        .groupBy(F.col("l_returnflag").alias("flag2"), "flag_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
        )
        .select(F.col("flag2").alias("flag"), "flag_name", "n", "revenue")
    )


@query(
    "q87_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(floor(quantile_cont(l_quantity, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_qty_e6,
           CAST(floor(quantile_cont(l_quantity, 0.9) * 1000000 + 0.5) AS BIGINT) AS p90_qty_e6,
           CAST(floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_price_e6
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q87_percentiles(spark, sf_dir):
    """Exact linear-interpolated percentiles per group (PostGIS users get
    percentile_cont from PostgreSQL — reference F12 surface). Spark's
    percentile is a single-pass typed aggregate; at 100 TB switch to
    approx_percentile (t-digest sketch, fixed memory) the same way q58
    swaps exact distinct for HLL."""
    li = T(spark, sf_dir, "lineitem")
    # floor-micro-int comparison: interpolated quantiles of 2-dp decimals
    # can tie exactly at the 6th decimal (see q113's note).
    return li.groupBy("l_returnflag").agg(
        F.floor(F.expr("percentile(l_quantity, 0.5D)") * 1000000 + 0.5)
        .cast("bigint")
        .alias("p50_qty_e6"),
        F.floor(F.expr("percentile(l_quantity, 0.9D)") * 1000000 + 0.5)
        .cast("bigint")
        .alias("p90_qty_e6"),
        F.floor(F.expr("percentile(l_extendedprice, 0.5D)") * 1000000 + 0.5)
        .cast("bigint")
        .alias("p50_price_e6"),
    )


@query(
    "q117_approx_percentiles",
    # Mirrored exact percentiles use the same floor-micro-int compare as
    # q87 (and for the same reason — interpolated quantiles of 2-dp
    # decimals tie exactly at the 6th decimal, where round() is
    # engine-dependent; see q113's note).
    oracle="""
    SELECT l_returnflag,
           CAST(floor(quantile_cont(l_quantity, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_qty_e6,
           CAST(floor(quantile_cont(l_quantity, 0.9) * 1000000 + 0.5) AS BIGINT) AS p90_qty_e6,
           CAST(floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_price_e6,
           true AS p50_qty_in_bound,
           true AS p90_qty_in_bound,
           true AS p50_price_in_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q117_approx_percentiles(spark, sf_dir):
    """Approximate per-group percentiles (Greenwald-Khanna sketch,
    accuracy 10 000 → rank error ≤ 1/10 000) — the fixed-memory,
    map-side-mergeable swap for q87's exact percentile at 100 TB, the
    same trade q58 makes for distinct counts.

    Same bounded-comparison driver row as q58 (VERDICT r3 #6): DuckDB
    cannot mirror the GK estimates, so the row carries the exact
    percentiles (mirrored by quantile_cont, exactly as q87 hash-matches)
    plus booleans asserting each estimate sits within 1% relative error
    of exact. tests/test_parity.py pins the same bound on the raw
    estimates."""
    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5D)").alias("e50_qty"),
        F.expr("percentile(l_quantity, 0.9D)").alias("e90_qty"),
        F.expr("percentile(l_extendedprice, 0.5D)").alias("e50_price"),
        F.expr("approx_percentile(l_quantity, 0.5D, 10000)").alias("a50_qty"),
        F.expr("approx_percentile(l_quantity, 0.9D, 10000)").alias("a90_qty"),
        F.expr("approx_percentile(l_extendedprice, 0.5D, 10000)").alias("a50_price"),
    )

    def in_bound(a: str, e: str):
        return F.abs(F.col(a) - F.col(e)) <= 0.01 * F.abs(F.col(e))

    def e6(c: str):
        return F.floor(F.col(c) * 1000000 + 0.5).cast("bigint")

    return agg.select(
        "l_returnflag",
        e6("e50_qty").alias("p50_qty_e6"),
        e6("e90_qty").alias("p90_qty_e6"),
        e6("e50_price").alias("p50_price_e6"),
        in_bound("a50_qty", "e50_qty").alias("p50_qty_in_bound"),
        in_bound("a90_qty", "e90_qty").alias("p90_qty_in_bound"),
        in_bound("a50_price", "e50_price").alias("p50_price_in_bound"),
    )
