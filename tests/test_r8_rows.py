"""Round-8 driver rows: q142 streaming dedup, q143 k-means step,
q144 bloom semi-join, q145 inverted index, q146 ST_SymDifference.

Each row's oracle parity is asserted here (same comparison the round
driver runs at sf0.01), plus the semantics each operator must not lose:
bloom no-false-negatives, k-means assignment determinism, symdifference
commutativity/inclusion-exclusion, streaming dedup exactness under the
duplicated-band replay.
"""

from __future__ import annotations

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.operators import load_all
from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import QUERIES

from conftest import SF_DIR, assert_parity


@pytest.fixture(autouse=True)
def _load():
    load_all()


class TestOracleParity:
    @pytest.mark.parametrize(
        "name",
        [
            "q143_kmeans_assign",
            "q144_bloom_semijoin",
            "q145_inverted_index",
            "q146_st_symdifference",
        ],
    )
    def test_parity(self, spark, oracle, name):
        q = QUERIES[name]
        assert_parity(q.fn(spark, SF_DIR), oracle, q.oracle, q.name)

    def test_q142_parity(self, spark, oracle):
        # separate test: runs a real Structured Streaming job (~10 s)
        q = QUERIES["q142_stream_dedup_e2e"]
        assert_parity(q.fn(spark, SF_DIR), oracle, q.oracle, q.name)


class TestBloomSemantics:
    def test_no_false_negatives(self, spark, oracle):
        """Every lineitem whose order is truly high-value must pass the
        bloom — per flag, bloom_pass >= true_match and true_match equals
        the exact semi-join count."""
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.filter_ops import THRESHOLD

        rows = {
            r["l_returnflag"]: r
            for r in QUERIES["q144_bloom_semijoin"].fn(spark, SF_DIR).collect()
        }
        exact = oracle.sql(
            f"""
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
            FROM lineitem l
            WHERE l_orderkey IN (
              SELECT o_orderkey FROM orders WHERE o_totalprice > {THRESHOLD})
            GROUP BY l_returnflag
            """
        ).df()
        for _, e in exact.iterrows():
            r = rows[e["l_returnflag"]]
            assert r["true_match"] == e["n"]
            assert r["bloom_pass"] >= e["n"]
            assert r["false_pos"] == r["bloom_pass"] - r["true_match"]


class TestKmeansSemantics:
    def test_every_vector_assigned_once(self, spark, oracle):
        out = QUERIES["q143_kmeans_assign"].fn(spark, SF_DIR).collect()
        total = sum(r["n_members"] for r in out)
        n_vec = oracle.sql("SELECT count(*) FROM embeddings WHERE vec_id >= 10").df().iloc[0, 0]
        assert total == n_vec
        assert len({r["cid"] for r in out}) == len(out)

    def test_assignment_partition_invariant(self, spark, monkeypatch):
        """min(struct) argmin must not depend on how the INPUT vectors
        split across partitions — the repartition is injected upstream
        of the aggregation (a repartition of the final result would
        leave the argmin's input partitioning unchanged and the test
        vacuous — code-review r8)."""
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators import cluster_ops

        a = sorted(map(tuple, QUERIES["q143_kmeans_assign"].fn(spark, SF_DIR).collect()))
        base = cluster_ops._vectors
        monkeypatch.setattr(
            cluster_ops, "_vectors", lambda s, d: base(s, d).repartition(7)
        )
        b = sorted(map(tuple, QUERIES["q143_kmeans_assign"].fn(spark, SF_DIR).collect()))
        assert a == b


class TestSymdifferenceSemantics:
    def test_commutes_and_inclusion_exclusion(self, spark):
        rows = QUERIES["q146_st_symdifference"].fn(spark, SF_DIR).collect()
        assert rows, "pair generator produced no rows"
        for r in rows:
            assert r["residual_micro"] == 0, r
            assert r["commute_micro"] == 0, r

    def test_wkt_level_identities(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import geometry as G
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
            symdifference_wkt,
        )

        box_a = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
        box_b = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
        got = symdifference_wkt(box_a, box_b)
        assert G.area(G.parse_wkt(got)) == 6.0  # 4 + 4 - 2*1
        # self symdifference is EMPTY; EMPTY operands pass through
        assert symdifference_wkt(box_a, box_a) == "POLYGON EMPTY"
        assert symdifference_wkt(box_a, "POLYGON EMPTY") == box_a
        # mixed dims: collinear line overlap cut from both sides
        assert (
            symdifference_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 3 0)")
            == "MULTILINESTRING ((0 0, 1 0), (2 0, 3 0))"
        )


class TestAffine:
    def test_q148_parity(self, spark, oracle):
        q = QUERIES["q148_st_affine"]
        assert_parity(q.fn(spark, SF_DIR), oracle, q.oracle, q.name)

    def test_function_semantics(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (
            rotate_wkt,
            scale_wkt,
            translate_wkt,
        )

        assert translate_wkt("POINT (1 2)", 10.0, -5.0) == "POINT (11 -3)"
        assert (
            translate_wkt("LINESTRING (0 0, 1 1)", 1.0, 1.0)
            == "LINESTRING (1 1, 2 2)"
        )
        # vertex order preserved verbatim (incl. ring direction)
        assert (
            scale_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", 2.0, 0.5)
            == "POLYGON ((0 0, 4 0, 4 1, 0 1, 0 0))"
        )
        # mirror scale keeps order too (PostGIS does not re-wind)
        assert (
            scale_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", -1.0, 1.0)
            == "POLYGON ((0 0, -2 0, -2 2, 0 2, 0 0))"
        )
        import math

        got = rotate_wkt("POINT (1 0)", math.pi / 2)
        import re

        x, y = map(float, re.findall(r"-?[\d.e-]+", got))
        assert abs(x) < 1e-15 and abs(y - 1) < 1e-15
        # null-safety — incl. NaN, which is how pandas delivers SQL
        # NULL doubles (code-review r8: is-None alone leaked NaN text)
        assert translate_wkt(None, 1.0, 1.0) is None
        assert translate_wkt("POINT (1 2)", None, 1.0) is None
        assert translate_wkt("POINT (1 2)", float("nan"), 1.0) is None
        assert rotate_wkt("POINT (1 2)", float("nan")) is None
        assert scale_wkt("NOT WKT", 1.0, 1.0) is None
        # typed EMPTY (the overlay's output) passes through: the affine
        # image of an empty set is the same empty set
        assert translate_wkt("POLYGON EMPTY", 1.0, 1.0) == "POLYGON EMPTY"
        assert scale_wkt("FOO EMPTY", 1.0, 1.0) is None

    def test_vanilla_session_registration(self, spark):
        # builtin-shadowing probe (verify-skill gotcha): the names must
        # resolve through spark.sql after registration alone
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import (
            register_all,
        )

        register_all(spark)
        row = spark.sql(
            "SELECT st_translate('POINT (1 2)', 1.0D, 1.0D) AS t, "
            "st_symdifference('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', "
            "'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))') AS sd"
        ).collect()[0]
        assert row["t"] == "POINT (2 3)"
        assert row["sd"].startswith("MULTIPOLYGON")


def test_affine_query_is_map_only(spark):
    """q148: chained affine UDFs are a projection pipeline — the only
    Exchange is the tiny final union of the two fixture families."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES["q148_st_affine"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


class TestAffineProperties:
    """Hypothesis invariants for the affine family: inverse round-trips
    and measure behavior."""

    def test_translate_roundtrip_exact(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (
            translate_wkt,
        )

        @settings(max_examples=100, deadline=None)
        @given(
            st.integers(-50, 50), st.integers(-50, 50),
            st.integers(-20, 20), st.integers(-20, 20),
        )
        def check(x, y, dx, dy):
            w = f"POINT ({x} {y})"
            # integer offsets: float arithmetic exact, round-trip identical
            assert translate_wkt(translate_wkt(w, float(dx), float(dy)), float(-dx), float(-dy)) == w

        check()

    def test_rotate_preserves_area_and_inverts(self):
        import math

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import geometry as G
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (
            rotate_wkt,
            scale_wkt,
        )

        poly = "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))"
        rot = rotate_wkt(poly, 0.7)
        assert abs(G.area(G.parse_wkt(rot)) - 8.0) < 1e-12
        back = rotate_wkt(rot, -0.7)
        for (ax, ay), (bx, by) in zip(
            G.parse_wkt(back).coords[0], G.parse_wkt(poly).coords[0]
        ):
            assert math.hypot(ax - bx, ay - by) < 1e-14
        # scale multiplies area by |sx*sy|
        assert G.area(G.parse_wkt(scale_wkt(poly, 3.0, -0.5))) == 12.0


class TestSqlSurface:
    """The r8 functions through the engine's process_query facade (the
    reference's user entry point, src/index.ts:349-371)."""

    def test_symdifference_and_affine_in_sql(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.engine import create_engine

        eng = create_engine(spark, SF_DIR)
        out = eng.process_query(
            "SELECT st_symdifference("
            "st_translate('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 1.0D, 1.0D),"
            "'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))') AS sd"
        )
        # translate maps box a exactly onto box b -> typed EMPTY (the
        # overlay's EMPTY WKT extension stays local to it by design)
        assert out["rows"][0]["sd"] == "POLYGON EMPTY"
        out2 = eng.process_query(
            "SELECT st_scale(st_point(2.0, 3.0), 2.0D, -1.0D) AS p"
        )
        assert out2["rows"][0]["p"] == "POINT (4 -3)"


class TestLinework:
    def test_q149_parity(self, spark, oracle):
        q = QUERIES["q149_st_linework"]
        assert_parity(q.fn(spark, SF_DIR), oracle, q.oracle, q.name)

    def test_linemerge_semantics(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.linework import (
            linemerge_wkt,
            reverse_wkt,
        )

        # cycle closes into one ring
        assert (
            linemerge_wkt(
                "MULTILINESTRING ((0 0, 4 0), (4 0, 4 3), (4 3, 0 3), (0 3, 0 0))"
            )
            == "LINESTRING (0 0, 4 0, 4 3, 0 3, 0 0)"
        )
        # T-junction (degree-3 node) must NOT merge
        assert (
            linemerge_wkt("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (1 0, 1 5))")
            == "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (1 0, 1 5))"
        )
        # non-lineal input -> GEOMETRYCOLLECTION EMPTY (PostGIS)
        # duplicate parts keep GEOS's parallel-edge semantics (ADVICE
        # r8 #2 declined after checking JTS LineMergeGraph): a doubled
        # segment forms an isolated loop -> out-and-back closed walk,
        # and a duplicate pair + one more segment makes a degree-3
        # node -> no merge through it.
        assert (
            linemerge_wkt("MULTILINESTRING ((0 0, 1 0), (0 0, 1 0))")
            == "LINESTRING (0 0, 1 0, 0 0)"
        )
        got = linemerge_wkt("MULTILINESTRING ((0 0, 1 0), (1 0, 0 0), (1 0, 2 0))")
        assert got.startswith("MULTILINESTRING")  # degree-3 node: unmerged
        assert linemerge_wkt("POINT (1 1)") == "GEOMETRYCOLLECTION EMPTY"
        assert linemerge_wkt("LINESTRING EMPTY") == "GEOMETRYCOLLECTION EMPTY"
        assert linemerge_wkt(None) is None and linemerge_wkt("JUNK ((") is None
        # single linestring passes through
        assert linemerge_wkt("LINESTRING (0 0, 1 1)") == "LINESTRING (0 0, 1 1)"
        # reverse
        assert reverse_wkt("LINESTRING (0 0, 1 0, 2 2)") == "LINESTRING (2 2, 1 0, 0 0)"
        assert (
            reverse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
            == "POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))"
        )
        assert reverse_wkt("POINT (1 1)") == "POINT (1 1)"
        assert reverse_wkt("polygon empty") == "POLYGON EMPTY"
        # reverse is an involution
        w = "MULTILINESTRING ((0 0, 1 0, 1 1), (5 5, 6 5))"
        assert reverse_wkt(reverse_wkt(w)) == w
