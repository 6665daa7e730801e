"""Integer-quantized Lloyd to convergence (operators/cluster_ops.py
kmeans_rounds, VERDICT r11 item 6): exact integer arithmetic end to
end, fixed-point convergence on separable data, loud empty-cluster
failure, and the q168 oracle parity at sf0.001."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from sql_interface_to_xml_database_for_spatial_operations_spark.operators.cluster_ops import (
    kmeans_rounds,
)

from conftest import SF_DIR


def _pts(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, pv array<bigint>")


class TestKmeansRounds:
    def test_separable_blobs_converge_fast(self, spark):
        # two obvious blobs, seeds one in each: stable by round 2
        rows = [(0, [0, 0]), (1, [100, 100])] + [
            (i, [i % 3, (i * 2) % 3]) for i in range(2, 8)
        ] + [(i, [100 + i % 3, 100 + (i * 2) % 3]) for i in range(8, 14)]
        assigned, cent, stable = kmeans_rounds(spark, _pts(spark, rows), 2, 10)
        assert stable
        got = {r.vec_id: r.cid for r in assigned.collect()}
        assert all(got[i] == 0 for i in range(2, 8))
        assert all(got[i] == 1 for i in range(8, 14))

    def test_integer_mean_is_round_half_up(self, spark):
        # one cluster, members at -3 and -4: mean -3.5 -> half-up -> -3
        rows = [(0, [-3]), (1, [-4])]
        _a, cent, stable = kmeans_rounds(spark, _pts(spark, rows), 1, 5)
        assert cent == [[-3]]
        assert stable

    def test_empty_cluster_is_loud(self, spark):
        # duplicate seeds: every point ties to both centroids and the
        # (d2, cid) tiebreak sends all of them to c0 — c1 empties and
        # the operator must refuse loudly, not respawn silently
        rows = [(0, [0]), (1, [0]), (2, [0])]
        with pytest.raises(ValueError, match="empty cluster"):
            kmeans_rounds(spark, _pts(spark, rows), 2, 5)

    def test_q168_oracle_parity_sf0001(self, spark, oracle):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import (
            QUERIES,
        )

        q = QUERIES["q168_kmeans_converged"]
        s = q.fn(spark, "/root/testdata/sf0.001").toPandas()
        o = oracle.sql(q.oracle).df()
        s = s.sort_values("cid", ignore_index=True)[sorted(s.columns)]
        o = o.sort_values("cid", ignore_index=True)[sorted(o.columns)]
        pd.testing.assert_frame_equal(
            s.astype("int64"), o.astype("int64"), check_dtype=False
        )

    def test_q168_c0_is_long_sf0001(self, spark):
        """c0 comes from a literal map whose value type would follow the
        centroid magnitudes; the output schema must not depend on them."""
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import (
            QUERIES,
        )

        df = QUERIES["q168_kmeans_converged"].fn(spark, SF_DIR)
        assert df.schema["c0"].dataType == LongType()
