"""connected_components unit tests: star contraction against a pure-Python
union-find reference at several input partitionings, the input plan read
once, and the non-convergence guard (ADVICE r1: silent truncation must
not return wrong cluster ids)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sql_interface_to_xml_database_for_spatial_operations_spark.operators.dedup import (
    connected_components,
)


def _uf_labels(edges):
    """Reference: sorted (id, component min id) by union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


def _labels(df):
    return sorted(map(tuple, df.collect()))


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc1 long, doc2 long")


def _graph_zoo(rng):
    """Disjoint chains, cliques, stars, random graphs, self-loops and ids
    seen only in self-loops, each shifted to its own id range."""
    graphs = [
        [(i, i + 1) for i in range(40)],  # chain
        [(i, j) for i in range(8) for j in range(8) if i < j],  # clique
        [(0, i) for i in range(1, 15)],  # star centered on the min
        [(14, i) for i in range(14)],  # star centered on the max
        [(3, 3), (5, 5), (5, 6)],  # self-loops; 3 appears only in one
    ]
    for _ in range(6):
        n = rng.randint(2, 40)
        graphs.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 2 * n))]
        )
    edges = []
    for k, g in enumerate(graphs):
        edges += [(a + 100 * k, b + 100 * k) for a, b in g]
    rng.shuffle(edges)
    return [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]


def test_path_graph_converges_to_min_label(spark):
    # a 9-node path: diameter 8, needs several contraction rounds
    pairs = _pairs(spark, [(i, i + 1) for i in range(10, 18)])
    labels = {r["id"]: r["label"] for r in connected_components(pairs).collect()}
    assert labels == {i: 10 for i in range(10, 19)}


def test_two_components_stay_separate(spark):
    pairs = _pairs(spark, [(1, 2), (2, 3), (7, 9)])
    labels = {r["id"]: r["label"] for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_nonconvergence_raises(spark):
    # a 9-node path needs 3 rounds — 2 must raise, never return
    # half-contracted labels
    pairs = _pairs(spark, [(i, i + 1) for i in range(10, 18)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2)


def test_empty_graph(spark):
    pairs = _pairs(spark, [])
    assert connected_components(pairs).count() == 0


def test_string_ids_converge_correctly(spark):
    # ADVICE r2: string ids once made a decimal-sum convergence check see
    # NULL == NULL and return half-propagated labels; the edge-set check
    # has no id-type restriction
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(10, 18)] + [("x1", "x2")],
        "doc1 string, doc2 string",
    )
    labels = {r["id"]: r["label"] for r in connected_components(pairs).collect()}
    assert labels == {f"d{i:02d}": "d10" for i in range(10, 19)} | {"x1": "x1", "x2": "x1"}


def test_string_ids_nonconvergence_raises(spark):
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(10, 18)],
        "doc1 string, doc2 string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2)


def test_star_string_ids(spark):
    # string ids order lexicographically: "10" < "9", so "10" labels
    # the chain even though 9 is the numeric minimum
    pairs = spark.createDataFrame(
        [("9", "10"), ("10", "11"), ("11", "12")], "doc1 string, doc2 string"
    )
    assert _labels(connected_components(pairs)) == [
        ("10", "10"), ("11", "10"), ("12", "10"), ("9", "10")
    ]


def test_star_empty_and_self_loops(spark):
    pairs = spark.createDataFrame([], "doc1 long, doc2 long")
    assert connected_components(pairs).count() == 0
    # self-loops carry no connectivity but their ids still get rows
    loops = spark.createDataFrame([(5, 5), (7, 7), (7, 9)], "doc1 long, doc2 long")
    assert _labels(connected_components(loops)) == [(5, 5), (7, 7), (9, 7)]


def test_chain_converges_within_log_rounds(spark):
    """A 100-hop chain plus a separate component converges inside an
    iteration budget that O(diameter) label propagation could not meet."""
    edges = [(i, i + 1) for i in range(100)] + [(200, 201), (201, 202)]
    chain = spark.createDataFrame(edges, ["a", "b"])
    assert _labels(connected_components(chain, max_iters=10)) == _uf_labels(edges)


def test_random_graphs_match_union_find(spark):
    """The result is a function of the pair SET: equal to the union-find
    reference at 1, 3 and 7 input partitions, for long and string ids."""
    edges = _graph_zoo(random.Random(11))
    sedges = [(str(a), str(b)) for a, b in edges]  # "100" < "99"
    for parts in (1, 3, 7):
        pairs = spark.createDataFrame(edges, "doc1 long, doc2 long").repartition(parts)
        assert _labels(connected_components(pairs)) == _uf_labels(edges), parts
        spairs = spark.createDataFrame(sedges, "doc1 string, doc2 string").repartition(parts)
        assert _labels(connected_components(spairs)) == _uf_labels(sedges), parts
    for parts in (1, 3, 7):
        empty = _pairs(spark, []).repartition(parts)
        assert connected_components(empty).count() == 0


def test_input_plan_evaluated_once(spark):
    """The caller's pair plan (for q90/q91 the whole shingle join) runs
    once, however many scans the node list, edge set and rounds make."""
    tapped = spark.sparkContext.accumulator(0)

    def tap(x):
        tapped.add(1)
        return x

    tap_udf = F.udf(tap, "long")
    pairs = (
        _pairs(spark, [(i, i + 1) for i in range(32)])
        .repartition(3)
        .select(tap_udf("doc1").alias("doc1"), "doc2")
    )
    assert _labels(connected_components(pairs)) == [(i, 0) for i in range(33)]
    assert tapped.value == 32
