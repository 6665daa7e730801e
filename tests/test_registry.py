"""Registry / driver-contract invariants (no SparkSession needed).

The driver's correctness gate checks the first 50 entries of
``__spark_entry__.queries()``; the registry's exposure order must
therefore put every not-yet-verified or changed-this-round query inside
that window. The verified set is the key set of
``operators/_verified_fingerprints.json``: it must name only registered
queries, and each verified query's code must match its recorded
fingerprint.
"""

from __future__ import annotations

from sql_interface_to_xml_database_for_spatial_operations_spark import operators
from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import (
    QUERIES,
    _DRIVER_VERIFIED,
    oracle_queries,
    spark_queries,
)

operators.load_all()

DRIVER_WINDOW = 50


def test_verified_set_only_contains_registered_names():
    unknown = _DRIVER_VERIFIED - set(QUERIES)
    assert not unknown, f"_DRIVER_VERIFIED has stale names: {sorted(unknown)}"


def test_unverified_queries_fit_in_driver_window():
    unverified = [n for n in QUERIES if n not in _DRIVER_VERIFIED]
    assert len(unverified) <= DRIVER_WINDOW, (
        f"{len(unverified)} unverified queries exceed the {DRIVER_WINDOW}-slot "
        "driver window — some would merge without any driver correctness row; "
        "grow _DRIVER_VERIFIED from the latest green CORRECTNESS artifact"
    )
    window = list(spark_queries())[:DRIVER_WINDOW]
    missing = set(unverified) - set(window)
    assert not missing, f"unverified queries outside the window: {sorted(missing)}"


def test_exposure_is_a_permutation_of_registrations():
    assert sorted(spark_queries()) == sorted(QUERIES)
    # every oracle belongs to a registered query and aligns by name
    assert set(oracle_queries()) <= set(QUERIES)


def test_oracle_coverage_is_total():
    # q58/q117 carry bounded-comparison oracles since r4 (exact values +
    # in-bound booleans), so every registered query has a DuckDB oracle
    rows_only = {n for n in QUERIES if QUERIES[n].oracle is None}
    assert not rows_only, (
        f"every query needs a DuckDB oracle: {sorted(rows_only)}"
    )


def test_verified_fingerprints_unchanged():
    """A query may only stay verified while the source of its defining
    module and every package module it transitively imports is
    byte-identical to what was recorded. A diff that touches a verified
    query's code fails here until the author either RE-EXPOSES the query
    (deletes its key from the JSON) or deliberately re-records
    (python -m sql_interface_to_xml_database_for_spatial_operations_spark.staleness — a
    visible act in the JSON's git diff, reserved for result-invariant
    changes)."""
    from sql_interface_to_xml_database_for_spatial_operations_spark import staleness

    recorded = staleness.recorded_fingerprints()
    current = staleness.current_fingerprints()
    drifted = sorted(
        n for n in _DRIVER_VERIFIED if current[n] != recorded[n]
    )
    assert not drifted, (
        f"verified queries whose implementation changed since verification: "
        f"{drifted}; re-expose them (delete their JSON keys) or, for "
        "result-invariant changes, re-record fingerprints"
    )
