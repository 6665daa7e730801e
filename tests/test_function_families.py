"""The SQL function catalogue (``functions.families.FUNCTION_FAMILIES``) and its
memoized ``register_all`` (no SparkSession needed: a fake session counts
``udf.register`` calls)."""

from __future__ import annotations

from collections import Counter

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import (
    FUNCTION_FAMILIES,
    register_all,
)

_NAMES = [name for family in FUNCTION_FAMILIES for name in family]


class _FakeUDFRegistration:
    def __init__(self, fail_on: str | None = None):
        self.calls: list[str] = []
        self.fail_on = fail_on

    def register(self, name, fn):
        if name == self.fail_on:
            self.fail_on = None  # fail once, then succeed on retry
            raise RuntimeError(f"cannot register {name}")
        self.calls.append(name)


class _FakeSession:
    def __init__(self, fail_on: str | None = None):
        self.udf = _FakeUDFRegistration(fail_on)


def test_no_sql_name_in_two_families():
    dup = sorted(n for n, c in Counter(_NAMES).items() if c > 1)
    assert not dup, f"SQL names registered by more than one family: {dup}"


def test_register_all_registers_every_name_once():
    spark = _FakeSession()
    register_all(spark)
    assert spark.udf.calls == _NAMES


def test_register_all_is_memoized_per_session():
    spark = _FakeSession()
    register_all(spark)
    register_all(spark)
    assert len(spark.udf.calls) == len(_NAMES)
    other = _FakeSession()
    register_all(other)
    assert other.udf.calls == _NAMES


def test_failed_register_all_is_not_memoized():
    spark = _FakeSession(fail_on=_NAMES[len(_NAMES) // 2])
    with pytest.raises(RuntimeError):
        register_all(spark)
    spark.udf.calls.clear()
    register_all(spark)
    assert spark.udf.calls == _NAMES
