"""Validate every queries()/oracle_sql() pair exactly like the driver does."""

import pytest

import __spark_entry__ as entrymod
from tests.compare import compare_spark_duck, duck_connect


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0 and len(df.schema.fields) > 0


def test_every_query_has_oracle():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_vs_oracle(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    con = duck_connect(sf_dir)
    compare_spark_duck(df, con, entrymod.oracle_sql()[name])
