"""Engine-vs-DuckDB oracle comparison at sf0.001 for every registered query
that declares an oracle — a fast local replica of the driver's gate."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL
from us_dot_flights_lakehouse_spark import queries as registry
from us_dot_flights_lakehouse_spark.testing import assert_df_equal

# data-dependent oracles (literal-centroid IVF) must train on the sf
# this suite runs at
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_SMALL

BUILDERS = registry.queries()
ORACLE_SQL = registry.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(spark, duck, sf_small, name):
    sdf = BUILDERS[name](spark, sf_small)
    res = duck.execute(ORACLE_SQL[name])
    cols = [d[0] for d in res.description]
    assert_df_equal(sdf, res.fetchall(), cols)


@pytest.mark.parametrize("name", sorted(set(BUILDERS) - set(ORACLE_SQL)))
def test_query_without_oracle_runs(spark, sf_small, name):
    df = BUILDERS[name](spark, sf_small)
    assert df.count() >= 0
    assert df.columns


def test_priority_names_all_resolve():
    """Every _PRIORITY rotation name must be a real catalog entry, listed
    once. Round 8 shipped two dangling entries (a38/w23, then
    unimplemented) with zero errors anywhere, which would have burned
    driver head-50 sample slots on nothing (VERDICT r8 item 2); a
    duplicate would make hand-counting that budget dishonest (ADVICE
    r10). The catalog itself keys every query by its builder's name."""
    from us_dot_flights_lakehouse_spark.queries import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY))
    dangling = set(_PRIORITY) - set(BUILDERS)
    assert not dangling, f"_PRIORITY names with no catalog query: {sorted(dangling)}"
    assert len(BUILDERS) == 312
    assert all(name == fn.__name__ for name, fn in BUILDERS.items())


def test_no_query_returns_complex_columns(spark, sf_small):
    """The correctness driver canonicalizes results with a pandas
    sort_values, which throws ``TypeError: unhashable type`` on array /
    map / struct cells (this killed tp_token_ids and sim_feature_hash in
    CORRECTNESS_r04). Guard the whole registry: every queries() entry
    must emit only scalar top-level columns — serialize sequences with
    concat_ws / to_json / md5 in the final select instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, fn in BUILDERS.items():
        schema = fn(spark, sf_small).schema  # plan-only, nothing executes
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, (
        "queries() entries with driver-uncanonicalizable complex columns "
        f"(serialize them to scalars in the final select): {offenders}"
    )
