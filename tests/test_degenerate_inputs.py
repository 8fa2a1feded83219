"""Catalog queries on degenerate but schema-valid inputs (short series,
single-month groups): each must return the oracle's result, not crash.
Tables are written by DuckDB with the test data's column types, and the
oracle runs over the same files."""

from __future__ import annotations

import duckdb
import pytest

from us_dot_flights_lakehouse_spark.queries import agg_q, window_q
from us_dot_flights_lakehouse_spark.testing import assert_df_equal


@pytest.fixture()
def tables(tmp_path):
    """Write ``{name: SELECT}`` as ``<tmp>/<name>.parquet``; return the dir
    and a DuckDB connection with one view per table."""
    con = duckdb.connect()

    def write(**selects):
        for name, sql in selects.items():
            path = f"{tmp_path}/{name}.parquet"
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return str(tmp_path), con

    yield write
    con.close()


def test_w8_rolling_anomaly_short_spine(spark, tables):
    """One user whose hourly spine is shorter than the 24-hour window."""
    sf_dir, con = tables(
        events="""
        SELECT CAST(i AS BIGINT) AS event_id,
               TIMESTAMP '2024-01-01 00:10:00' + i * INTERVAL 1 HOUR AS ts,
               CAST(7 AS BIGINT) AS user_id, 'click' AS event_type,
               CAST(i * 1.25 AS DOUBLE) AS value, '{}' AS props
        FROM range(5) t(i)
        """
    )
    res = con.execute(window_q.W8_ORACLE)
    assert_df_equal(
        window_q.w8_rolling_anomaly(spark, sf_dir),
        res.fetchall(),
        [d[0] for d in res.description],
    )


def test_a24_theil_sen_single_month_region(spark, tables):
    """Region B has orders in one month only: no pairs, NULL slope."""
    sf_dir, con = tables(
        region="SELECT * FROM (VALUES (0, 'A'), (1, 'B')) t(r_regionkey, r_name)",
        nation="SELECT * FROM (VALUES (0, 'N0', 0), (1, 'N1', 1)) "
        "t(n_nationkey, n_name, n_regionkey)",
        customer="SELECT CAST(c AS BIGINT) AS c_custkey, 'c' AS c_name, "
        "CAST(c - 10 AS INTEGER) AS c_nationkey, 0.0 AS c_acctbal, "
        "'S' AS c_mktsegment FROM (VALUES (10), (11)) t(c)",
        orders="""
        SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS o_custkey,
               'O' AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice,
               CAST(d AS TIMESTAMP) AS o_orderdate, '1-URGENT' AS o_orderpriority
        FROM (VALUES (1, 10, 100.0, DATE '1995-01-03'),
                     (2, 10, 150.0, DATE '1995-02-03'),
                     (3, 10, 90.0, DATE '1995-03-03'),
                     (4, 11, 50.0, DATE '1995-01-05'),
                     (5, 11, 25.5, DATE '1995-01-20')) t(k, c, p, d)
        """,
    )
    res = con.execute(agg_q.A24_ORACLE)
    want = res.fetchall()
    got = agg_q.a24_theil_sen(spark, sf_dir)
    assert_df_equal(got, want, [d[0] for d in res.description])
    single = {r["r_name"]: r for r in got.collect()}["B"]
    assert (single["n_months"], single["n_pairs"], single["ts_slope"]) == (1, 0, None)
