"""Shared constants and helpers for the relational query families
(``agg_q``, ``audit_q``, ``funcs_q``, ``join_q``, ``sketch_q``, ``window_q``).

Each query re-expresses a reference pipeline pattern (cited per function)
against the TPC-H-ish test tables: orders≈flight feed, customer/supplier/
part/nation≈dims, lineitem≈fact grain. The flagship
(``agg_q.daily_segment_performance``) mirrors the reference's marquee mart
``daily_airline_performance.py`` semantics.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from us_dot_flights_lakehouse_spark.operators.aggregates import (
    MONEY,
    conditional_avg,
    conditional_count,
    cube_agg,
    dec_sum,
    rollup_agg,
)
from us_dot_flights_lakehouse_spark.operators.generators import date_range_df
from us_dot_flights_lakehouse_spark.operators.joins import (
    asof_join,
    broadcast_star_join,
    bucketed_range_join,
    enrich_join,
    outer_merge_coalesce,
    semi_join,
)
from us_dot_flights_lakehouse_spark.operators.setops import (
    except_distinct,
    intersect_distinct,
    union_distinct,
)
from us_dot_flights_lakehouse_spark.sources.readers import (
    lookup_scan,
    read_corpus,
    read_table,
)


RANK_ITERS = 2
