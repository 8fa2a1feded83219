"""Flights-domain medallion pipeline: cleaning/enrichment semantics on
hand-built rows, then the full bronze→silver→gold run on synthetic data."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.flights.cleaner import clean_flights
from us_dot_flights_lakehouse_spark.flights.enricher import enrich_flights
from us_dot_flights_lakehouse_spark.flights.pipeline import run_all
from us_dot_flights_lakehouse_spark.flights.schema import FLIGHT_SCHEMA
from us_dot_flights_lakehouse_spark.flights.silver import silver_transform
from us_dot_flights_lakehouse_spark.flights.synthetic import synthetic_flights

TS = datetime.datetime(2025, 1, 4)  # a Saturday


def _row(**over):
    base = dict(
        FL_DATE=TS,
        OP_UNIQUE_CARRIER="aa ",
        OP_CARRIER_FL_NUM=100,
        ORIGIN=" jfk",
        ORIGIN_AIRPORT_ID=10135,
        DEST="lax",
        DEST_AIRPORT_ID=12892,
        CRS_DEP_TIME="845",
        DEP_TIME="907",
        DEP_DELAY=22.0,
        DEP_DELAY_NEW=22.0,
        CRS_ARR_TIME="1200",
        ARR_TIME="1215",
        ARR_DELAY=15.0,
        ARR_DELAY_NEW=15.0,
        CANCELLED=0.0,
        DIVERTED=0.0,
        AIR_TIME=300.0,
        DISTANCE=2475.0,
    )
    base.update(over)
    return tuple(base[f.name] for f in FLIGHT_SCHEMA.fields)


@pytest.fixture()
def raw(spark):
    return spark.createDataFrame(
        [
            _row(),
            _row(OP_CARRIER_FL_NUM=101, CANCELLED=1.0, DEP_TIME=None, ARR_TIME=None,
                 DEP_DELAY=None, ARR_DELAY=None, AIR_TIME=None),
            _row(OP_CARRIER_FL_NUM=102, DEP_DELAY=-4.0, ARR_DELAY=None,
                 ARR_DELAY_NEW=None, DEP_TIME="2400", ARR_TIME="5"),
            _row(OP_CARRIER_FL_NUM=103, DEP_DELAY=90.0, ARR_DELAY=85.0),
        ],
        FLIGHT_SCHEMA,
    )


def test_cleaning_semantics(raw):
    out = {r["OP_CARRIER_FL_NUM"]: r for r in clean_flights(raw).collect()}
    ok, cancelled, wrap = out[100], out[101], out[102]

    # HHMM -> HH:MM with padding; 2400 wraps; single digit pads
    assert ok["DEP_TIME"] == "09:07" and ok["CRS_DEP_TIME"] == "08:45"
    assert wrap["DEP_TIME"] == "00:00" and wrap["ARR_TIME"] == "00:05"
    # cancelled flights: actuals nulled
    assert cancelled["DEP_TIME"] is None and cancelled["AIR_TIME"] is None
    # operated flight with null delay -> 0
    assert wrap["ARR_DELAY"] == 0.0
    # units + flags + text standardization
    assert ok["DISTANCE_KM"] == pytest.approx(2475.0 * 1.60934)
    assert cancelled["CANCELLED_BOOL"] is True and ok["CANCELLED_BOOL"] is False
    assert ok["OP_UNIQUE_CARRIER"] == "AA" and ok["ORIGIN"] == "JFK"
    # quality score: all five flags pass for the clean row
    assert ok["DATA_QUALITY_SCORE"] == 1.0
    assert cancelled["DATA_QUALITY_SCORE"] == 1.0  # air-time flag excuses cancelled


def test_enrichment_semantics(raw):
    out = {
        r["OP_CARRIER_FL_NUM"]: r
        for r in enrich_flights(clean_flights(raw)).collect()
    }
    assert out[100]["DEP_DELAY_CATEGORY"] == "MODERATE_DELAY"
    assert out[101]["DEP_DELAY_CATEGORY"] == "UNKNOWN"
    assert out[102]["DEP_DELAY_CATEGORY"] == "ON_TIME_OR_EARLY"
    assert out[103]["DEP_DELAY_CATEGORY"] == "SEVERE_DELAY"
    assert out[100]["AVG_SPEED_MPH"] == pytest.approx(2475.0 / 300.0 * 60)
    assert out[101]["AVG_SPEED_MPH"] is None
    assert out[100]["ROUTE_CODE"] == "JFK-LAX"
    assert out[100]["IS_WEEKEND"] is True  # 2025-01-04 is a Saturday
    assert out[100]["IS_ON_TIME"] is True  # 15 min is the on-time boundary
    assert out[103]["IS_ON_TIME"] is False


def test_silver_schema_stable(raw):
    silver = silver_transform(raw)
    assert silver.columns[:4] == [
        "FLIGHT_DATE", "AIRLINE_CODE", "FLIGHT_NUMBER", "ORIGIN_AIRPORT_CODE",
    ]
    assert len(silver.columns) == 25
    assert silver.count() == 4


def test_full_medallion_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lakehouse"))
    raw = synthetic_flights(spark, n=300)
    gold = run_all(spark, raw, root)

    n_raw = raw.count()
    fact = gold["fact_flights"]
    assert fact.count() == n_raw  # left joins preserve fact grain
    assert fact.filter(F.col("DATE_KEY").isNull()).count() == 0  # FK probe

    # time-key join elimination: spot-check arithmetic key correctness
    silver = spark.read.parquet(f"{root}/silver/flights")
    probe = (
        silver.filter(F.col("ACTUAL_DEP_TIME").isNotNull())
        .select("FLIGHT_NUMBER", "ACTUAL_DEP_TIME").limit(1).collect()[0]
    )
    hh, mm = probe["ACTUAL_DEP_TIME"].split(":")
    key = (
        fact.filter(F.col("FLIGHT_NUMBER") == probe["FLIGHT_NUMBER"])
        .select("DEP_TIME_KEY").collect()[0][0]
    )
    assert key == int(hh) * 60 + int(mm)

    # dims are sound
    assert gold["dim_time"].count() == 1440
    assert gold["dim_airport"].count() == 5
    dim_date = gold["dim_date"]
    assert dim_date.filter(~F.col("IS_WEEKEND") & F.col("DAY_NAME").isin("Saturday", "Sunday")).count() == 0

    # mart KPI sanity: completion + cancellation rates complement
    mart = gold["daily_airline_performance"]
    bad = mart.filter(
        F.col("COMPLETION_RATE").isNotNull()
        & (F.abs(F.col("COMPLETION_RATE") + F.col("CANCELLATION_RATE") - 100.0) > 0.02)
    )
    assert bad.count() == 0

    # airport mart: every movement accounted once per side
    airport = gold["daily_airport_performance"]
    total_dep = airport.agg(F.sum("DEPARTURES")).collect()[0][0]
    assert total_dep == n_raw


def test_bronze_with_file_backed_lookups(spark, tmp_path_factory):
    """The reference pipeline reads its lookups from files: bronze must
    enrich and stamp lineage when raw AND both lookups are file scans."""
    from us_dot_flights_lakehouse_spark.flights.pipeline import (
        LakehousePaths,
        run_bronze,
    )
    from us_dot_flights_lakehouse_spark.flights.synthetic import (
        AIRPORTS,
        CARRIERS,
    )

    root = str(tmp_path_factory.mktemp("bronze_files"))
    synthetic_flights(spark, n=50).write.parquet(f"{root}/raw")
    lookup_schema = "Code string, Description string"
    spark.createDataFrame(
        [(str(i), f"{code} airport") for code, i in AIRPORTS], lookup_schema
    ).write.parquet(f"{root}/airports")
    spark.createDataFrame(
        [(c, f"{c} carrier") for c in CARRIERS], lookup_schema
    ).write.parquet(f"{root}/carriers")

    bronze = run_bronze(
        spark,
        spark.read.parquet(f"{root}/raw"),
        LakehousePaths(f"{root}/lake"),
        spark.read.parquet(f"{root}/airports"),
        spark.read.parquet(f"{root}/carriers"),
    )
    assert bronze.count() == 50
    for c in ("ORIGIN_AIRPORT_NAME", "DEST_AIRPORT_NAME", "CARRIER_NAME", "source_file"):
        assert bronze.filter(F.col(c).isNull()).count() == 0, c
    assert bronze.filter(~F.col("source_file").contains(f"{root}/raw/")).count() == 0


def test_run_pipeline_stage_report_and_resume(spark, tmp_path_factory):
    from us_dot_flights_lakehouse_spark.flights.pipeline import (
        PIPELINE_STAGES,
        run_pipeline,
    )

    root = str(tmp_path_factory.mktemp("dag"))
    raw = synthetic_flights(spark, n=200)
    results = run_pipeline(spark, raw, root)
    assert [r.name for r in results] == list(PIPELINE_STAGES)
    assert all(r.status == "ok" for r in results)
    assert all(r.attempts == 1 for r in results)

    # resume mid-DAG: gold-only rerun reads published silver, raw unused
    resumed = run_pipeline(spark, None, root, start_at="build_dimensions")
    by_name = {r.name: r.status for r in resumed}
    assert by_name["bronze_ingest"] == "skipped"
    assert by_name["silver_transform"] == "skipped"
    assert by_name["build_dimensions"] == "ok"
    assert by_name["fact_flights"] == "ok"
    assert by_name["build_aggregates"] == "ok"
    assert spark.read.parquet(f"{root}/gold/fact_flights").count() == 200


def test_run_pipeline_gate_failure_halts_without_retry(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dagfail"))
    # a feed whose airport codes are malformed: bronze (warn-only) passes,
    # the fail-closed silver gate rejects, downstream stages skip
    bad = spark.createDataFrame(
        [_row(ORIGIN="TOOLONGCODE", DEST="X")], FLIGHT_SCHEMA
    )
    from us_dot_flights_lakehouse_spark.flights.pipeline import run_pipeline

    results = run_pipeline(spark, bad, root, retries=2)
    by_name = {r.name: r for r in results}
    assert by_name["bronze_ingest"].status == "ok"
    assert by_name["silver_transform"].status == "failed"
    assert by_name["silver_transform"].attempts == 1  # gate errors don't retry
    assert "QualityGateError" in by_name["silver_transform"].error
    assert by_name["build_dimensions"].status == "skipped"
    assert by_name["build_aggregates"].status == "skipped"


def test_run_pipeline_writes_data_docs(spark, tmp_path_factory):
    from us_dot_flights_lakehouse_spark.flights.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("dagdocs"))
    docs_path = f"{root}/docs/index.html"
    raw = synthetic_flights(spark, n=120)
    results = run_pipeline(spark, raw, root, data_docs_path=docs_path)
    assert all(r.status == "ok" for r in results)
    html = open(docs_path).read()
    # every gate that ran shows up, all passing
    for suite in ("bronze_flights", "silver_flights", "dim_date", "fact_flights"):
        assert suite in html
    assert "ALL PASSING" in html

    # gate failure still renders (the failing suite shows FAIL)
    bad_root = str(tmp_path_factory.mktemp("dagdocsfail"))
    bad_docs = f"{bad_root}/docs.html"
    bad = spark.createDataFrame([_row(ORIGIN="TOOLONGCODE", DEST="X")], FLIGHT_SCHEMA)
    run_pipeline(spark, bad, bad_root, retries=0, data_docs_path=bad_docs)
    bad_html = open(bad_docs).read()
    assert "silver_flights" in bad_html and "FAIL" in bad_html
