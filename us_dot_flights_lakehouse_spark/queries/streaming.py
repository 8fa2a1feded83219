"""Event-time queries over the ``events`` table.

These exercise the streaming/events.py operators in BATCH mode — the same
DataFrame logic a readStream caller uses (tests/test_streaming.py proves
batch/stream parity) — which is what makes a DuckDB oracle possible for
streaming aggregation semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.sources.readers import read_table
from us_dot_flights_lakehouse_spark.streaming.events import (
    sessionize,
    sliding_window_stats,
    windowed_event_stats,
)

SESSION_GAP_MINUTES = 30


def st_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return windowed_event_stats(events, "1 hour")


ST_WINDOW_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2, 3
"""


def st_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m event-time windows per type (each event lands in
    exactly two windows; the oracle enumerates both by construction, so
    a boundary or alignment bug in the window fan-out hash-fails)."""
    events = read_table(spark, sf_dir, "events")
    return sliding_window_stats(events, "1 hour", "30 minutes")


ST_SLIDING_ORACLE = """
WITH slid AS (
  SELECT e.*, time_bucket(INTERVAL 30 MINUTE, ts) - k.ofs AS window_start
  FROM events e,
       (SELECT unnest([INTERVAL 0 MINUTE, INTERVAL 30 MINUTE]) AS ofs) k
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
FROM slid GROUP BY 1, 2, 3
"""


def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return sessionize(events, gap_minutes=SESSION_GAP_MINUTES)


ST_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_MINUTES * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), numbered AS (
  SELECT *,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
FROM numbered GROUP BY 1, 2
"""


def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` gap-based sessionization (the streaming
    session operator, here in batch mode — identical semantics, which is
    what makes the SQL oracle valid). Each event opens a window
    ``[ts, ts + gap)``; overlapping windows per user merge, so a new
    session starts exactly when the gap to the previous event is >= the
    gap (end-exclusive window overlap). session_end is last event + gap —
    the operator's native convention, unlike ``sessionize``'s max-ts."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


ST_SESSION_WINDOW_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {SESSION_GAP_MINUTES * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), numbered AS (
  SELECT *,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_idx
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered GROUP BY user_id, session_idx
"""


def st_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator end-to-end: readStream over the
    events parquet → per-user applyInPandasWithState running totals →
    memory sink, returning the FINAL per-user state (one row per user).

    Oracle-able because the state accumulates integer cents (order
    independent — see streaming/stateful.py), so the final emission per
    user equals the batch SUM exactly. The memory sink in update mode
    appends one emission per (user, micro-batch); n_events is monotone
    within a user, so max-by-n_events selects the final state without
    assuming a single micro-batch. State carry-over across micro-batches
    is asserted separately in tests/test_streaming.py."""
    from us_dot_flights_lakehouse_spark.sources.readers import read_table_stream
    from us_dot_flights_lakehouse_spark.streaming.stateful import running_user_totals

    stream = read_table_stream(spark, sf_dir, "events")
    name = "st_running_totals_sink"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("final"))
        .select(
            "user_id",
            F.col("final.n_events").alias("n_events"),
            F.col("final.total_value").alias("total_value"),
        )
    )


ST_RUNNING_TOTALS_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup end-to-end: readStream over the events
    parquet → dropDuplicatesWithinWatermark on (user_id, event_type) →
    memory sink. The output projects ONLY the dedup keys: which physical
    row survives per key depends on arrival order (nondeterministic
    across partitions), but the surviving KEY SET is exactly the distinct
    set — which is what makes a DuckDB oracle possible for a streaming
    stateful operator."""
    from us_dot_flights_lakehouse_spark.sources.readers import read_table_stream
    from us_dot_flights_lakehouse_spark.streaming.stateful import stream_dedup

    stream = read_table_stream(spark, sf_dir, "events")
    deduped = stream_dedup(
        stream, ["user_id", "event_type"], ts_col="ts", watermark="1 hour"
    ).select("user_id", "event_type")
    name = "st_stream_dedup_sink"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name)


ST_DEDUP_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"


LATE_GRACE_SECONDS = 600


def st_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit — the batch measurement behind
    watermark tuning: per user, how many events arrived (by ingest order
    = event_id) with an event-time more than {LATE_GRACE_SECONDS}s
    behind the latest event-time already seen, and the worst disorder.
    This is the report that tells you what withWatermark delay a
    streaming job needs before it starts dropping data.

    Scale: one user-key window (running max over arrival order), then a
    user aggregate — single shuffle."""
    from pyspark.sql import Window as W

    events = read_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max("ts").over(w)
    disorder = F.unix_timestamp(prev_max) - F.unix_timestamp(F.col("ts"))
    flagged = events.select(
        "user_id",
        F.coalesce(disorder, F.lit(0)).cast("long").alias("disorder_s"),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum((F.col("disorder_s") > LATE_GRACE_SECONDS).cast("bigint"))
        .cast("bigint")
        .alias("n_late"),
        F.max("disorder_s").cast("bigint").alias("max_disorder_s"),
    )


ST_LATE_ORACLE = f"""
WITH d AS (
  SELECT user_id,
         COALESCE(date_diff('second', ts,
                            max(ts) OVER (PARTITION BY user_id
                                          ORDER BY event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)), 0) AS disorder_s
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN disorder_s > {LATE_GRACE_SECONDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(max(disorder_s) AS BIGINT) AS max_disorder_s
FROM d GROUP BY user_id
"""


def st_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival (dwell-time) distribution per event type — the
    seconds a user idles before an event of each type, summarized with
    exact interpolated percentiles: the table that sizes session gaps
    and engagement metrics. Gaps are integer seconds (exact); the
    median/p90 interpolation is the a11-proven bit-stable path.

    Scale: one user-key window for the lag, one type-key aggregate."""
    from pyspark.sql import Window as W

    events = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lag("ts").over(w)
    )
    gaps = events.select(
        "event_type", gap.cast("double").alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.percentile("gap_s", F.lit(0.5)).alias("median_gap_s"),
        F.percentile("gap_s", F.lit(0.9)).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


ST_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(date_diff('second',
                        lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id),
                        ts) AS DOUBLE) AS gap_s
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       quantile_cont(gap_s, 0.5) AS median_gap_s,
       quantile_cont(gap_s, 0.9) AS p90_gap_s,
       max(gap_s) AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


TOPK_PER_WINDOW = 3


def st_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_PER_WINDOW} event types per tumbling hour — the
    "trending now" leaderboard shape: windowed counts (the exact agg a
    readStream caller runs, batch/stream parity as everywhere in this
    module) ranked within each window with deterministic tie-breaks
    (count desc, type asc). In production this materializes per window
    close via foreachBatch — the rank is a per-window operation over
    type-cardinality rows, never a global sort.

    Scale: one shuffle to (window, type) counts; the rank window
    partitions by window_start."""
    from pyspark.sql import Window as _W

    events = read_table(spark, sf_dir, "events")
    counts = events.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    rk = _W.partitionBy("w").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= TOPK_PER_WINDOW)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col("rank").cast("int").alias("rank"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


ST_TOPK_ORACLE = f"""
WITH counts AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
         event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2, 3
)
SELECT window_start, window_end, CAST(rank AS INTEGER) AS rank,
       event_type, n_events
FROM (SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type)
                  AS rank
      FROM counts)
WHERE rank <= {TOPK_PER_WINDOW}
"""


def st_windowed_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour — THE streaming cardinality
    metric (concurrent-user dashboards), in both the exact form and the
    production sketch form side by side: per window, exact
    COUNT(DISTINCT user) is the oracle-checked value and a boolean
    asserts the DataSketches HLL estimate (a19's sketch, lgK=12) landed
    within 5% — in sparse mode it is EXACT at these per-window
    cardinalities, where approx_count_distinct's HLL++ missed 11-user
    windows by >15%; estimator drift fails the value hash, and unlike
    HLL++ these sketches also MERGE, which is what a late-data window
    update needs. The same agg a readStream
    caller runs (batch/stream parity as everywhere in this module); at
    100 TB the exact companion is dropped and the MERGEABLE sketch is
    the only affordable state: fixed KBs per open window instead of a
    distinct-user set, and late data folds into the sketch without a
    rescan.

    Scale: one shuffle to (window) groups; sketch state is O(windows)."""
    events = read_table(spark, sf_dir, "events")
    agg = events.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12))
        ).alias("approx_users"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    ok = (
        F.abs(
            F.col("approx_users").cast("double") - F.col("n_users").cast("double")
        )
        <= F.lit(0.05) * F.col("n_users").cast("double")
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_users",
        "n_events",
        ok.alias("sketch_ok"),
    )


ST_CARDINALITY_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS sketch_ok
FROM events GROUP BY 1, 2
"""


def st_new_user_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour NEW-user rate — each hour's distinct active users split
    into first-ever-seen vs returning (the growth-vs-retention split
    every product stream computes; in streaming form this is the
    first-seen keyed state of transformWithState — batch form here,
    bit-identical semantics, which makes the oracle valid). Counts are
    exact BIGINTs; the share is one double division.

    Scale: one per-user min aggregate + one per-hour distinct rollup —
    both map-side combinable; no windows."""
    from pyspark.sql import functions as F

    events = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("first_hour")
    )
    active = (
        events.select(hour.alias("window_start"), "user_id")
        .distinct()
        .join(first_seen, "user_id")
    )
    agg = active.groupBy("window_start").agg(
        F.count("*").cast("bigint").alias("n_active_users"),
        F.sum((F.col("window_start") == F.col("first_hour")).cast("int"))
        .cast("bigint")
        .alias("n_new_users"),
    )
    return agg.select(
        "window_start",
        "n_active_users",
        "n_new_users",
        (
            F.col("n_new_users").cast("double")
            / F.col("n_active_users").cast("double")
        ).alias("new_share"),
    )


ST_NEW_USER_ORACLE = """
WITH first_seen AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, min(ts)) AS first_hour
  FROM events GROUP BY 1
), active AS (
  SELECT DISTINCT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, user_id
  FROM events
)
SELECT a.window_start,
       CAST(count(*) AS BIGINT) AS n_active_users,
       CAST(sum(CASE WHEN a.window_start = f.first_hour THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_users,
       CAST(sum(CASE WHEN a.window_start = f.first_hour THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS new_share
FROM active a JOIN first_seen f USING (user_id)
GROUP BY 1
"""


SILENCE_GAP_HOURS = 48


def st_silence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device-went-silent detection — per user, the consecutive-event
    gaps longer than {SILENCE_GAP_HOURS} hours, with exact microsecond
    arithmetic (the alerting twin of st_interarrival_stats' percentiles;
    in streaming form this is a per-key timer in transformWithState —
    batch form here, identical semantics). The threshold splits the
    sf0.001 data non-degenerately (16 of 985 gaps exceed it —
    tests/test_round7_fixes.py asserts both sides stay non-empty).

    Scale: one lag window PARTITIONED by user — row-scale but perfectly
    parallel; the filter is scan-local after it."""
    from pyspark.sql import Window as W

    events = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev)
    flagged = events.select(
        "user_id",
        prev.alias("silence_start"),
        F.col("ts").alias("silence_end"),
        (gap_us.cast("double") / 3.6e9).alias("gap_hours"),
    ).filter(
        F.col("silence_start").isNotNull()
        & (F.col("gap_hours") > SILENCE_GAP_HOURS)
    )
    return flagged


ST_SILENCE_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS silence_start,
         ts AS silence_end,
         CAST(epoch_us(ts)
              - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
              AS DOUBLE) / 3600000000.0 AS gap_hours
  FROM events
)
SELECT user_id, silence_start, silence_end, gap_hours
FROM g
WHERE silence_start IS NOT NULL AND gap_hours > {SILENCE_GAP_HOURS}
"""


RATE_TRAIL_WINDOWS = 6
RATE_SPIKE_FACTOR = 2.0
RATE_MIN_HISTORY = 3


def st_event_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event-rate spike alerts — tumbling-hour counts compared
    against the trailing mean of the previous {RATE_TRAIL_WINDOWS}
    OBSERVED windows (rows-frame, so silent hours don't dilute the
    baseline the same way on both engines); a window is a spike when its
    count exceeds {RATE_SPIKE_FACTOR}× that mean with at least
    {RATE_MIN_HISTORY} windows of history. This is the monitoring rule a
    streaming pipeline runs on its own ingest rate; counts are exact
    BIGINTs and the baseline is one exact-integer double division, so
    the batch form is bit-stable against the oracle (batch/stream parity
    is the module contract).

    Scale: one (type, hour) aggregate, then windows PARTITIONED BY type
    over the hour-cardinality aggregate — never row-scale window state;
    streaming-wise this is the windowed-agg + per-key trailing state
    shape transformWithState carries."""
    from pyspark.sql import Window as W

    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    trail = (
        W.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-RATE_TRAIL_WINDOWS, -1)
    )
    scored = hourly.select(
        "event_type",
        "window_start",
        "n_events",
        F.count("n_events").over(trail).cast("bigint").alias("n_prior"),
        F.sum("n_events").over(trail).cast("bigint").alias("prior_sum"),
    )
    mean = F.col("prior_sum").cast("double") / F.col("n_prior").cast("double")
    return scored.select(
        "event_type",
        "window_start",
        "n_events",
        "n_prior",
        F.when(F.col("n_prior") > 0, mean).alias("trailing_mean"),
        (
            (F.col("n_prior") >= RATE_MIN_HISTORY)
            & (
                F.col("n_events").cast("double")
                > F.lit(RATE_SPIKE_FACTOR) * mean
            )
        ).alias("is_spike"),
    )


ST_RATE_ALERTS_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, window_start, n_events,
         CAST(count(n_events) OVER w AS BIGINT) AS n_prior,
         CAST(sum(n_events) OVER w AS BIGINT) AS prior_sum
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY window_start
               ROWS BETWEEN {RATE_TRAIL_WINDOWS} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, window_start, n_events, n_prior,
       CASE WHEN n_prior > 0
            THEN CAST(prior_sum AS DOUBLE) / CAST(n_prior AS DOUBLE)
       END AS trailing_mean,
       n_prior >= {RATE_MIN_HISTORY}
         AND CAST(n_events AS DOUBLE)
             > {RATE_SPIKE_FACTOR} * (CAST(prior_sum AS DOUBLE)
                                      / CAST(n_prior AS DOUBLE)) AS is_spike
FROM scored
"""


def st_windowed_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day value quantiles (p50/p95) in both the exact form and the
    MERGEABLE-sketch form side by side — the latency-percentile
    dashboard metric, completing the windowed-sketch symmetry:
    st_windowed_cardinality pairs exact COUNT DISTINCT with an HLL
    sketch, this pairs exact discrete quantiles with the KLL blob
    (operators/sketches.py). Same agg a readStream caller runs
    (batch/stream parity as everywhere in this module); at 100 TB the
    exact companion is dropped and the KB-sized KLL blob is the only
    affordable per-open-window state — late data folds into the blob
    with one merge instead of a window rescan, and a coarser rollup
    (weekly p95) is a union of daily blobs, never a second pass.

    Oracle contract (the a38 pattern over event-time windows): exact
    companions — per-day row count (conserved exactly by the sketch's
    ``n``, so the sketch-side value hashes against the oracle's
    COUNT(*)) and exact discrete quantiles at rank t = ceil(p*n) —
    plus the tracked HARD bound booleans count(x < est) <= t-1+err AND
    count(x <= est) >= t-err, pinned TRUE in the oracle. k=64 keeps the
    compactor ACTIVE at sf0.01+ (hundreds of rows/day > k), so the
    error-tracking path is genuinely exercised, not just the
    concatenation path.

    Scale: partials stream per task (one ~KB row per (task, day));
    the raw-row rank pass exists only to CHECK the sketch."""
    from pyspark.sql import Window as W

    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_partial_builder,
        make_sketch_merger,
    )

    events = read_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    vals = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), cents.alias("cents")
    )
    partials = vals.mapInPandas(
        make_partial_builder("day", "cents", k=64),
        schema="day string, payload string, err long, n_rows long",
    )
    probs = [("p50", 1, 2), ("p95", 19, 20)]
    merged = partials.groupBy("day").applyInPandas(
        make_sketch_merger("day", probs),
        schema=(
            "day string, payload string, err long, n_rows long, "
            "est_p50 long, t_p50 long, est_p95 long, t_p95 long"
        ),
    )
    est = F.broadcast(merged.drop("payload"))
    bound_aggs = []
    for p in ("p50", "p95"):
        bound_aggs.append(
            F.sum((F.col("cents") < F.col(f"est_{p}")).cast("bigint")).alias(
                f"lt_{p}"
            )
        )
        bound_aggs.append(
            F.sum((F.col("cents") <= F.col(f"est_{p}")).cast("bigint")).alias(
                f"le_{p}"
            )
        )
    ranks = (
        vals.join(est, "day")
        .groupBy("day", "err", "n_rows", "t_p50", "t_p95")
        .agg(*bound_aggs)
    )
    wrank = W.partitionBy("day").orderBy("cents")
    ranked = vals.select(
        "day",
        "cents",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(W.partitionBy("day")).alias("n"),
    )

    def _exact(name: str, num: int, den: int):
        t = F.expr(f"({num} * n + {den - 1}) DIV {den}")
        return F.min(F.when(F.col("rn") >= t, F.col("cents"))).alias(
            f"exact_{name}_cents"
        )

    exacts = ranked.groupBy("day").agg(
        _exact("p50", 1, 2), _exact("p95", 19, 20)
    )
    out = ranks.join(F.broadcast(exacts), "day")
    ok_cols = [
        (
            (F.col(f"lt_{p}") <= F.col(f"t_{p}") - 1 + F.col("err"))
            & (F.col(f"le_{p}") >= F.col(f"t_{p}") - F.col("err"))
        ).alias(f"sketch_ok_{p}")
        for p in ("p50", "p95")
    ]
    return out.select(
        "day",
        F.col("n_rows").alias("n_events"),
        "exact_p50_cents",
        "exact_p95_cents",
        *ok_cols,
    )


ST_WINDOWED_QUANTILE_ORACLE = """
WITH vals AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT day, cents,
         row_number() OVER (PARTITION BY day ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY day) AS n
  FROM vals
)
SELECT day,
       CAST(max(n) AS BIGINT) AS n_events,
       min(CASE WHEN rn >= (1 * n + 1) // 2 THEN cents END)
         AS exact_p50_cents,
       min(CASE WHEN rn >= (19 * n + 19) // 20 THEN cents END)
         AS exact_p95_cents,
       TRUE AS sketch_ok_p50,
       TRUE AS sketch_ok_p95
FROM ranked GROUP BY day
"""


KMV_WIN_K = 64
KMV_WIN_NUM = float((KMV_WIN_K - 1) << 60)  # exact double (63 = 6 bits)


def st_windowed_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users in both the exact form and the MERGEABLE
    KMV-blob form side by side — completing the windowed-sketch
    symmetry: st_windowed_cardinality pairs exact COUNT DISTINCT with
    Spark's built-in HLL, st_windowed_quantile_sketch pairs exact
    quantiles with the KLL blob, and this pairs exact distinct counts
    with the bottom-k blob (operators/sketches.py). What the HLL pairing
    cannot give: the KMV blob is engine-reproducible (fixed md5-60
    hashes, so the ORACLE recomputes the estimate bit-for-bit — the a40
    contract) and set-operation capable (two days' audiences intersect
    via dd_kmv_source_overlap's estimator). Same agg a readStream caller
    runs (batch/stream parity as everywhere in this module); at 100 TB
    the per-open-window state is the ≤k-hash blob, late data folds in
    with one set-union merge, and any rollup (weekly uniques) is a blob
    union, never a re-count.

    Scale: partials ship ≤k longs per (task, day); the exact
    count-distinct companion is the CHECK."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_kmv_merger,
        make_kmv_partial_builder,
    )

    events = read_table(spark, sf_dir, "events")
    vals = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("kmv:"), F.col("user_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    partials = vals.mapInPandas(
        make_kmv_partial_builder("day", "h", KMV_WIN_K),
        schema="day string, payload string",
    )
    merged = partials.groupBy("day").applyInPandas(
        make_kmv_merger("day", KMV_WIN_K),
        schema="day string, payload string, n_hashes long, kth long",
    )
    exact = events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    est = F.when(
        F.col("n_hashes") < KMV_WIN_K, F.col("n_hashes").cast("double")
    ).otherwise(F.lit(KMV_WIN_NUM) / F.col("kth").cast("double"))
    return (
        exact.join(F.broadcast(merged), "day")
        .withColumn("est_users", est)
        .select(
            "day",
            "n_events",
            "exact_users",
            "n_hashes",
            "est_users",
            (
                (F.col("est_users") - F.col("exact_users").cast("double"))
                / F.col("exact_users").cast("double")
            ).alias("rel_err"),
        )
    )


ST_KMV_DISTINCT_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT day, h,
         row_number() OVER (PARTITION BY day ORDER BY h) AS r,
         count(*) OVER (PARTITION BY day) AS nd
  FROM h
), sk AS (
  SELECT day,
         CAST(LEAST(nd, {KMV_WIN_K}) AS BIGINT) AS n_hashes,
         max(CASE WHEN r = {KMV_WIN_K} THEN h END) AS kth
  FROM ranked GROUP BY day, nd
), est AS (
  SELECT day, n_hashes,
         CASE WHEN n_hashes < {KMV_WIN_K} THEN CAST(n_hashes AS DOUBLE)
              ELSE CAST({KMV_WIN_NUM!r} AS DOUBLE) / CAST(kth AS DOUBLE)
         END AS est_users
  FROM sk
), exact AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT day, n_events, exact_users, n_hashes, est_users,
       (est_users - CAST(exact_users AS DOUBLE))
         / CAST(exact_users AS DOUBLE) AS rel_err
FROM exact JOIN est USING (day)
"""
