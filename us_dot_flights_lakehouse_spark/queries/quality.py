"""Quality-gate query: the orders suite report, oracle-checked so the
check arithmetic itself (rates, uniqueness deltas, range fractions) is
verified against an independent engine."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from us_dot_flights_lakehouse_spark.quality.checks import QualitySuite
from us_dot_flights_lakehouse_spark.sources.readers import read_table, spread_scan


def orders_suite() -> QualitySuite:
    """Mirrors the reference's bronze/gold expectation shapes
    (bronze_expectations.py:50-76: row-count, null bounds, ranges;
    gold_expectations.py: PK uniqueness; silver_expectations.py:54-187:
    set membership + code lengths) against the orders table."""
    return (
        QualitySuite("orders")
        .expect_row_count_at_least(1)
        .expect_column_exists("o_orderkey")
        .expect_null_rate_at_most("o_custkey", 0.05)
        .expect_unique("o_orderkey")
        .expect_values_between("o_totalprice", 0.0, 1_000_000.0, mostly=0.99)
        .expect_values_in_set("o_orderstatus", ("F", "O", "P"))
        .expect_length_between("o_orderpriority", 5, 15)
    )


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders_suite().report_df(spark, orders)


QUALITY_ORACLE = """
WITH agg AS (
  SELECT
    CAST(COUNT(*) AS DOUBLE) AS n_rows,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS null_rate,
    CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS dup_delta,
    CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice BETWEEN 0.0 AND 1000000.0 THEN 1 ELSE 0 END) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS in_range,
    CAST(SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS in_set,
    CAST(SUM(CASE WHEN o_orderpriority IS NULL OR length(o_orderpriority) BETWEEN 5 AND 15 THEN 1 ELSE 0 END) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS len_ok
  FROM orders
)
SELECT 'orders' AS suite, 'row_count_at_least' AS check, '*' AS "column",
       n_rows >= 1 AS passed, n_rows AS observed FROM agg
UNION ALL SELECT 'orders', 'column_exists', 'o_orderkey', TRUE, NULL FROM agg
UNION ALL SELECT 'orders', 'null_rate_at_most', 'o_custkey', null_rate <= 0.05, null_rate FROM agg
UNION ALL SELECT 'orders', 'unique', 'o_orderkey', dup_delta = 0, dup_delta FROM agg
UNION ALL SELECT 'orders', 'values_between', 'o_totalprice', in_range >= 0.99, in_range FROM agg
UNION ALL SELECT 'orders', 'values_in_set', 'o_orderstatus', in_set >= 1.0, in_set FROM agg
UNION ALL SELECT 'orders', 'length_between', 'o_orderpriority', len_ok >= 1.0, len_ok FROM agg
"""



#: columns profiled by q_table_stats (string min/max semantics differ
#: from numeric but both engines order identically; the timestamp column
#: is profiled through an explicit format so the string form is pinned)
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderpriority")


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders table — one row per
    column: row count, null count, exact distinct count, min/max as
    strings. The metadata layer every warehouse keeps; here it is an
    oracle-checked query so the profile arithmetic is itself verified.

    Scale: ONE scan — every column's aggregates compute in a single
    agg() (ADVICE r4 replaced the per-column aggregate + union, which
    scanned the table once per profiled column) and ``stack`` unpivots
    the 1-row wide result to the per-column layout. The multi-column
    count(DISTINCT) plans as one Expand (+1 branch per column) feeding a
    single two-phase aggregate — for 100 TB profiling swap in
    approx_count_distinct (the a12/a19 sketch family) column by column."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    # r13 (guide §2.5 input skew): string min/max forces the partial
    # aggregate to SORT-aggregate, and the count(DISTINCT) Expand fans
    # the scan 6x BEFORE that sort — all serialized on the one scan task
    # a single-row-group file yields. One key-hashed exchange of the five
    # profiled columns (hash on the unique key: even spread, and unlike
    # round-robin it pays no sort-before-repartition) moves the 6x Expand
    # + sort + partial distinct onto every core; on a real multi-split
    # table this is an N->N-ish exchange of only the profiled columns.
    # Measured 2.5s -> 1.1s warm at sf0.1. r14 (ADVICE): gated on scan
    # parallelism — a multi-split table at scale skips the exchange.
    orders = spread_scan(
        orders, F.col(_PROFILE_COLS[0]), table_path=f"{sf_dir}/orders.parquet"
    )
    n = F.count("*").cast("bigint")
    aggs = [n.alias("n_rows")]
    for c in _PROFILE_COLS:
        col = F.col(c)
        aggs += [
            (n - F.count(col)).alias(f"{c}__nn"),
            F.count_distinct(col).cast("bigint").alias(f"{c}__nd"),
            F.min(col).cast("string").alias(f"{c}__mn"),
            F.max(col).cast("string").alias(f"{c}__mx"),
        ]
    wide = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__mn`, `{c}__mx`"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column, n_nulls, n_distinct, min_str, max_str)",
        "n_rows",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")


def _table_stats_oracle() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_str,
       CAST(max({c}) AS VARCHAR) AS max_str
FROM orders"""
        for c in _PROFILE_COLS
    )
    return rows


def q_table_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_table_stats`` for wide tables at 100 TB: the distinct counts
    come from HyperLogLog++ sketches (``approx_count_distinct``, default
    rsd=0.05 — measured: rsd=0.01's 2^14-register state folds 3× slower
    than the whole rsd=0.05 query) instead of exact COUNT(DISTINCT) —
    single-pass, fixed sub-KB state per column, NO Expand (the exact
    profile plans one Expand branch per column, multiplying scan output
    5×; the sketch pass scans once at unit width). Oracle contract
    mirrors a12/a19: the exact distinct companions are the oracle-checked
    values and an in-query boolean asserts each sketch landed within 3σ
    (rsd 5% → 15%), so estimator drift fails the value hash. At the full
    scale you drop the exact companion aggregate (here its own SEPARATE
    single-purpose agg — mixing sketches and exact DISTINCTs in one agg
    makes Catalyst re-evaluate the sketches on every Expand copy:
    re-measured this round at 4.5× the two-pass plan, matching a12's
    finding) and ship the sketch columns alone: measured 1.35 s vs the
    exact profile's 3.5 s at sf0.1 even WITH the companion pass."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    n = F.count("*").cast("bigint")
    sketch_aggs = [n.alias("n_rows")]
    for c in _PROFILE_COLS:
        col = F.col(c)
        sketch_aggs += [
            (n - F.count(col)).alias(f"{c}__nn"),
            F.approx_count_distinct(col).alias(f"{c}__ad"),
            F.min(col).cast("string").alias(f"{c}__mn"),
            F.max(col).cast("string").alias(f"{c}__mx"),
        ]
    sketches = orders.agg(*sketch_aggs)
    exacts = orders.agg(
        *[
            F.count_distinct(F.col(c)).cast("bigint").alias(f"{c}__nd")
            for c in _PROFILE_COLS
        ]
    )
    wide = sketches.crossJoin(exacts)
    stack = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__ad`, `{c}__mn`, `{c}__mx`"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column, n_nulls, n_distinct, approx_nd, min_str, max_str)",
        "n_rows",
    ).select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        (
            F.abs(F.col("approx_nd").cast("double") - F.col("n_distinct").cast("double"))
            <= F.lit(0.15) * F.col("n_distinct").cast("double")
        ).alias("sketch_ok"),
        "min_str",
        "max_str",
    )


def _table_stats_approx_oracle() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       TRUE AS sketch_ok,
       CAST(min({c}) AS VARCHAR) AS min_str,
       CAST(max({c}) AS VARCHAR) AS max_str
FROM orders"""
        for c in _PROFILE_COLS
    )
    return rows


#: a column whose values repeat ≥ this many times on average is a
#: dictionary-encoding win
ENCODING_MIN_AVG_REPEATS = 20


def q_encoding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding advisor — per column, the value-concentration
    facts that decide dictionary/RLE encoding at write time: distinct
    count, hottest value's share, EXACT Gini impurity 1 − Σ(cᵥ/n)²
    (computable bit-exactly because Σcᵥ² is a BIGINT — unlike Shannon
    entropy, whose per-value float terms would sum in partition order),
    and a deterministic integer-arithmetic recommendation
    (avg repetitions ≥ {ENCODING_MIN_AVG_REPEATS} → dictionary). The
    parquet-writer tuning table a lakehouse consults before re-encoding
    a 100 TB table.

    Scale: one value-cardinality groupBy per column; only (Σc², max c,
    counts) leave each aggregate."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")

    def profile(col: str) -> DataFrame:
        counts = orders.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("c")
        )
        return counts.agg(
            F.lit(col).alias("column"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.max("c").cast("bigint").alias("top_freq"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        ).select(
            "column",
            "n_rows",
            "n_distinct",
            (F.col("top_freq").cast("double") / F.col("n_rows").cast("double")).alias(
                "top_share"
            ),
            (
                F.lit(1.0)
                - F.col("sum_c2").cast("double")
                / (F.col("n_rows").cast("double") * F.col("n_rows").cast("double"))
            ).alias("gini_impurity"),
            (
                F.col("n_rows")
                >= F.lit(ENCODING_MIN_AVG_REPEATS) * F.col("n_distinct")
            ).alias("dict_recommended"),
        )

    cols = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey")
    out = profile(cols[0])
    for c in cols[1:]:
        out = out.unionByName(profile(c))
    return out


def _encoding_profile_oracle() -> str:
    parts = []
    for c in ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"):
        parts.append(f"""
SELECT '{c}' AS column,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_share,
       1.0 - CAST(sum(c * c) AS DOUBLE)
             / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
         AS gini_impurity,
       sum(c) >= {ENCODING_MIN_AVG_REPEATS} * count(*) AS dict_recommended
FROM (SELECT {c} AS v, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1)""")
    return "\nUNION ALL\n".join(parts)


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan audit across the star schema — one row per relationship
    with child count, orphan count (child keys with no parent row; NULL
    keys counted separately as their own governance signal) and the
    orphan rate. The referential-integrity report a warehouse runs after
    every load, since distributed writers can't enforce FKs.

    Scale: each check is one LEFT ANTI join (AQE broadcasts the parent
    key projection when it fits) + a count — no row-level output."""
    from pyspark.sql import functions as F

    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    def check(name, child, key, parent, pkey):
        nn = child.filter(F.col(key).isNotNull())
        orphans = nn.join(
            parent.select(F.col(pkey).alias(key)), key, "left_anti"
        )
        return (
            child.agg(
                F.lit(name).alias("relationship"),
                F.count("*").cast("bigint").alias("n_child"),
                F.sum(F.col(key).isNull().cast("bigint"))
                .cast("bigint")
                .alias("n_null_keys"),
            )
            .crossJoin(
                orphans.agg(F.count("*").cast("bigint").alias("n_orphans"))
            )
            .select(
                "relationship",
                "n_child",
                "n_null_keys",
                "n_orphans",
                (
                    F.col("n_orphans").cast("double")
                    / F.col("n_child").cast("double")
                ).alias("orphan_rate"),
            )
        )

    checks = [
        check("lineitem.orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        check("orders.custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        check("customer.nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


Q_REFINT_ORACLE = """
SELECT 'lineitem.orderkey->orders' AS relationship,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT)
         AS n_null_keys,
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
         AS n_orphans,
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE)
         / CAST((SELECT count(*) FROM lineitem) AS DOUBLE) AS orphan_rate
UNION ALL
SELECT 'orders.custkey->customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS DOUBLE)
         / CAST((SELECT count(*) FROM orders) AS DOUBLE)
UNION ALL
SELECT 'customer.nationkey->nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer WHERE c_nationkey IS NULL) AS BIGINT),
       CAST((SELECT count(*) FROM customer cu
             WHERE cu.c_nationkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = cu.c_nationkey)) AS BIGINT),
       CAST((SELECT count(*) FROM customer cu
             WHERE cu.c_nationkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = cu.c_nationkey)) AS DOUBLE)
         / CAST((SELECT count(*) FROM customer) AS DOUBLE)
"""


def q_violation_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level rule-bitmask triage — every order gets a bitmask of the
    review rules it trips (bit 0: NULL custkey; bit 1: high-value
    review threshold; bit 2: pending status; bit 3: expedite priority),
    then one row per distinct mask with its count and the decoded rule
    list: the triage table that tells a data team WHICH rule
    COMBINATIONS dominate, not just per-rule totals (q_quality_report's
    view).

    Scale: scan-local bit arithmetic + a ≤16-row aggregate."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    mask = (
        F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        + F.when(F.col("o_totalprice") > 300_000, 2).otherwise(0)
        + F.when(F.col("o_orderstatus") == "P", 4).otherwise(0)
        + F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 8
        ).otherwise(0)
    )
    rules = F.concat_ws(
        ",",
        *[
            F.when(F.col("mask").bitwiseAND(bit) != 0, F.lit(name))
            for bit, name in (
                (1, "null_custkey"),
                (2, "high_value"),
                (4, "pending_status"),
                (8, "expedite"),
            )
        ],
    )
    masked = orders.select(mask.cast("int").alias("mask"))
    return (
        masked.groupBy("mask")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .select(
            "mask",
            "n_rows",
            F.coalesce(rules, F.lit("")).alias("violated_rules"),
            (F.col("mask") == 0).alias("clean"),
        )
    )


Q_BITMASK_ORACLE = """
WITH m AS (
  SELECT (CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
       + (CASE WHEN o_totalprice > 300000 THEN 2 ELSE 0 END)
       + (CASE WHEN o_orderstatus = 'P' THEN 4 ELSE 0 END)
       + (CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 8
               ELSE 0 END) AS mask
  FROM orders
), agg AS (
  SELECT CAST(mask AS INTEGER) AS mask, CAST(count(*) AS BIGINT) AS n_rows
  FROM m GROUP BY 1
)
SELECT mask, n_rows,
       concat_ws(',',
         CASE WHEN (mask & 1) != 0 THEN 'null_custkey' END,
         CASE WHEN (mask & 2) != 0 THEN 'high_value' END,
         CASE WHEN (mask & 4) != 0 THEN 'pending_status' END,
         CASE WHEN (mask & 8) != 0 THEN 'expedite' END) AS violated_rules,
       mask = 0 AS clean
FROM agg
"""


def composite_pk_expr(cols):
    """NULL-safe composite-key encoding (ADVICE r7): concat_ws SKIPS
    null parts, so (NULL, 3) would collapse to "3" == a row whose
    first part IS "3" with a missing second. Encode each part
    through COALESCE with an out-of-band sentinel (\\x1e = record
    separator, never in these numeric keys) and join on \\x1f; the
    oracle mirrors it as coalesce(CAST(c AS VARCHAR), chr(30)||'NULL')
    joined with chr(31), where || would otherwise propagate NULL.
    Factored out so tests can drive NULL-component frames through the
    exact production expression (tests/test_round89_fixes.py)."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x1eNULL"))
            for c in cols
        ],
    )


def q_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q: primary-key uniqueness audit across the star schema — per
    table: rows, distinct keys, duplicated keys, rows carried by dups,
    and the is_unique verdict. The first gate a lakehouse runs after
    every ingest (the reference's gold expectations check exactly this
    for its dims/fact — gold_expectations.py PK suite), here as ONE
    driver-facing report over five tables.

    Scale: per table one distinct-count aggregate pair (partial+final);
    the union is 5 rows. Key-distinct at 100 TB is the one genuinely
    expensive profile op — swap in approx_count_distinct (the
    q_table_stats_approx pattern) when exactness isn't required."""
    from pyspark.sql import functions as F

    specs = [
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey||l_linenumber"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
        ("events", "event_id"),
    ]
    outs = []
    for table, key in specs:
        df = read_table(spark, sf_dir, table)
        if "||" in key:
            k = composite_pk_expr(key.split("||"))
        else:
            k = F.col(key)
        per_key = df.groupBy(k.alias("k")).agg(
            F.count("*").cast("bigint").alias("c")
        )
        outs.append(
            per_key.agg(
                F.lit(table).alias("table_name"),
                F.lit(key).alias("pk"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count("*").cast("bigint").alias("n_distinct_keys"),
                F.sum((F.col("c") > 1).cast("int"))
                .cast("bigint")
                .alias("n_dup_keys"),
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("n_rows_in_dups"),
            ).select(
                "*",
                (F.col("n_dup_keys") == 0).alias("is_unique"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


Q_PK_AUDIT_ORACLE = """
WITH ks AS (
  SELECT 'orders' AS table_name, 'o_orderkey' AS pk,
         CAST(o_orderkey AS VARCHAR) AS k FROM orders
  UNION ALL
  SELECT 'lineitem', 'l_orderkey||l_linenumber',
         coalesce(CAST(l_orderkey AS VARCHAR), chr(30) || 'NULL')
           || chr(31)
           || coalesce(CAST(l_linenumber AS VARCHAR), chr(30) || 'NULL')
  FROM lineitem
  UNION ALL
  SELECT 'customer', 'c_custkey', CAST(c_custkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'part', 'p_partkey', CAST(p_partkey AS VARCHAR) FROM part
  UNION ALL
  SELECT 'events', 'event_id', CAST(event_id AS VARCHAR) FROM events
), per_key AS (
  SELECT table_name, pk, k, CAST(count(*) AS BIGINT) AS c
  FROM ks GROUP BY 1, 2, 3
)
SELECT table_name, pk,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_keys,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_rows_in_dups,
       sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0 AS is_unique
FROM per_key GROUP BY 1, 2
"""
