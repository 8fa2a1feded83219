"""Engine side of the benchmark: one Spark session running one workload.

``run.py`` starts this file as a child process and reads the JSON it
writes to ``--result``. The process starts the session through the
engine's own ``session.get_spark``, imports the engine, runs one warm-up
op (the end of set-up), then:

1. query workloads: runs every op once, untimed, and compares its output
   with its DuckDB oracle, then makes one untimed warm-up pass;
2. runs whole passes over the ops in a closed loop until ``--seconds``
   have passed; with ``--trace 1`` passes alternate untraced/traced so
   the same run gives the tracing overhead;
3. medallion workload: checks the gold invariants of the first pass.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import sys
import time

from spans import SparkProbe, Tracer, catalyst_ms, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: medallion stage function in flights.pipeline -> StageResult name
STAGE_FNS = {
    "run_bronze": "bronze_ingest",
    "run_silver": "silver_transform",
    "run_dimensions": "build_dimensions",
    "run_fact": "fact_flights",
    "run_marts": "build_aggregates",
}
#: files smaller than this count as small files in ``sources.small_files``
SMALL_FILE_BYTES = 1 << 20


def force(df) -> None:
    """Execute the full plan without moving rows to the driver (as bench.py)."""
    df.write.format("noop").mode("overwrite").save()


def data_files(root: str) -> list[int]:
    """Sizes of the data files under ``root`` (no markers, no checksums)."""
    sizes = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                sizes.append(os.path.getsize(os.path.join(dirpath, f)))
    return sizes


class Session:
    """The Spark session, the engine modules and the workload's ops."""

    def __init__(self, args, spec: dict) -> None:
        self.args, self.spec = args, spec
        self.data = os.path.abspath(args.data)
        self.marks: dict[str, float] = {"start": args.spawned_at}

    # -- set-up ---------------------------------------------------------------

    def start(self) -> None:
        from us_dot_flights_lakehouse_spark.session import get_spark

        n = 1_000_000
        self.spark = get_spark(
            "perfbench",
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                # the status stores must keep every job/stage/execution of
                # a run, so counters are complete in traced passes
                "spark.ui.retainedJobs": str(n),
                "spark.ui.retainedStages": str(n),
                "spark.sql.ui.retainedExecutions": str(n),
            },
        )
        self.marks["session"] = time.time()
        if self.args.workload == "medallion_write":
            from us_dot_flights_lakehouse_spark.flights import pipeline
            from us_dot_flights_lakehouse_spark.sources import readers

            self.pipeline, self.readers = pipeline, readers
        else:
            from us_dot_flights_lakehouse_spark import queries as registry

            qs = registry.queries()
            self.registry = registry
            self.ops = [(name, qs[name]) for name in self.spec["ops"]]
        self.marks["import"] = time.time()
        self.warmup()
        self.marks["warm"] = time.time()

    def warmup(self) -> None:
        if self.args.workload == "medallion_write":
            raw, airports, carriers = self.inputs()
            self.pipeline.run_bronze(
                self.spark, raw, self.pipeline.LakehousePaths(self.lake("warmup")),
                airports, carriers,
            )
        else:
            force(self.ops[0][1](self.spark, self.data))
            self.spark.catalog.clearCache()
            gc.collect()

    def lake(self, name: str) -> str:
        return os.path.join(os.environ["TMPDIR"], "lake", name)

    def inputs(self):
        """The raw flights feed (a parquet scan) and the trimmed lookups.

        The lookups reach the pipeline as in-memory frames: with
        file-backed lookups ``run_bronze`` fails analysis, because its
        lineage column (``input_file_name()``) then sees three file
        sources (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION)."""
        import pyarrow.csv as pacsv

        raw = self.spark.read.parquet(os.path.join(self.data, "raw.parquet"))
        lookups = []
        for name in ("airport_lookup", "carrier_lookup"):
            t = pacsv.read_csv(os.path.join(self.data, f"{name}.csv"))
            df = self.spark.createDataFrame(
                list(zip(t["Code"].to_pylist(), t["Description"].to_pylist())),
                "Code string, Description string",
            )
            lookups.append(self.readers.lookup_scan(df, "Code", "Description"))
        return raw, *lookups


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def check_queries(s: Session, order) -> dict:
    """Run each op once and compare its order-insensitive value form with
    its DuckDB oracle over the same files (tools/check_oracle.py
    normalisation and degenerate-column guard). Every frozen op has an
    oracle; one that is missing here (``oracle_sql`` drops a data-dependent
    oracle whose builder raises) fails the check."""
    import duckdb
    from check_oracle import allowed_null_cols, degenerate_cols, norm_rows

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = s.data
    oracles = s.registry.oracle_sql()
    con = duckdb.connect()
    for t in sorted(f[: -len(".parquet")] for f in os.listdir(s.data) if f.endswith(".parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{s.data}/{t}.parquet'")
    out = {}
    for name, fn in order:
        try:
            sdf = fn(s.spark, s.data)
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001 - a failing op is a finding, not a crash
            out[name] = f"spark error: {type(exc).__name__}: {exc}"[:300]
            continue
        finally:
            s.spark.catalog.clearCache()
            gc.collect()
        if name not in oracles:
            out[name] = "no oracle (missing, or its builder raised on these inputs)"
            continue
        try:
            res = con.execute(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as exc:  # noqa: BLE001 - reported as a failed check
            out[name] = f"duckdb error: {type(exc).__name__}: {exc}"[:300]
            continue
        degenerate = degenerate_cols(cols, rows, allowed_null_cols(name, s.data))
        if degenerate:
            out[name] = f"degenerate all-NULL/NaN column(s): {degenerate}"
        elif sorted(cols) != sorted(o_cols):
            out[name] = f"columns {sorted(cols)} != {sorted(o_cols)}"
        elif len(rows) != len(o_rows):
            out[name] = f"rows {len(rows)} != {len(o_rows)}"
        elif norm_rows(cols, rows) != norm_rows(o_cols, o_rows):
            out[name] = "value mismatch"
        else:
            out[name] = "ok"
    con.close()
    return out


def check_gold(s: Session, root: str, stages: list) -> dict:
    """Gold invariants of one finished medallion pass."""
    from pyspark.sql import functions as F

    spark, paths = s.spark, s.pipeline.LakehousePaths(root)
    out = {"stages": "ok" if all(r.status == "ok" for r in stages) else
           "; ".join(f"{r.name}: {r.status} {r.error or ''}"[:200] for r in stages if r.status != "ok")}
    if out["stages"] != "ok":
        return out
    silver = spark.read.parquet(paths.silver).count()
    fact = spark.read.parquet(paths.gold("fact_flights"))
    n_fact, n_cancel = fact.agg(F.count("*"), F.sum(F.col("IS_CANCELLED").cast("long"))).collect()[0]
    n_raw = spark.read.parquet(os.path.join(s.data, "raw.parquet")).count()
    out["fact_rows_equal_silver_rows"] = "ok" if n_fact == silver == n_raw else f"fact {n_fact} silver {silver} raw {n_raw}"
    airline = spark.read.parquet(paths.gold("daily_airline_performance")).agg(
        F.sum("TOTAL_FLIGHTS"), F.sum("CANCELLED_FLIGHTS")).collect()[0]
    airport = spark.read.parquet(paths.gold("daily_airport_performance")).agg(F.sum("DEPARTURES")).collect()[0][0]
    route = spark.read.parquet(paths.gold("route_performance")).agg(F.sum("TOTAL_FLIGHTS")).collect()[0][0]
    marts = (airline[0], airport, route)
    out["marts_reconcile_with_fact"] = (
        "ok" if marts == (n_fact,) * 3 and airline[1] == n_cancel
        else f"fact {n_fact}/{n_cancel} marts {marts}/{airline[1]}"
    )
    for dim, pk in s.pipeline._DIM_PKS.items():
        df = spark.read.parquet(paths.gold(dim))
        n, distinct, nulls = df.agg(
            F.count("*"), F.countDistinct(pk), F.sum(F.col(pk).isNull().cast("int"))
        ).collect()[0]
        out[f"{dim}_pk_unique"] = "ok" if n == distinct and not nulls and n > 0 else f"rows {n} distinct {distinct} nulls {nulls}"
    return out


# ---------------------------------------------------------------------------
# timed passes
# ---------------------------------------------------------------------------


class Runner:
    def __init__(self, s: Session, tracer, probe) -> None:
        self.s, self.tracer, self.probe = s, tracer, probe
        self.passes: list[dict] = []

    def span(self, traced: bool, name: str, **attrs):
        return self.tracer.span(name, **attrs) if traced else contextlib.nullcontext({})

    def install(self) -> None:
        t, s = self.tracer, self.s
        from us_dot_flights_lakehouse_spark.quality.checks import QualitySuite
        from us_dot_flights_lakehouse_spark.sources import readers

        if s.args.workload == "medallion_write":
            from us_dot_flights_lakehouse_spark.flights import marts, star

            t.wrap_pipeline(s.pipeline, STAGE_FNS, QualitySuite)
            t.wrap_query_modules([marts, star])
        else:
            mods = {sys.modules[fn.__module__] for _, fn in s.ops}
            t.wrap_query_modules(sorted(mods, key=lambda m: m.__name__))
            t.wrap_quality(QualitySuite)
        t.wrap_memos(readers)
        self.memo0 = (len(readers._SCHEMA_MEMO), len(readers._SCAN_PARTS_MEMO))

    def run_pass(self, order, traced: bool, lake_root: str | None = None) -> dict:
        s, t, probe = self.s, self.tracer, self.probe
        first_span = len(t.spans)
        t.counts = {}
        if traced:
            self.install()
            probe.drain()
            marks0 = probe.marks()
        cpu0, jvm0 = os.times(), probe.jvm_cpu_s()
        t0 = time.perf_counter()
        if s.args.workload == "medallion_write":
            samples, extra = self.medallion_pass(lake_root, traced)
        else:
            samples, extra = self.query_pass(order, traced)
        wall = time.perf_counter() - t0
        cpu1, jvm1 = os.times(), probe.jvm_cpu_s()
        rec = {
            "traced": traced,
            "wall_s": wall,
            "ops": samples,
            "driver.py_cpu_s": (cpu1.user + cpu1.system) - (cpu0.user + cpu0.system),
            "driver.jvm_cpu_s": jvm1 - jvm0,
            **extra,
        }
        if traced:
            t.uninstall()
            probe.drain()
            marks1 = probe.marks()
            rec["spark"] = probe.job_counters(marks0[0], marks1[0])
            rec["spark"].update(probe.sql_counters(marks0[1], marks1[1]))
            for seg in ("build", "sink"):
                rec[f"jobs_{seg}"] = sum(op.get(f"jobs_{seg}", 0) for op in samples)
            from us_dot_flights_lakehouse_spark.sources import readers

            rec["memo"] = {
                "schema_memo.calls": t.counts.get("schema_memo.calls", 0),
                "schema_memo.misses": len(readers._SCHEMA_MEMO) - self.memo0[0],
                "scan_parts_memo.calls": t.counts.get("scan_parts_memo.calls", 0),
                "scan_parts_memo.misses": len(readers._SCAN_PARTS_MEMO) - self.memo0[1],
            }
            rec["counts"] = dict(t.counts)
            rec["span_range"] = (first_span, len(t.spans))
        self.passes.append(rec)
        return rec

    def query_pass(self, order, traced: bool):
        s, t, probe = self.s, self.tracer, self.probe
        samples = []
        for op_id, (name, fn) in enumerate(order):
            t.op_id = op_id
            sample = {"op": name, "ok": True}
            with self.span(traced, "op", op=name):
                j0 = probe.marks()[0] if traced else 0
                a = time.perf_counter()
                try:
                    with self.span(traced, "queries.build"):
                        df = fn(s.spark, s.data)
                    b = time.perf_counter()
                    j1 = probe.marks()[0] if traced else 0
                    if traced:
                        with self.span(traced, "plan.catalyst") as sp:
                            sp["attrs"]["ms"] = catalyst_ms(df)
                        sample["plan_ms"] = sp["attrs"]["ms"]
                    c = time.perf_counter()
                    with self.span(traced, "exec.sink"):
                        force(df)
                    d = time.perf_counter()
                    sample.update(build_s=b - a, sink_s=d - c, latency_s=d - a)
                    if traced:
                        sample.update(jobs_build=j1 - j0, jobs_sink=probe.marks()[0] - j1)
                except Exception as exc:  # noqa: BLE001 - failures are counted, never fatal
                    sample.update(ok=False, latency_s=time.perf_counter() - a,
                                  error=f"{type(exc).__name__}: {exc}"[:300])
            s.spark.catalog.clearCache()
            gc.collect()
            samples.append(sample)
        t.op_id = None
        return samples, {}

    def medallion_pass(self, root: str, traced: bool):
        s = self.s
        raw, airports, carriers = s.inputs()
        self.tracer.op_id = 0
        with self.span(traced, "op", op="pipeline"):
            # no retries: a stage that fails once counts as a failed op
            results = s.pipeline.run_pipeline(s.spark, raw, root, airports, carriers, retries=0)
        self.tracer.op_id = None
        self.last_stages = results
        samples = [
            {"op": r.name, "ok": r.status == "ok", "latency_s": r.seconds,
             **({"error": r.error} if r.error else {})}
            for r in results
        ]
        sizes = {layer: data_files(os.path.join(root, layer)) for layer in ("bronze", "silver", "gold")}
        flat = [b for v in sizes.values() for b in v]
        return samples, {
            "bytes_written": sum(flat),
            "files_written": len(flat),
            "small_files": sum(1 for b in flat if b < SMALL_FILE_BYTES),
            "stage_s": {r["op"]: r["latency_s"] for r in samples},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"][args.workload]

    s = Session(args, spec)
    s.start()
    probe = SparkProbe(s.spark)
    result: dict = {"marks": s.marks}
    try:
        result.update(measure(s, probe, Tracer()))
    finally:
        result["peak_rss_mb"] = vm_hwm_mb() + vm_hwm_mb(probe.jvm_pid)
        with open(args.result, "w") as fh:
            json.dump(result, fh)
        s.spark.stop()
    return 0


def measure(s: Session, probe, tracer) -> dict:
    args = s.args
    rng = random.Random(args.seed)
    runner = Runner(s, tracer, probe)
    out: dict = {}
    medallion = args.workload == "medallion_write"
    if medallion:
        # one pipeline pass costs more than the whole query check, so the
        # first timed pass is also the one whose gold output is checked
        order = None
    else:
        order = list(s.ops)
        rng.shuffle(order)
        out["order"] = [n for n, _ in order]
        out["correctness"] = check_queries(s, order)
        # the first pass after the cold check still runs ~20% slower while
        # the JIT catches up; keep it out of the timed passes
        runner.run_pass(order, False)
        runner.passes.clear()
    s.marks["checked"] = time.time()
    # a query run always makes three passes, so each op's time is the
    # fastest of three samples whatever the box's speed (passes still get
    # faster as the JVM warms up, so a varying count would shift it); a
    # traced run needs an untraced pass after a traced one, because the
    # first pass is the coldest and would bias the overhead ratio
    min_passes = 3 if args.trace or not medallion else 1
    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        root = s.lake(f"pass{i}") if medallion else None
        runner.run_pass(order, traced, root)
        if i == 0 and medallion:
            stages = runner.last_stages
        elif root is not None:
            shutil.rmtree(root, ignore_errors=True)
        i += 1
        if time.perf_counter() >= deadline and i >= min_passes:
            break
    if medallion:
        out["correctness"] = check_gold(s, s.lake("pass0"), stages)
    out["passes"] = runner.passes
    if args.trace:
        out["spans"] = tracer.spans
        out["cores"] = probe.cores
    return out


if __name__ == "__main__":
    raise SystemExit(main())
