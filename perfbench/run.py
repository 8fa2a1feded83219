"""Repository benchmark: seeded, closed-loop workloads over the engine.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15   # all three workloads

One client runs one op at a time (closed loop) against one local Spark
session (``local[nproc]``). Per run the harness:

1. generates the workload's inputs from ``--seed`` (``gen.py``; timed as
   ``bench.gen_s``, not part of set-up);
2. starts ``engine.py``; its set-up (process start -> session up, engine
   imported, one warm-up op done) is ``setup_s``;
3. the child checks every op's output, then runs whole passes
   over the ops until ``--seconds`` have passed and, for query workloads
   or with ``--trace 1``, at least three passes are done (traced and
   untraced passes alternate with ``--trace 1``);
4. prints a readable summary, writes the full result (per-op samples,
   spans, counters, input row/byte counts) to ``perfbench/results/`` and
   prints, as the last stdout line, ``{"correct", "attempted", "failed",
   "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
   per-layer ones (``--trace 1``).

Everything the run writes lives under ``perfbench/.work/<run>/`` (inputs,
Spark local dirs, temp files, lakehouse roots) and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
from spans import self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bi_relational", "llm_curation", "medallion_write")
#: a child that has not finished by then is killed and the run fails
CHILD_TIMEOUT_S = 170
STAGES = ("bronze_ingest", "silver_transform", "build_dimensions", "fact_flights", "build_aggregates")


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[dict]) -> dict:
    """Latency at the highest percentile with at least ten samples beyond
    it (``None`` with fewer than 11 samples). Failed ops sort above every
    success: they missed any latency limit."""
    lat = sorted(s["latency_s"] if s["ok"] else float("inf") for s in samples)
    n = len(lat)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    k = n - 11
    return {"value": lat[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


def spin_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a probe of the box's own
    speed, which drifts by tens of percent on a shared machine."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return (time.perf_counter() - t0) * 1000.0


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------


def _wait_group(pgid: int, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.05)
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process left in the child's group (JVM, Python workers)
    and wait until they are gone."""
    for sig, grace in ((signal.SIGTERM, 15), (signal.SIGKILL, 15)):
        if _wait_group(pgid, 0):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if _wait_group(pgid, grace):
            return


def run_engine(args, work: str, env: dict) -> dict:
    result = os.path.join(work, f"engine-{time.time_ns()}.json")
    spawned = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", args.workload, "--data", os.path.join(work, "data"),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--result", result,
        "--spawned-at", repr(spawned),
    ]
    log = open(os.path.join(work, "engine.log"), "ab")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
        log.close()
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "engine.log"), "rb") as fh:
            sys.stderr.write(fh.read()[-4000:].decode(errors="replace"))
        raise RuntimeError(f"engine child failed (exit {code})")
    with open(result) as fh:
        out = json.load(fh)
    out["setup_s"] = out["marks"]["warm"] - spawned
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _outer_time(spans: list[dict], prefix: str) -> float:
    """Inclusive time of the spans named ``prefix...`` that are not nested
    in another such span."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and not by_id[p]["name"].startswith(prefix):
            p = by_id[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def pass_layers(rec: dict, spans: list[dict], cores: int, workload: str, raw_bytes: int) -> dict:
    """Per-layer figures of one traced pass."""
    sp = rec["spark"]
    ops = rec["ops"]
    wall = rec["wall_s"]
    lo, hi = rec["span_range"]
    mine = spans[lo:hi]
    memo = rec["memo"]

    def hit_ratio(key):
        calls = memo[f"{key}.calls"]
        return 1.0 - memo[f"{key}.misses"] / calls if calls else 0.0

    build = sum(o.get("build_s", 0.0) for o in ops)
    out = {
        "queries.build_s": build,
        "queries.build_share": build / wall,
        "queries.eager_jobs": rec["jobs_build"],
        "plan.catalyst_ms": sum(o.get("plan_ms") or 0.0 for o in ops),
        "exec.sink_s": sum(o.get("sink_s", 0.0) for o in ops),
        "exec.jobs": rec["jobs_sink"] if workload != "medallion_write" else sp["jobs"],
        "exec.stages": sp["stages"],
        "exec.tasks": sp["tasks"],
        "exec.task_run_s": sp["task_run_s"],
        "exec.slot_util": sp["task_run_s"] / (wall * cores),
        "exec.shuffle_write_bytes": sp["shuffle_write_bytes"],
        "exec.spill_bytes": sp["spill_bytes"],
        "exec.gc_s": sp["gc_s"],
        "exec.scan_rows": sp["scan_rows"],
        "python.run_s": sp["python.run_s"],
        "python.init_s": sp["python.init_s"],
        "python.bytes_sent": sp["python.bytes_sent"],
        "python.bytes_returned": sp["python.bytes_returned"],
        "driver.py_cpu_s": rec["driver.py_cpu_s"],
        "driver.jvm_cpu_s": rec["driver.jvm_cpu_s"],
        "llm.build_s": _outer_time(mine, "llm."),
        "operators.build_s": _outer_time(mine, "operators."),
        "sources.read_table_calls": sum(1 for s in mine if s["name"].startswith("sources.read_")),
        "sources.schema_memo_hit_ratio": hit_ratio("schema_memo"),
        "sources.scan_parts_memo_hit_ratio": hit_ratio("scan_parts_memo"),
        "sources.write_s": _outer_time(mine, "sources.write"),
        "sources.bytes_written": rec.get("bytes_written", 0),
        "sources.files_written": rec.get("files_written", 0),
        "sources.small_files": rec.get("small_files", 0),
        "sources.write_amp": rec.get("bytes_written", 0) / raw_bytes if raw_bytes else 0.0,
        "quality.validate_s": _outer_time(mine, "quality."),
        "quality.checks_run": rec["counts"].get("quality.checks_run", 0),
    }
    stage_s = rec.get("stage_s", {})
    for st in STAGES:
        out[f"flights.{st}_s"] = stage_s.get(st, 0.0)
    return out


def pass_time(passes: list[dict]) -> float:
    """Time of one pass: the sum over ops of each op's fastest latency in
    ``passes`` (a failed sample counts with the time it took to fail).

    The box is shared and a stall on it only ever adds time, so the
    fastest of an op's samples is the one stalls touched least; a median
    keeps a slowed sample whenever two of the three were slowed."""
    acc: dict[str, float] = {}
    for p in passes:
        for o in p["ops"]:
            acc[o["op"]] = min(acc.get(o["op"], float("inf")), o["latency_s"])
    return sum(acc.values())


def per_op(passes: list[dict]) -> dict:
    """Median latency and build/plan/sink split of each op."""
    acc: dict[str, dict[str, list]] = {}
    for p in passes:
        for o in p["ops"]:
            d = acc.setdefault(o["op"], {})
            for k in ("latency_s", "build_s", "sink_s", "plan_ms"):
                if o.get(k) is not None and o["ok"]:
                    d.setdefault(k, []).append(o[k])
    return {op: {k: median(v) for k, v in d.items()} for op, d in acc.items()}


def summarize(args, gen_stats, gen_s, run) -> dict:
    passes = run["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    attempted = [o for p in plain for o in p["ops"]]
    failed = sum(1 for o in attempted if not o["ok"])
    # a medallion pass is a pipeline run in a fresh lakehouse root; when a
    # second one fits in the window it runs warm (~35% faster), which is
    # another quantity, so the end-to-end figures use the first pass only
    timed = plain[:1] if args.workload == "medallion_write" else plain
    samples = [o for p in timed for o in p["ops"]]
    wall = pass_time(timed)
    t = tail(samples)
    ok_lat = [o["latency_s"] for o in samples if o["ok"]]
    checks = run["correctness"]
    e2e = {
        "setup_s": (run["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "peak_rss_mb": (run["peak_rss_mb"], "MiB"),
    }
    raw_bytes = 0
    if args.workload == "medallion_write":
        raw_bytes = gen_stats["raw"]["bytes"]
        e2e["rows_per_s"] = (gen_stats["raw"]["rows"] / wall, "rows/s")
    else:
        e2e["op_p50_s"] = (median(ok_lat), "s")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "inputs": gen_stats,
        "bench.gen_s": gen_s,
        "setup_marks": run["marks"],
        "correctness": checks,
        "correct": failed == 0 and all(v == "ok" for v in checks.values()),
        "attempted": len(attempted),
        "failed": failed,
        "error_rate": failed / len(attempted) if attempted else 0.0,
        "op_tail": t,
        "passes_untraced": len(plain),
        "passes_traced": len(traced),
        "pass_walls_s": [p["wall_s"] for p in passes],
        "pass_op_latencies_s": [{o["op"]: o["latency_s"] for o in p["ops"]} for p in timed],
        "per_op": per_op(timed),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "order": run.get("order"),
        "errors": {o["op"]: o["error"] for o in attempted if not o["ok"]},
    }
    if args.workload == "medallion_write":
        detail["write_amp"] = timed[0]["bytes_written"] / raw_bytes
    if traced:
        spans, cores = run["spans"], run["cores"]
        layers = [pass_layers(p, spans, cores, args.workload, raw_bytes) for p in traced]
        keys = layers[0].keys()
        lay = {k: median(d[k] for d in layers) for k in keys}
        marks = run["marks"]
        lay["session.start_s"] = marks["session"] - marks["start"]
        lay["session.warmup_s"] = marks["warm"] - marks["import"]
        lay["bench.trace_overhead"] = (
            pass_time(traced) / pass_time(plain[1:]) - 1.0)
        lay["driver.peak_rss_mb"] = run["peak_rss_mb"]
        lay["bench.gen_s"] = gen_s
        lay["bench.error_rate"] = detail["error_rate"]
        detail["per_layer"] = lay
        detail["per_op_traced"] = per_op(traced)
        mine = [s for p in traced for s in spans[p["span_range"][0]:p["span_range"][1]]]
        detail["self_time_s"] = {k: v / len(traced) for k, v in self_times(mine).items()}
        detail["spark_per_pass"] = [p["spark"] for p in traced]
        detail["spans"] = spans
    return detail


def last_line(detail: dict, spec_metrics: dict) -> dict:
    if detail["trace"]:
        names = [m["name"] for m in spec_metrics["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec_metrics["per_layer"]}
        metrics = {n: {"value": detail["per_layer"][n], "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: detail["end_to_end"][m["name"]] for m in spec_metrics["end_to_end"]}
    return {
        "correct": detail["correct"],
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": metrics,
    }


def print_summary(d: dict, out=sys.stdout) -> None:
    e = d["end_to_end"]
    print(f"== {d['workload']} seed={d['seed']} cores={d['cores']} "
          f"passes={d['passes_untraced']}+{d['passes_traced']}traced correct={d['correct']}", file=out)
    for k, v in e.items():
        print(f"  {k:<14} {v['value']:.6g} {v['unit']}", file=out)
    t = d["op_tail"]
    if t["value"] is not None:
        print(f"  op_tail_s      {t['value']:.6g} s (p{t['percentile']} of n={t['n']} op samples)", file=out)
    else:
        print(f"  op_tail_s      undefined: n={t['n']} op samples, fewer than 11", file=out)
    print(f"  error_rate     {d['error_rate']:.6g} ({d['failed']}/{d['attempted']})", file=out)
    if "write_amp" in d:
        print(f"  write_amp      {d['write_amp']:.6g} bytes written / raw input byte", file=out)
    bad = {k: v for k, v in d["correctness"].items() if v != "ok"}
    print(f"  correctness    {len(d['correctness']) - len(bad)}/{len(d['correctness'])} ok"
          + (f"; failing: {bad}" if bad else ""), file=out)
    if d.get("per_layer"):
        for k, v in d["per_layer"].items():
            print(f"  {k:<36} {v:.6g}", file=out)


def run_one(args, spec: dict) -> dict:
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "local"):
        os.makedirs(os.path.join(work, d))
    try:
        t0 = time.perf_counter()
        gen_stats = gen.generate(args.workload, args.seed, os.path.join(work, "data"), spec)
        gen_s = time.perf_counter() - t0
        env = dict(os.environ)
        cores = str(len(os.sched_getaffinity(0)))
        tmp = os.path.join(work, "tmp")
        # HotSpot's perf-data file ignores java.io.tmpdir; keep it in memory
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
        env.update(
            PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
            SPARK_GRAFT_CPUS=cores,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            # both JVMs spark-submit starts (launcher, driver) keep their
            # temp files inside the run directory too
            SPARK_LAUNCHER_OPTS=f"{env.get('SPARK_LAUNCHER_OPTS', '')} {java_opts}".strip(),
            SPARK_SUBMIT_OPTS=f"{env.get('SPARK_SUBMIT_OPTS', '')} {java_opts}".strip(),
        )
        spins = [spin_ms()]
        run = run_engine(args, work, env)
        spins.append(spin_ms())
        detail = summarize(args, gen_stats, gen_s, run)
        detail["bench.box_spin_ms"] = median(spins)
        if args.trace:
            detail["per_layer"]["bench.box_spin_ms"] = detail["bench.box_spin_ms"]
        return detail
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="result file (default perfbench/results/<workload>-s<seed>-t<trace>.json)")
    args = ap.parse_args(argv)
    pkg = os.path.join(ROOT, "us_dot_flights_lakehouse_spark", "__init__.py")
    oracle = os.path.join(ROOT, "tools", "check_oracle.py")
    if not (os.path.exists(pkg) and os.path.exists(oracle)):
        print(f"error: engine sources not found next to {HERE} "
              "(run from a checkout of the repository)", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        wl = json.load(fh)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench_spec = json.load(fh)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        sub = argparse.Namespace(**{**vars(args), "workload": name})
        detail = run_one(sub, wl[name])
        out = args.out if args.out and len(names) == 1 else os.path.join(
            HERE, "results", f"{name}-s{args.seed}-t{args.trace}.json")
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as fh:
            json.dump(detail, fh, indent=1, default=float)
        print_summary(detail)
        print(f"  result file    {os.path.relpath(out)}")
        results.append(last_line(detail, bench_spec))
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()},
        }))
    return 0


def _terminate(signum, frame):
    # unwind through the ``finally`` blocks that stop the engine child's
    # process group and remove the run directory
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    raise SystemExit(main())
