"""Compare benchmark result files: end to end, per layer and per op.

    python3 perfbench/diff.py BASE.json NEW.json
    python3 perfbench/diff.py --base b1.json b2.json b3.json --new n1.json n2.json n3.json

Each file is a result written by ``run.py`` (``perfbench/results/``).
With several files per side (runs with different seeds), each side is
summarised by its median and quartiles. A metric whose change is within
its side's own run-to-run spread (quartile distance over median), or
whose spread exceeds the bound ``BENCHMARK.json`` gives it, is printed
as ``unresolved`` rather than as a change. Per-layer metrics and the
per-op build/plan/sink split have no bound; they are printed with the
relative change and their spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def stats(values: list[float]) -> tuple[float, float]:
    """(median, quartile distance / median); the spread is 0 for one run."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def verdict(base: list[float], new: list[float], better: str, bound: float | None) -> str:
    b, bs = stats(base)
    n, ns = stats(new)
    if b == 0:
        return "same" if n == 0 else "new"
    if min(len(base), len(new)) < 2 and n != b:
        return "unresolved (one run, spread unknown)"
    rel = (n - b) / abs(b)
    worse = rel > 0 if better == "lower" else rel < 0
    spread = max(bs, ns)
    if bound is not None and spread > bound:
        return "unresolved (spread > bound)"
    if abs(rel) <= spread:
        return "unresolved (within spread)" if rel else "same"
    if bound is not None and worse and abs(rel) > bound:
        return "REGRESSION"
    return "worse" if worse else "better"


def row(name: str, base, new, unit: str, better: str, bound=None) -> str:
    b, bs = stats(base)
    n, ns = stats(new)
    rel = (n - b) / abs(b) if b else float("nan")
    return (f"  {name:<36} {b:>12.5g} -> {n:<12.5g} {unit:<7} {rel:+8.1%}"
            f"  spread {bs:5.1%}/{ns:5.1%}  {verdict(base, new, better, bound)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="*")
    ap.add_argument("--base", nargs="+")
    ap.add_argument("--new", nargs="+")
    ap.add_argument("--ops", action="store_true", help="also print the per-op split")
    args = ap.parse_args(argv)
    if args.base and args.new:
        base, new = load(args.base), load(args.new)
    elif len(args.files) == 2:
        base, new = load(args.files[:1]), load(args.files[1:])
    else:
        ap.error("give BASE NEW, or --base ... --new ...")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in new})
    for w in workloads:
        bw = [r for r in base if r["workload"] == w]
        nw = [r for r in new if r["workload"] == w]
        print(f"== {w}: {len(bw)} base run(s), {len(nw)} new run(s)")
        gated = {m["name"]: m for m in spec["end_to_end"]}
        for k in bw[0]["end_to_end"]:
            m = gated.get(k, {"better": "higher" if k == "rows_per_s" else "lower", "bound": None})
            print(row(k if k in gated else f"{k} (no bound)", [r["end_to_end"][k]["value"] for r in bw],
                      [r["end_to_end"][k]["value"] for r in nw], bw[0]["end_to_end"][k]["unit"],
                      m["better"], m["bound"]))
        if all("write_amp" in r for r in bw + nw):
            print(row("write_amp (no bound)", [r["write_amp"] for r in bw],
                      [r["write_amp"] for r in nw], "ratio", "lower"))
        if all(r["op_tail"]["value"] is not None for r in bw + nw):
            print(row("op_tail_s (no bound)", [r["op_tail"]["value"] for r in bw],
                      [r["op_tail"]["value"] for r in nw], "s", "lower"))
            tails = {(r["op_tail"]["percentile"], r["op_tail"]["n"]) for r in bw + nw}
            if len(tails) > 1:
                print(f"  note: op_tail_s percentiles differ between runs: {sorted(tails)}")
        if all("bench.box_spin_ms" in r for r in bw + nw):
            print(row("bench.box_spin_ms (box speed)", [r["bench.box_spin_ms"] for r in bw],
                      [r["bench.box_spin_ms"] for r in nw], "ms", "lower"))
        errs = [(r["failed"], r["attempted"]) for r in bw], [(r["failed"], r["attempted"]) for r in nw]
        print(f"  failed/attempted: base {errs[0]} new {errs[1]}")
        bl = [r["per_layer"] for r in bw if r.get("per_layer")]
        nl = [r["per_layer"] for r in nw if r.get("per_layer")]
        if bl and nl:
            print("  per layer (traced runs):")
            for m in spec["per_layer"]:
                k = m["name"]
                print(row(k, [d[k] for d in bl], [d[k] for d in nl], m["unit"], m["better"]))
        if args.ops:
            key = "per_op_traced" if bl and nl else "per_op"
            ops = sorted(set().union(*(r[key] for r in bw)) & set().union(*(r[key] for r in nw)))
            print(f"  per op ({key}):")
            for op in ops:
                for part in ("latency_s", "build_s", "plan_ms", "sink_s"):
                    b = [r[key][op][part] for r in bw if part in r[key].get(op, {})]
                    n = [r[key][op][part] for r in nw if part in r[key].get(op, {})]
                    if b and n:
                        print(row(f"{op}.{part}", b, n, "ms" if part == "plan_ms" else "s", "lower"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
