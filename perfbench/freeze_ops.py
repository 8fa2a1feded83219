"""Recompute and freeze the query workloads' op lists in workloads.json.

    python3 perfbench/freeze_ops.py

A query workload's ops are every k-th query (the k-th, 2k-th, ...) of
its modules, in the order ``queries()`` registers them, where a query's
module is the family module that defines its builder. The names are then
frozen in workloads.json so that later registry reorderings (the
``_PRIORITY`` rotation) do not change what the benchmark runs. Re-running
this script changes the benchmark; do it only in a change that redefines
the benchmark.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def select(queries: dict, modules: list[str], k: int) -> list[str]:
    names = [n for n, fn in queries.items() if fn.__module__.rsplit(".", 1)[-1] in modules]
    return names[k - 1 :: k]


def main() -> int:
    sys.path.insert(0, ROOT)
    from us_dot_flights_lakehouse_spark import queries as registry

    path = os.path.join(HERE, "workloads.json")
    with open(path) as fh:
        spec = json.load(fh)
    qs = registry.queries()
    for name, wl in spec["workloads"].items():
        if "modules" in wl:
            wl["ops"] = select(qs, wl["modules"], wl["k"])
            print(f"{name}: {len(wl['ops'])} ops")
    with open(path, "w") as fh:
        json.dump(spec, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
