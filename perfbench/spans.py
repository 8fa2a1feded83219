"""Benchmark-side tracing: spans around the calls into each engine layer,
plus Spark's own counters read from outside the package.

Nothing here edits the engine. The ``Tracer.wrap_*`` methods swap module
attributes for span-recording wrappers (``uninstall`` puts the originals back),
so the same process can alternate traced and untraced passes. Spark
counters come from the driver JVM over Py4J: the job-id counter of the
DAG scheduler, the application status store (jobs, stages), the SQL
status store (per-execution SQL metrics, including the Python-worker
ones) and ``QueryExecution.tracker()`` for Catalyst phase times.
"""

from __future__ import annotations

import functools
import inspect
import operator
import os
import re
import time
from contextlib import contextmanager

PKG = "us_dot_flights_lakehouse_spark"


def _layer(module: str) -> str | None:
    """Engine layer of a module name: its first package below ``PKG``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 2 and parts[0] == PKG else None


class _Wrapped:
    """Span-recording stand-in for a module-level engine function.

    Pickles as the original function, so a wrapped kernel that the engine
    hands to ``mapInPandas``/``udf`` reaches the Python workers unwrapped;
    ``__wrapped__`` keeps ``inspect.signature`` and ``typing.get_type_hints``
    (used by ``pandas_udf``) resolving against the original."""

    def __init__(self, tracer: "Tracer", name: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._name = name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.__wrapped__,),)


class Tracer:
    """In-memory span recorder. A span is ``{id, name, parent, op, start,
    end, attrs}``; spans are written out with the result when the run
    ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self.counts: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: int = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_query_modules(self, modules) -> None:
        """Wrap, in each given engine module (query families, the gold
        builders), the functions it binds from ``sources.readers``,
        ``llm.*`` and ``operators.*``, and the public
        functions of the ``llm``/``operators`` modules it binds whole
        (``from ..llm import dedup`` then ``dedup.minhash(...)``)."""
        done: set[int] = set()
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                if inspect.ismodule(obj) and _layer(obj.__name__) in ("llm", "operators"):
                    if id(obj) not in done:
                        done.add(id(obj))
                        for name, fn in list(vars(obj).items()):
                            if (inspect.isfunction(fn) and not name.startswith("_")
                                    and fn.__module__ == obj.__name__):
                                self._patch(obj, name, _Wrapped(self, f"{_layer(obj.__name__)}.{name}", fn))
                    continue
                if not inspect.isfunction(obj):
                    continue
                layer = _layer(obj.__module__ or "")
                if layer == "sources" and not (obj.__module__.endswith(".readers") and attr.startswith("read_")):
                    continue
                if layer in ("llm", "operators", "sources"):
                    self._patch(mod, attr, _Wrapped(self, f"{layer}.{attr}", obj))

    def wrap_memos(self, readers) -> None:
        """Count calls into the two memoised metadata probes of
        ``sources.readers``; the memo dicts' growth gives the misses."""
        for attr, key in (("_table_schema", "schema_memo"), ("_scan_parts", "scan_parts_memo")):
            orig = getattr(readers, attr)

            def counted(*a, _orig=orig, _key=key, **k):
                self.count(f"{_key}.calls")
                return _orig(*a, **k)

            self._patch(readers, attr, counted)

    def wrap_pipeline(self, pipeline, stages: dict[str, str], checks_cls) -> None:
        """Spans around the medallion stage functions, the partitioned
        writer the pipeline binds, and ``QualitySuite.run``/``validate``."""
        for fn_name, stage in stages.items():
            self._patch(pipeline, fn_name, _Wrapped(self, f"flights.{stage}", getattr(pipeline, fn_name)))
        self._patch(pipeline, "write_partitioned",
                    _Wrapped(self, "sources.write", pipeline.write_partitioned))
        self.wrap_quality(checks_cls)

    def wrap_quality(self, checks_cls) -> None:
        run, validate = checks_cls.run, checks_cls.validate

        def traced_run(suite, df):
            self.count("quality.checks_run", len(suite._checks))
            with self.span("quality.run"):
                return run(suite, df)

        def traced_validate(suite, df, *a, **k):
            with self.span("quality.validate"):
                return validate(suite, df, *a, **k)

        self._patch(checks_cls, "run", traced_run)
        self._patch(checks_cls, "validate", traced_validate)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer (the span name's prefix before the first dot):
    each span's duration minus what its child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + own
    return out


# ---------------------------------------------------------------------------
# Spark counters, read from outside the package
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_metric(text: str) -> float:
    """A SQL-metric display string as a number in base units (s, bytes).
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single-task ones read ``<value>``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9][0-9,.]*)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkProbe:
    """Py4J handles on the driver's scheduler and status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.cores = sc.defaultParallelism
        self._sc = sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    def marks(self) -> tuple[int, int]:
        """(next job id, SQL executions so far) — the bounds of a segment."""
        nxt = self._sc.dagScheduler().nextJobId()
        nxt = nxt if isinstance(nxt, int) else nxt.get()
        return nxt, int(self._sql_store.executionsCount())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def job_counters(self, first: int, last: int) -> dict[str, float]:
        """Stage-level totals over jobs ``first`` .. ``last - 1``."""
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_s", "shuffle_write_bytes",
             "spill_bytes", "gc_s", "scan_rows"), 0.0)
        seen: set[int] = set()
        for jid in range(first, last):
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 - job evicted or never registered
                continue
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_run_s"] += st.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["scan_rows"] += st.inputRecords()
        return out

    def sql_counters(self, first: int, last: int) -> dict[str, float]:
        """Python-worker SQL metrics summed over executions ``first`` ..
        ``last - 1`` (status-store order)."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        if last <= first:
            return out
        execs = self._sql_store.executionsList(first, last - first)
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._sql_store.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            seen: set[int] = set()
            for j in range(metrics.size()):
                pm = metrics.apply(j)
                key = _PY_METRICS.get(pm.name())
                acc = pm.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def catalyst_ms(df) -> float | None:
    """Analysis + optimisation + planning time of ``df``'s own
    QueryExecution, forcing its physical plan first. ``None`` when the
    plan cannot be built outside an action (e.g. a streaming frame)."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
    except Exception:  # noqa: BLE001 - plan forcing is best-effort tracing
        return None
    total, it = 0.0, phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
