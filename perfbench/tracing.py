"""Tracing for the per-layer run.

Spans are recorded from the benchmark's own files, around its calls into
the program's public functions; Spark jobs are read back afterwards from
Spark's status store and attributed to the operation by job group and to
a program function by call site. Nothing here changes the program.

With tracing off every hook is a no-op, so the end-to-end run pays
nothing for it.
"""

from __future__ import annotations

import cProfile
import inspect
import json
import pstats
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Program modules whose functions a Spark job's call site is resolved to.
CALLSITE_MODULES = (
    "ed_clickhouse_spark.streaming.pipeline",
    "ed_clickhouse_spark.sources.writer",
    "ed_clickhouse_spark.sources.decode",
    "ed_clickhouse_spark.engine",
    "ed_clickhouse_spark.catalog",
    "ed_clickhouse_spark.operators.dedup",
    "ed_clickhouse_spark.operators.similarity",
    "ed_clickhouse_spark.operators.windows",
    "ed_clickhouse_spark.operators.text",
    "ed_clickhouse_spark.operators._cache",
)
_CALLSITE = re.compile(r"^(\w+) at (.+?):(\d+)$")
# the formatted plan's InsertIntoHadoopFsRelationCommand arguments line
_INSERT = re.compile(r"Arguments: ([a-z]+:\S+?), (?:true|false), ")


def _function_index() -> dict[str, list[tuple[int, int, str]]]:
    """file basename -> [(first line, last line, module.function)]."""
    import importlib

    index: dict[str, list[tuple[int, int, str]]] = defaultdict(list)
    for modname in CALLSITE_MODULES:
        mod = importlib.import_module(modname)
        short = modname.rsplit(".", 1)[-1]
        members = list(inspect.getmembers(mod, inspect.isfunction))
        for _, cls in inspect.getmembers(mod, inspect.isclass):
            if cls.__module__ == modname:
                members += inspect.getmembers(cls, inspect.isfunction)
        for name, fn in members:
            if getattr(fn, "__module__", None) != modname:
                continue
            try:
                lines, first = inspect.getsourcelines(fn)
            except (OSError, TypeError):
                continue
            index[mod.__file__.rsplit("/", 1)[-1]].append(
                (first, first + len(lines) - 1, f"{short}.{name}")
            )
    return index


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class Tracer:
    """Collects spans, Spark job records and layer counters for one run."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()
        self._op = None
        self._n_exec = 0
        self.jobs: list[dict] = []
        if enabled:
            self._fn_index = _function_index()

    def activate(self) -> None:
        """Switch Spark's Python UDF profiler on for a traced pass and
        off for an untraced one (the session conf is shared)."""
        if self.enabled:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block as a child of the innermost open span."""
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": self.now(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = self.now()

    # -- operations ------------------------------------------------------
    @contextmanager
    def operation(self, op_id: str, kind: str, **attrs):
        """One closed-loop operation: its own Spark job group, its own
        root span; jobs are harvested from the status store at the end."""
        if not self.enabled:
            yield attrs
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, f"{kind} {op_id}")
        self.spark.profile.clear()
        with self.span(kind, op=op_id, **attrs) as a:
            self._op = self.spans[-1]
            try:
                yield a
            finally:
                a["python_ms"] = self._python_ms()
                self._harvest(op_id, kind)
                sc.setJobGroup("perfbench-idle", "between operations")
                self._op = None

    def job_ids(self, op_id: str) -> set[int]:
        if not self.enabled:
            return set()
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(op_id))

    def jobs_so_far(self) -> int:
        """Spark jobs the current operation has launched up to now."""
        return len(self.job_ids(self._op["attrs"]["op"])) if self.enabled else 0

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a child of the current operation timed by the caller
        (``time.perf_counter()`` values)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": self._op["id"],
                               "name": name, "start": start - self._t0,
                               "end": end - self._t0, "attrs": {}})

    def _python_ms(self) -> float:
        """Time inside Python UDF/Arrow kernels, from Spark's UDF profiler."""
        results = self.spark.profile.profiler_collector._perf_profile_results
        return sum(st.total_tt for st in results.values()) * 1000.0

    def _callsite_fn(self, callsite: str, kind: str) -> str:
        """The program function a job's call site points into; for a call
        site PySpark could not resolve, the kind of operation."""
        m = _CALLSITE.match(callsite.strip())
        if not m or m.group(2) == "<unknown>":
            return f"op:{kind}"
        base = m.group(2).rsplit("/", 1)[-1]
        line = int(m.group(3))
        for first, last, fn in self._fn_index.get(base, ()):
            if first <= line <= last:
                return fn
        return f"{base}:{line}"

    def _write_targets(self) -> dict[int, str]:
        """job id -> writer function, for jobs of SQL executions that
        append parquet. PySpark leaves a DataFrameWriter job's call site
        unknown, so the write's target path tells ``append_events`` (event
        tables) from ``append_dlq`` (``_dlq``)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        count = store.executionsCount()
        execs = store.executionsList(self._n_exec, count - self._n_exec)
        self._n_exec = count
        out = {}
        for i in range(execs.size()):
            ex = execs.apply(i)
            m = _INSERT.search(ex.physicalPlanDescription() or "")
            if not m:
                continue
            fn = "writer.append_dlq" if m.group(1).endswith("/_dlq") else "writer.append_events"
            jobs = ex.jobs().keys().toList()
            for k in range(jobs.size()):
                out[int(jobs.apply(k))] = fn
        return out

    def _harvest(self, op_id: str, kind: str) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        writes = self._write_targets()
        for jid in sorted(self.job_ids(op_id)):
            job = store.job(jid)
            rec = {"op": op_id, "job": jid, "callsite": job.name(),
                   "fn": writes.get(jid) or self._callsite_fn(job.name(), kind),
                   "submit_ms": _opt_ms(job.submissionTime()),
                   "end_ms": _opt_ms(job.completionTime()),
                   "tasks": job.numTasks(), "stages": 0, "run_ms": 0.0,
                   "gc_ms": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "spill_bytes": 0}
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Exception:  # stage skipped (reused shuffle): never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["run_ms"] += st.executorRunTime()
                rec["gc_ms"] += st.jvmGcTime()
                rec["input_bytes"] += st.inputBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.jobs.append(rec)
            if rec["submit_ms"] is not None and rec["end_ms"] is not None:
                self.spans.append({
                    "id": len(self.spans), "parent": self._op["id"],
                    "name": f"job:{rec['fn']}",
                    "start": (rec["submit_ms"] / 1000.0) - self._epoch0,
                    "end": (rec["end_ms"] / 1000.0) - self._epoch0,
                    "attrs": {k: rec[k] for k in ("job", "callsite", "tasks", "stages")},
                })

    # -- per-query plan facts -------------------------------------------
    def phases(self, df) -> dict[str, float]:
        """Catalyst phase times (ms) from the DataFrame's QueryPlanningTracker."""
        if not self.enabled:
            return {}
        jphases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
        out = {}
        for name in ("parsing", "analysis", "optimization", "planning"):
            opt = jphases.get(name)
            if opt.isDefined():
                out[name] = float(opt.get().durationMs())
        return out

    def files_read(self, df) -> int:
        """Files the executed plan's scans read (``numFiles`` SQL metric)."""
        if not self.enabled:
            return 0
        return _scan_files(df._jdf.queryExecution().executedPlan())

    def pinned_bytes(self) -> int:
        """Bytes held by cached RDD blocks (memory + disk)."""
        if not self.enabled:
            return 0
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    @staticmethod
    def count_calls(fn, *args) -> int:
        """Python function calls made by ``fn(*args)`` (cProfile, exact)."""
        prof = cProfile.Profile()
        prof.enable()
        try:
            fn(*args)
        finally:
            prof.disable()
        return pstats.Stats(prof).total_calls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs}, f)


def _scan_files(node) -> int:
    """Sum ``numFiles`` over the scan nodes of a physical plan, looking
    through adaptive query stages."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _scan_files(node.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _scan_files(node.plan())
    total = 0
    metric = node.metrics().get("numFiles")
    if metric.isDefined():
        total += int(metric.get().value())
    kids = node.children()
    for k in range(kids.size()):
        total += _scan_files(kids.apply(k))
    return total
