"""Traced mode: spans around calls into the engine's layers, plus
Spark's own counters, collected per op.

Nothing in the engine package is edited. `Tracer.install` rebinds the
layers' public functions (in every package module that holds a
reference to them) to wrappers that record a span per call. The
benchmark adds the spans it owns itself (`op`, `queries.build`,
`engine.sql`, `exec.collect`), and `catalyst.*` spans are read from
the collected DataFrame's `QueryPlanningTracker`. Spans stay in memory
and are written to a side file when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JError

PKG = "incubator_impala_spark"

# (module, function, span name) for the layers the benchmark traces;
# operators' public functions are added by `install`.
LAYER_FUNCS = [
    ("session", "get_spark", "session.get_spark"),
    ("session", "configure_session", "session.configure"),
    ("sources.tables", "load_table", "sources.load_table"),
    ("sources.tables", "register_tables", "sources.register"),
    ("sources.tpcds", "register_tpcds", "sources.register"),
    ("dialect", "translate", "dialect.translate"),
]
CATALYST_PHASES = ("analysis", "optimization", "planning")
# Physical operators that run Python workers (pandas / Arrow UDFs).
PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")


def _merged_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self):
        # span: [id, parent id, name, op id, start, end]
        self.spans: list[list] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._epoch_offset = time.time() - time.perf_counter()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = [len(self.spans), stack[-1] if stack else None, name,
               self.op_id, time.perf_counter(), None]
        self.spans.append(rec)
        stack.append(rec[0])
        try:
            yield rec
        finally:
            rec[5] = time.perf_counter()
            stack.pop()

    def add_span(self, name: str, start: float, end: float,
                 op_root: list) -> None:
        """Attach a span measured elsewhere (Catalyst phases) to the
        innermost span of the op whose interval contains it."""
        parent, tol = op_root, 0.002
        for s in self.spans[op_root[0]:]:
            if (s[3] == op_root[3] and s[5] is not None
                    and s[4] - tol <= start and end <= s[5] + tol
                    and s[5] - s[4] <= parent[5] - parent[4]):
                parent = s
        self.spans.append([len(self.spans), parent[0], name, op_root[3],
                           start, end])

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- installation --------------------------------------------------
    def install(self) -> None:
        import importlib
        import pkgutil

        targets = []
        for mod_name, fn_name, span_name in LAYER_FUNCS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            targets.append((getattr(mod, fn_name), span_name))
        ops_pkg = importlib.import_module(f"{PKG}.operators")
        for info in pkgutil.iter_modules(ops_pkg.__path__):
            mod = importlib.import_module(f"{PKG}.operators.{info.name}")
            for fn_name, fn in sorted(vars(mod).items()):
                if (fn_name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                        or hasattr(fn, "evalType")):
                    continue
                targets.append((fn, f"operators.{fn_name}"))
        for orig, span_name in targets:
            wrapped = self.wrap(orig, span_name)
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not mod_name.startswith(PKG):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapped)

    # -- Catalyst ------------------------------------------------------
    def add_catalyst_spans(self, df, op_root: list) -> None:
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Py4JError:  # a plan without a tracker
            return
        for phase in CATALYST_PHASES:
            opt = phases.get(phase)
            if not opt.isDefined():
                continue
            summ = opt.get()
            start = summ.startTimeMs() / 1000.0 - self._epoch_offset
            end = summ.endTimeMs() / 1000.0 - self._epoch_offset
            self.add_span(f"catalyst.{phase}", start, end, op_root)

    # -- summaries -----------------------------------------------------
    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Total self time per span name over the given ops."""
        children = defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                children[s[1]].append((s[4], s[5]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s[3] in op_ids and s[5] is not None:
                out[s[2]] += (s[5] - s[4]) - _merged_length(children[s[0]])
        return out

    def counts(self, op_ids: set[int]) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s[3] in op_ids:
                out[s[2]] += 1
        return out

    def setup_total(self, name: str) -> float:
        return sum(s[5] - s[4] for s in self.spans
                   if s[3] is None and s[2] == name and s[5] is not None)

    def dump(self, path: str, extra: dict) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra,
                       "span_fields": ["id", "parent", "name", "op",
                                       "start_s", "end_s"],
                       "spans": self.spans}, fh)


# -- Spark-side counters ------------------------------------------------
class SparkCounters:
    """Per-op job/stage/task counts (job group + statusTracker), JVM GC
    time, and SQLMetrics of the op's final physical plan."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._gc_beans = jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()

    def gc_ms(self) -> int:
        return sum(self._gc_beans.get(i).getCollectionTime()
                   for i in range(self._gc_beans.size()))

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, group: str) -> dict[str, int]:
        # statusTracker is fed by the async listener bus: drain it so
        # the counts are final (and repeat exactly) before reading
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = self.job_ids(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                sinfo = st.getStageInfo(sid)
                if sinfo and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def plan_stats(self, df) -> dict[str, float]:
        out = defaultdict(float)
        try:
            root = df._jdf.queryExecution().executedPlan()
        except Py4JError:  # no physical plan
            return out
        max_join = 0.0
        for cls, node in _walk(root):
            if cls == "ReusedExchangeExec":
                out["reused_exchanges"] += 1
                continue
            if cls.startswith("Broadcast") and "Join" in cls:
                out["broadcast_joins"] += 1
            is_py = any(m in cls for m in PYTHON_NODE_MARKERS)
            out["python_nodes"] += is_py
            metrics = _metrics(node)
            out["spill_bytes"] += metrics.get("spillSize", 0)
            if cls == "ShuffleExchangeExec":
                out["shuffle_write_bytes"] += metrics.get(
                    "shuffleBytesWritten", 0)
                out["shuffle_read_bytes"] += (
                    metrics.get("localBytesRead", 0)
                    + metrics.get("remoteBytesRead", 0))
            if "Join" in cls:
                max_join = max(max_join, metrics.get("numOutputRows", 0))
            if is_py:
                out["python_rows"] += metrics.get(
                    "pythonNumRowsReceived", metrics.get("numOutputRows", 0))
                out["python_bytes"] += (metrics.get("pythonDataSent", 0)
                                        + metrics.get("pythonDataReceived", 0))
        out["max_join_rows"] = max_join
        return out


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().value())
    return out


def _walk(node):
    cls = node.getClass().getSimpleName()
    yield cls, node
    if cls == "ReusedExchangeExec":
        return
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif cls == "CommandResultExec":
        kids = [node.commandPhysicalPlan()]
    else:
        kids = _seq(node.children()) + _seq(node.subqueries())
    for k in kids:
        yield from _walk(k)
