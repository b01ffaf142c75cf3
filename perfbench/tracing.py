"""Tracing for the benchmark's traced run (``--trace 1``).

Two kinds of evidence, both gathered from outside the library:

- Spans.  ``Tracer.install`` wraps the public functions of the layers a
  per-layer metric reads (sources, the pipeline modules, the streaming
  stores) and the server's start, stop and compute methods before
  ``__spark_entry__`` is imported.  A wrapper replaces the function in
  its defining module, in the package re-exports and in every other
  ``blaze_spark`` module that imported it by name, so calls between
  library modules are seen too.  Spans (name, layer, start, end,
  parent, op) are kept in memory and written when the run ends.  A span
  opened on a helper thread with nothing open on that thread takes the
  innermost open span of the main thread as its parent: the main thread
  is the one waiting for it.
- Spark counters.  ``SparkProbe`` reads the driver's status store by
  job-id window (jobs submitted by server request threads carry no job
  group of the caller, so groups would miss them), the final AQE plan of
  the forcing action, and the block manager's storage view.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time

from py4j.protocol import Py4JError

PIPELINE_MODULES = ["dedup", "lm", "selection", "bloom", "tokenizer",
                    "tokenizer_train", "packing", "curation", "similarity",
                    "ivf", "pq", "cluster"]
STREAMING_MODULES = ["incremental_counts", "incremental_bloom",
                     "incremental_ann", "incremental_dedup"]

# span record fields
NAME, LAYER, START, END, PARENT, OP, EXTRA = range(7)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1]
                                    if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, layer, time.time(), None, parent,
                               self.op, None])
        st.append(idx)
        return idx

    def end(self, idx: int | None, extra=None) -> None:
        if idx is None:
            return
        self.spans[idx][END] = time.time()
        if extra is not None:
            self.spans[idx][EXTRA] = extra
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def wrap(self, fn, name: str, layer: str, extra=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(name, layer)
            if idx is None:
                return fn(*args, **kwargs)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                tracer.end(idx, extra(out) if extra and out is not None
                           else None)
        return traced

    def install(self) -> None:
        """Wrap every traced layer."""
        import blaze_spark

        for m in pkgutil.walk_packages(blaze_spark.__path__,
                                       "blaze_spark."):
            importlib.import_module(m.name)
        targets = {"blaze_spark.sources": "sources"}
        targets.update({f"blaze_spark.pipeline.{m}": f"pipeline.{m}"
                        for m in PIPELINE_MODULES})
        targets.update({f"blaze_spark.streaming.{m}": "streaming"
                        for m in STREAMING_MODULES})
        swap: dict[int, object] = {}
        for modname, layer in targets.items():
            mod = sys.modules[modname]
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(
                        obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    swap[id(obj)] = self.wrap(obj, name, layer)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if inspect.isfunction(meth) and \
                                not mname.startswith("_"):
                            setattr(obj, mname, self.wrap(
                                meth, f"{name}.{mname}", layer))
        # re-exports and by-name imports in every library module
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("blaze_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in swap and inspect.isfunction(obj):
                    setattr(mod, name, swap[id(obj)])
        from blaze_spark.server import BlazeSparkServer
        for cls, meth, layer, extra in [
                (BlazeSparkServer, "start", "wire.server", None),
                (BlazeSparkServer, "stop", "wire.server", None),
                (BlazeSparkServer, "_compute_table", "wire.server",
                 lambda out: len(out[0]))]:
            setattr(cls, meth, self.wrap(getattr(cls, meth),
                                         f"{cls.__name__}.{meth}", layer,
                                         extra))


def self_times(spans: list[list], first: int = 0) -> list[float]:
    """Each span's duration minus the part of it its children cover.
    ``spans`` is ``Tracer.spans[first:]``; parents are global indices."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[PARENT] is not None and s[END] is not None:
            kids.setdefault(s[PARENT], []).append((s[START], s[END]))
    out = []
    for i, s in enumerate(spans, first):
        if s[END] is None:
            out.append(0.0)
            continue
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(a, s[START]), min(b, s[END]))
                           for a, b in kids.get(i, [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(s[END] - s[START] - covered)
    return out


_PY_NODE = ("Python", "InPandas", "InArrow")


def _seq(jseq) -> list:
    """A Scala Seq seen through py4j, as a Python list."""
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class SparkProbe:
    """Read-only view of the driver's status store and block manager."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Jobs with ids in [lo, hi), once the listener bus has
        delivered their events."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = []
        for j in range(lo, hi):
            try:
                jd = self.store.job(j)
            except Py4JError:
                continue  # evicted or never reported
            sub = jd.submissionTime()
            out.append({"id": j,
                        "submit": (sub.get().getTime() / 1000.0
                                   if sub.isDefined() else None),
                        "stages": _seq(jd.stageIds())})
        return out

    def stage_totals(self, stage_ids) -> dict[str, float]:
        t = dict.fromkeys(["stages", "tasks", "run_s", "cpu_s", "gc_s",
                           "input_mb", "shuffle_read_mb",
                           "shuffle_write_mb", "spill_mb", "result_mb"],
                          0.0)
        mb = 1 / (1024 * 1024)
        for sid in sorted(set(stage_ids)):
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JError:
                continue  # evicted or never reported
            if s.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks()
            t["run_s"] += s.executorRunTime() / 1e3
            t["cpu_s"] += s.executorCpuTime() / 1e9
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["input_mb"] += s.inputBytes() * mb
            t["shuffle_read_mb"] += s.shuffleReadBytes() * mb
            t["shuffle_write_mb"] += s.shuffleWriteBytes() * mb
            t["spill_mb"] += s.diskBytesSpilled() * mb
            t["result_mb"] += s.resultSize() * mb
        return t

    def plan_counters(self, df, fresh_rdds=frozenset()) -> dict[str, float]:
        """Node counts and Python-worker SQL metrics of ``df``'s executed
        (AQE final) plan.  The plan under a cached relation is walked
        only when its buffers are among ``fresh_rdds`` (filled during this
        op); otherwise it ran for an earlier op."""
        c = dict.fromkeys(["hash_exchanges", "broadcast_exchanges",
                           "inmemory_scans", "python_eval_nodes",
                           "codegen_stages", "udf_rows_out",
                           "udf_sent_mb", "udf_recv_mb"], 0.0)
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            n = todo.pop()
            cls = n.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(n.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(n.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue
            if cls == "ShuffleExchangeExec":
                if n.outputPartitioning().toString().startswith(
                        "hashpartitioning"):
                    c["hash_exchanges"] += 1
            elif cls == "BroadcastExchangeExec":
                c["broadcast_exchanges"] += 1
            elif cls == "InMemoryTableScanExec":
                c["inmemory_scans"] += 1
                rel = n.relation()
                try:
                    rid = rel.cacheBuilder().cachedColumnBuffers().id()
                except Py4JError:
                    rid = None
                if rid in fresh_rdds:
                    todo.append(rel.cachedPlan())
            elif cls == "WholeStageCodegenExec":
                c["codegen_stages"] += 1
            elif any(k in cls for k in _PY_NODE):
                c["python_eval_nodes"] += 1
                ms = n.metrics()
                for key, dst, scale in [
                        ("pythonNumRowsReceived", "udf_rows_out", 1),
                        ("pythonDataSent", "udf_sent_mb", 1 / 2**20),
                        ("pythonDataReceived", "udf_recv_mb", 1 / 2**20)]:
                    if ms.contains(key):
                        c[dst] += ms.apply(key).value() * scale
            it = n.children().iterator()
            while it.hasNext():
                todo.append(it.next())
        return c

    def cached_rdds(self) -> dict[int, float]:
        """RDD id -> MB held (memory + disk) for RDDs with stored blocks."""
        return {int(i.id()): (i.memSize() + i.diskSize()) / 2**20
                for i in self.jsc.getRDDStorageInfo()}

    def persistent_rdds(self) -> set[int]:
        """Ids of the RDDs marked persistent and not yet unpersisted."""
        return {int(i) for i in self.sc._jsc.getPersistentRDDs().keySet()}
