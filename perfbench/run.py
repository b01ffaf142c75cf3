#!/usr/bin/env python3
"""Closed-loop benchmark of the ``__spark_entry__`` registry.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10

One client issues a workload's ops one after another.  An op is one call
to the entry function ("construct") followed by ``bench._force``'s
forcing action, and its fingerprint is the (rows, bit_xor(xxhash64(all
columns))) pair that action computes.  A run:

1. generates the workload's inputs from ``--seed`` (``gen.py``; cached
   under ``.perfbench/data``);
2. starts one ``local[nproc]`` session and runs one warm pass, which
   pays codegen compiles and first reads (``setup_s`` ends here), then
   the workload's count of further warm passes;
3. repeats whole passes until ``--seconds`` have elapsed and the
   workload's count of timed passes is done.

Each timed op must reproduce its warm-pass fingerprint, and at the
default seed the fingerprint committed in ``fingerprints.json``; an op
that raises, returns no rows or mismatches counts as failed.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
to the end of the first warm pass, input generation excluded),
``pass_cpu_s`` (CPU seconds of a timed pass at a reference core speed;
see below), ``peak_rss_mb`` (this process, the driver JVM and the
Python workers, sampled from /proc; shared pages count once) and
``ok_ops_frac``.

``pass_cpu_s`` counts the CPU time of this process, the driver JVM and
the Python workers, less the JVM's JIT compiler and garbage collector
threads and this process's memory sampler.  Before each op of a timed
pass ``calibrate`` times a fixed compression on every core; the op's
CPU time is scaled by ``CAL_REF_S`` over that time, so a spell in which
the host's other guests slow every instruction does not read as a
costlier op.  Per op
the least scaled time over the timed passes counts, summed over ops.
The time a pass takes is not among the end-to-end metrics: while the
host runs other guests it can double, and the CPU time moves far less.
The wall-clock figures (``wall.pass_s``, ``wall.op_p50_s``,
``wall.op_max_s``) and the unscaled CPU time (``cpu.pass_raw_s``) are
printed on comment lines and are per-layer metrics, beside the CPU
split (``cpu.*``).
``--trace 1`` installs the span wrappers of ``tracing.py`` before the
registry is imported, alternates traced and untraced passes, and prints
the per-layer metrics (per pass, median over traced passes; the ``cpu``
and ``wall`` ones over untraced passes) plus the tracing overhead.  The
last stdout line is one JSON object; the full
record (stamp, table sizes, every op, spans) goes to
``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import zlib
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
FINGERPRINTS = HERE / "fingerprints.json"
DEFAULT_SEED = 1
# calibrate()'s median reading on the 4-core box the benchmark was tuned
# on: pass_cpu_s is in CPU seconds of a core of that speed
CAL_REF_S = 0.013

sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from tracing import PIPELINE_MODULES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the parts of tree_cpu_s that pass_cpu_s adds up
WORK_CPU = ("python", "jvm", "workers")

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
              "ok_ops_frac": "fraction"}

PER_LAYER = {
    "entry.construct_s": "s", "entry.construct_jobs": "count",
    "sources.calls": "count", "sources.self_s": "s", "sources.jobs": "count",
    "action.action_s": "s", "action.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.result_mb": "MB",
    "spark.slot_busy_frac": "fraction",
    "plans.hash_exchanges": "count", "plans.broadcast_exchanges": "count",
    "plans.inmemory_scans": "count", "plans.python_eval_nodes": "count",
    "plans.codegen_stages": "count",
    "udf.rows_out": "count", "udf.sent_mb": "MB", "udf.recv_mb": "MB",
    **{f"pipeline.{m}.{k}": u for m in PIPELINE_MODULES
       for k, u in (("self_s", "s"), ("calls", "count"))},
    "cache.peak_storage_mb": "MB", "cache.reads_per_fill": "ratio",
    "cache.live_rdds_after_op": "count",
    "wire.server_start_s": "s", "wire.server_stop_s": "s",
    "wire.compute_calls": "count", "wire.compute_s": "s",
    "wire.rows_returned": "count", "wire.server_jobs": "count",
    "streaming.ingest_calls": "count", "streaming.ingest_s": "s",
    "streaming.read_s": "s", "store.written_mb": "MB",
    "store.files_written": "count",
    "cpu.python_s": "s", "cpu.jvm_s": "s", "cpu.workers_s": "s",
    "cpu.jit_s": "s", "cpu.gc_s": "s", "cpu.pass_raw_s": "s",
    "cpu.calib_s": "s",
    "wall.pass_s": "s", "wall.op_p50_s": "s", "wall.op_max_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_frac": "fraction", "trace.collect_s": "s",
    "trace.spans": "count",
}


# -- process bookkeeping ------------------------------------------------------

def _stat_fields(pid: int | str) -> list[str]:
    """/proc/<pid>/stat fields from field 3 (state) on."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_start() -> float:
    """Wall-clock start time of this process (clock-tick resolution)."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat_fields(d)[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its
    descendants (the driver JVM, the Python worker daemon and its
    workers).  Each process counts its proportional set size, so pages
    a forked worker shares with the daemon count once, not per worker."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        # peak of each part on its own: python (this process), jvm, workers
        self.part_peak_mb = {"python": 0.0, "jvm": 0.0, "workers": 0.0}
        self.tid = None  # native id of the sampling thread
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        parts = dict.fromkeys(self.part_peak_mb, 0.0)
        for p in [me] + descendants(me):
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    pss_kb = next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
            except (OSError, StopIteration):
                continue
            part = ("python" if p == me else
                    "jvm" if comm == "java" else "workers")
            parts[part] += pss_kb / 1024
        for k, v in parts.items():
            self.part_peak_mb[k] = max(self.part_peak_mb[k], v)
        self.peak_mb = max(self.peak_mb, sum(parts.values()))

    def run(self):
        self.tid = threading.get_native_id()
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self):
        self._stop_evt.set()
        self.join()


def _cpu_ticks(path: str, n: int = 4) -> int:
    """Sum of the first ``n`` of utime, stime, cutime and cstime (fields
    14-17) of a /proc stat file."""
    with open(path) as f:
        return sum(int(x) for x in
                   f.read().rsplit(")", 1)[1].split()[11:11 + n])


def _jvm_thread_part(name: str) -> str | None:
    if "CompilerThre" in name:
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return None


def tree_cpu_s(skip_tid: int | None = None) -> dict[str, float]:
    """CPU seconds used so far by this process ("python", less thread
    ``skip_tid``), the driver JVM and the Python workers.  "jvm" leaves
    out the JVM's JIT compiler threads ("jit") and garbage collector
    threads ("gc"): how much compiling and concurrent collecting lands
    in a pass depends on timing and heap sizing more than on the
    program."""
    me = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    parts = dict.fromkeys(("python", "jvm", "workers", "jit", "gc"), 0.0)
    for p in [me] + descendants(me):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            total = _cpu_ticks(f"/proc/{p}/stat")
        except OSError:
            continue
        if comm == "java":
            for t in os.listdir(f"/proc/{p}/task"):
                try:
                    with open(f"/proc/{p}/task/{t}/comm") as f:
                        part = _jvm_thread_part(f.read())
                    if part:
                        # a thread's cutime and cstime are its process's
                        ticks = _cpu_ticks(f"/proc/{p}/task/{t}/stat", 2)
                        parts[part] += ticks / tick
                        total -= ticks
                except OSError:  # the thread has ended
                    pass
        if p == me and skip_tid is not None:
            try:
                total -= _cpu_ticks(f"/proc/{p}/task/{skip_tid}/stat", 2)
            except OSError:
                pass
        part = "python" if p == me else "jvm" if comm == "java" else "workers"
        parts[part] += total / tick
    return parts


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests, summed over
    this machine's CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# what calibrate() compresses: text-like bytes, so zlib finds matches
_CAL_DATA = bytes(random.Random(7).choices(b"abcdefghij klmnop\n",
                                           k=200_000))


def calibrate() -> tuple[float, float]:
    """Speed of this machine's cores right now.  One thread per core
    compresses a fixed buffer three times (zlib releases the GIL, so the
    threads run at once) and keeps its least thread CPU time.  Returns
    the median over the threads and the CPU time they took in all.  On a
    shared host the same instructions cost more CPU time while other
    guests load the cores' sibling threads and caches; this reads that."""
    out: list[tuple[float, float]] = []

    def work():
        best, spent = float("inf"), 0.0
        for _ in range(3):
            t = time.thread_time()
            zlib.compress(_CAL_DATA, 6)
            dt = time.thread_time() - t
            best, spent = min(best, dt), spent + dt
        out.append((best, spent))

    threads = [threading.Thread(target=work)
               for _ in range(len(os.sched_getaffinity(0)))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return (statistics.median(b for b, _ in out),
            sum(sp for _, sp in out))


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def stop_descendants(timeout: float = 20.0) -> None:
    """SIGTERM every descendant, then SIGKILL what is left; wait for all."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants(me)
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout
        while pids and time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.05)
        if not pids:
            return


# -- stamp -------------------------------------------------------------------

def source_digest() -> str:
    """sha256 over the program's Python sources: identifies the code in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
             *sorted((ROOT / "blaze_spark").rglob("*.py"))]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_head() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(2048, total_kb // 4096)


# -- the run ------------------------------------------------------------------

class Capture:
    """Keeps the DataFrame and rows of the forcing action's collect()."""

    def __init__(self, df_cls):
        self.on = False
        self.df = self.rows = None
        orig = df_cls.collect
        cap = self

        def collect(df_self):
            rows = orig(df_self)
            if cap.on:
                cap.df, cap.rows = df_self, rows
            return rows
        df_cls.collect = collect

    def clear(self):
        self.on = False
        self.df = self.rows = None


class Runner:
    def __init__(self, spark, qs, bench, data_dir: str, op_root: Path,
                 rss: RssSampler, tracer=None):
        self.spark, self.qs, self.bench = spark, qs, bench
        self.rss = rss
        self.data_dir, self.op_root = data_dir, op_root
        self.tracer = tracer
        self.capture = Capture(type(spark.range(1)))
        self.probe = None
        if tracer is not None:
            from tracing import SparkProbe
            self.probe = SparkProbe(spark)
        self.n_ops = 0

    def run_op(self, name: str, traced: bool) -> dict:
        """Construct + force one op.  With ``traced``, spans are on and
        the op's per-layer counters are read after it (outside its
        timers, except two cheap reads between construct and action,
        whose time is subtracted)."""
        self.n_ops += 1
        tmp = self.op_root / f"op{self.n_ops:05d}"
        tmp.mkdir(parents=True)
        tmpdir_env = os.environ.get("TMPDIR")
        tempfile.tempdir = os.environ["TMPDIR"] = str(tmp)
        rec: dict = {"op": name}
        tr = self.tracer
        probe = self.probe if traced else None
        if tr is not None:
            tr.enabled, tr.op = traced, self.n_ops
            k0 = len(tr.spans)
        if probe:
            before = {"job": probe.next_job(), "cached": probe.cached_rdds(),
                      "persisted": probe.persistent_rdds()}
        mid = None
        df = None
        t0 = time.perf_counter()
        t1 = probe_s = 0.0
        try:
            s = tr.begin(name, "entry") if tr else None
            try:
                df = self.qs[name](self.spark, self.data_dir)
            finally:
                if tr:
                    tr.end(s)
            t1 = time.perf_counter()
            if probe:
                mid = {"job": probe.next_job(), "cached": probe.cached_rdds()}
                probe_s = time.perf_counter() - t1
            self.capture.on = True
            s = tr.begin(name, "action") if tr else None
            try:
                rows = self.bench._force(df)
            finally:
                if tr:
                    tr.end(s)
                self.capture.on = False
            h = self.capture.rows[0]["h"]
            rec.update(rows=int(rows), hash=None if h is None else int(h))
        except Exception:  # the op failed: record it and go on
            rec["error"] = traceback.format_exc(limit=3)[-1500:]
        t2 = time.perf_counter()
        if tr is not None:
            tr.enabled = False
        rec["latency_s"] = t2 - t0 - probe_s
        if t1:
            rec["construct_s"] = t1 - t0
            rec["action_s"] = t2 - t1 - probe_s
        if probe:
            rec["layers"] = self._layers(rec, k0, before, mid)
        self.capture.clear()
        del df
        if probe:
            gc.collect()
            # RDDs this op persisted and left persisted
            rec["layers"]["cache.live_rdds_after_op"] = len(
                probe.persistent_rdds() - before["persisted"])
            w_mb, w_files = _tree_size(tmp)
            rec["layers"]["store.written_mb"] = w_mb
            rec["layers"]["store.files_written"] = w_files
        tempfile.tempdir = None
        if tmpdir_env is None:
            del os.environ["TMPDIR"]
        else:
            os.environ["TMPDIR"] = tmpdir_env
        shutil.rmtree(tmp, ignore_errors=True)
        return rec

    def _layers(self, rec, k0: int, before: dict, mid: dict | None) -> dict:
        """Per-layer counters of the op whose spans start at ``k0``."""
        from tracing import END, EXTRA, LAYER, NAME, START, self_times

        probe = self.probe
        j2 = probe.next_job()
        jobs = probe.jobs(before["job"], j2)
        j1 = mid["job"] if mid else j2
        cached0, cached1 = before["cached"], mid["cached"] if mid else {}
        m = dict.fromkeys(PER_LAYER, 0.0)
        st = probe.stage_totals(s for j in jobs for s in j["stages"])
        m["entry.construct_s"] = rec.get("construct_s", 0.0)
        m["entry.construct_jobs"] = sum(j["id"] < j1 for j in jobs)
        m["action.action_s"] = rec.get("action_s", 0.0)
        m["action.jobs"] = sum(j["id"] >= j1 for j in jobs)
        for k in ("stages", "tasks", "input_mb", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "result_mb"):
            m[f"spark.{k}"] = st[k]
        m["spark.executor_run_s"] = st["run_s"]
        m["spark.executor_cpu_s"] = st["cpu_s"]
        m["spark.jvm_gc_s"] = st["gc_s"]
        cached2 = probe.cached_rdds()
        fresh = (set(cached1) | set(cached2)) - set(cached0)
        df = self.capture.df
        if df is not None:
            pc = probe.plan_counters(df, fresh)
            for k in ("hash_exchanges", "broadcast_exchanges",
                      "inmemory_scans", "python_eval_nodes",
                      "codegen_stages"):
                m[f"plans.{k}"] = pc[k]
            m["udf.rows_out"] = pc["udf_rows_out"]
            m["udf.sent_mb"] = pc["udf_sent_mb"]
            m["udf.recv_mb"] = pc["udf_recv_mb"]
        m["cache.peak_storage_mb"] = max(
            [sum(c.values()) for c in (cached1, cached2)], default=0.0)
        m["_fills"] = len(fresh)
        spans = self.tracer.spans[k0:]
        windows: dict[str, list[tuple[float, float]]] = {}
        for s, self_s in zip(spans, self_times(spans, k0)):
            if s[END] is None:
                continue
            layer, name, dur = s[LAYER], s[NAME], s[END] - s[START]
            if layer == "sources":
                m["sources.calls"] += 1
                m["sources.self_s"] += self_s
                windows.setdefault("sources", []).append((s[START], s[END]))
            elif layer.startswith("pipeline."):
                m[f"{layer}.calls"] += 1
                m[f"{layer}.self_s"] += self_s
            elif layer == "streaming":
                if name.startswith("ingest_"):
                    m["streaming.ingest_calls"] += 1
                    m["streaming.ingest_s"] += dur
                elif name.startswith("read_"):
                    m["streaming.read_s"] += dur
            elif layer == "wire.server":
                if name.endswith(".start"):
                    m["wire.server_start_s"] += dur
                elif name.endswith(".stop"):
                    m["wire.server_stop_s"] += dur
                elif name.endswith("._compute_table"):
                    m["wire.compute_calls"] += 1
                    m["wire.compute_s"] += dur
                    m["wire.rows_returned"] += s[EXTRA] or 0
                    windows.setdefault("server", []).append(
                        (s[START], s[END]))

        def submitted_in(key):
            return sum(any(a <= j["submit"] <= b for a, b in
                           windows.get(key, []))
                       for j in jobs if j["submit"] is not None)
        m["sources.jobs"] = submitted_in("sources")
        m["wire.server_jobs"] = submitted_in("server")
        m["trace.spans"] = sum(s[END] is not None for s in spans)
        return m

    def run_pass(self, ops, traced: bool = False,
                 timed: bool = False) -> dict:
        """One pass over ``ops``.  In a ``timed`` pass each op is
        preceded by a calibration (``calibrate``), whose time counts in
        neither the op's CPU time nor the pass's wall time."""
        # drain garbage left by the previous pass so a full collection
        # does not land inside this one
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        c0 = cpu = tree_cpu_s(self.rss.tid)
        st0 = steal_s()
        wall = cal_cpu = 0.0
        recs = []
        for name in ops:
            cal = spent = 0.0
            if timed:
                cal, spent = calibrate()
                cal_cpu += spent
            t0 = time.perf_counter()
            rec = self.run_op(name, traced)
            wall += time.perf_counter() - t0
            c = tree_cpu_s(self.rss.tid)
            # from the end of the previous op, so background work an op
            # leaves behind counts in the next one, less the calibration
            rec["cpu_s"] = sum(c[k] - cpu[k] for k in WORK_CPU) - spent
            if timed:
                rec["cal_s"] = cal
            recs.append(rec)
            cpu = c
        cpu_s = {k: cpu[k] - c0[k] for k in c0}
        cpu_s["python"] -= cal_cpu
        return {"wall_s": wall, "traced": traced, "ops": recs,
                "cpu_s": cpu_s, "steal_s": steal_s() - st0}


def _tree_size(path: Path) -> tuple[float, int]:
    size, n = 0, 0
    for p in path.rglob("*"):
        if p.is_file():
            size += p.stat().st_size
            n += 1
    return size / 2**20, n


def _pass_layers(p: dict, cores: int) -> dict:
    """Per-layer totals of one traced pass."""
    tot = dict.fromkeys(PER_LAYER, 0.0)
    fills = 0
    for r in p["ops"]:
        lay = r.get("layers", {})
        fills += lay.get("_fills", 0)
        for k in PER_LAYER:
            if k == "cache.peak_storage_mb":
                tot[k] = max(tot[k], lay.get(k, 0.0))
            else:
                tot[k] += lay.get(k, 0.0)
    lat = sum(r["latency_s"] for r in p["ops"])
    tot["spark.slot_busy_frac"] = (tot["spark.executor_run_s"]
                                   / (lat * cores) if lat else 0.0)
    tot["cache.reads_per_fill"] = (tot["plans.inmemory_scans"] / fills
                                   if fills else 0.0)
    tot["trace.pass_s"] = lat
    tot["trace.collect_s"] = p["wall_s"] - lat
    return tot


def fingerprint(r: dict):
    return [r.get("rows"), r.get("hash")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-fingerprints", action="store_true",
                    help="record this run's warm-pass fingerprints as the "
                         "expected ones (default seed only)")
    args = ap.parse_args(argv)
    t_proc = process_start()
    missing = [p for p in ("bench.py", "__spark_entry__.py", "blaze_spark")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    run_dir = WORK / "tmp" / str(os.getpid())
    run_dir.mkdir(parents=True, exist_ok=True)

    t = time.time()
    data_dir = WORK / "data" / f"{wl.name}-x{wl.scale}-s{args.seed}"
    tables = gen.generate(data_dir, list(wl.tables), wl.scale, args.seed)
    gen_s = time.time() - t

    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer()
        tracer.install()
    import bench
    from pyspark.sql import SparkSession

    partitions = bench._shuffle_partitions(gen.BASE_SF * wl.scale, nproc)
    builder = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName(f"perfbench-{wl.name}")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        # compiler threads live as long as the JVM (GC threads always
        # do), so tree_cpu_s can tell their CPU time apart; the parallel
        # collector without its adaptive size policy grows the heap by
        # occupancy alone, not by how long collections took, so
        # peak_rss_mb follows what the program keeps, not the host's load
        .config("spark.driver.extraJavaOptions",
                "-XX:-UseDynamicNumberOfCompilerThreads -XX:+UseParallelGC "
                "-XX:-UseAdaptiveSizePolicy")
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse")))
    if args.trace:
        builder = (builder.config("spark.ui.retainedJobs", "100000")
                   .config("spark.ui.retainedStages", "100000"))
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as entry

        runner = Runner(spark, entry.queries(), bench, str(data_dir),
                        run_dir / "ops", rss, tracer)
        # set-up ends with the first pass, which pays codegen compiles and
        # first reads; the JIT keeps compiling for a while after it, so
        # the workload's warm passes follow, outside setup_s.  They are
        # counted, not timed, so a slow machine warms up as far as a fast
        # one before the timed passes.
        warm = [runner.run_pass(wl.ops)]
        setup_s = time.time() - t_proc - gen_s
        for _ in range(wl.warm_passes):
            warm.append(runner.run_pass(wl.ops))
        print(f"# setup {setup_s:.2f}s (warm passes "
              f"{[round(p['wall_s'], 2) for p in warm]})",
              file=sys.stderr, flush=True)
        passes = []
        t_timed = time.perf_counter()
        while True:
            # traced and untraced passes alternate, traced first: passes
            # still speed up a little as the JIT settles, so the overhead
            # this reports errs high
            traced = bool(args.trace) and len(passes) % 2 == 0
            p = runner.run_pass(wl.ops, traced, timed=True)
            passes.append(p)
            print(f"# pass {len(passes)} {'traced ' if traced else ''}"
                  f"{p['wall_s']:.2f}s", file=sys.stderr, flush=True)
            # at least the workload's count of untraced passes, however
            # slow the machine, so every run takes its per-op minima over
            # as many passes
            done = time.perf_counter() - t_timed >= args.seconds
            if done and len(passes) >= wl.timed_passes * (1 + args.trace):
                break
        spark_version = spark.version
        java_version = spark.sparkContext._jvm.System.getProperty(
            "java.version")
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:
                pass
        try:
            from pyspark import SparkContext
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
        except Exception:
            pass
        stop_descendants()
        rss.stop()

    # -- correctness -----------------------------------------------------
    expected = {}
    if args.seed == DEFAULT_SEED and FINGERPRINTS.exists():
        expected = json.loads(FINGERPRINTS.read_text()).get(wl.name, {})
    warm_fp = {r["op"]: fingerprint(r) for r in warm[0]["ops"]}
    if args.write_fingerprints and args.seed == DEFAULT_SEED:
        allfp = (json.loads(FINGERPRINTS.read_text())
                 if FINGERPRINTS.exists() else {})
        allfp[wl.name] = warm_fp
        FINGERPRINTS.write_text(json.dumps(allfp, indent=1, sort_keys=True)
                                + "\n")
        expected = warm_fp
    timed = [r for p in passes for r in p["ops"]]
    for r in timed:
        fp = fingerprint(r)
        bad = ("error" in r or not r.get("rows")
               or fp != warm_fp[r["op"]]
               or (r["op"] in expected and fp != expected[r["op"]]))
        r["failed"] = bool(bad)
    failed = sum(r["failed"] for r in timed)
    attempted = len(timed)

    # -- metrics -----------------------------------------------------------
    lat = sorted(r["latency_s"] for r in timed)
    k = max(0, len(lat) - 11)
    tail_pct = 100.0 * (k + 1) / len(lat)
    untraced = [p for p in passes if not p["traced"]]

    def med(f):
        return statistics.median(f(p) for p in untraced)
    wall = {
        "wall.pass_s": med(lambda p: p["wall_s"]),
        "wall.op_p50_s": statistics.median(
            r["latency_s"] for p in untraced for r in p["ops"]),
        "wall.op_max_s": med(lambda p: max(r["latency_s"]
                                           for r in p["ops"])),
    }
    def per_op_least(f):
        # per op, the least over passes: a spell in which the host runs
        # other guests inflates CPU time, and nothing deflates it
        return sum(min(f(r) for p in untraced for r in p["ops"]
                       if r["op"] == op) for op in wl.ops)
    cpu = {
        "cpu.pass_raw_s": per_op_least(lambda r: r["cpu_s"]),
        "cpu.calib_s": statistics.median(r["cal_s"] for p in untraced
                                         for r in p["ops"]),
    }
    metrics = {
        "setup_s": setup_s,
        "pass_cpu_s": per_op_least(
            lambda r: r["cpu_s"] * CAL_REF_S / r["cal_s"]),
        "peak_rss_mb": rss.peak_mb,
        "ok_ops_frac": (attempted - failed) / attempted,
    }
    units = END_TO_END
    if args.trace:
        traced_passes = [p for p in passes if p["traced"]]
        per = [_pass_layers(p, nproc) for p in traced_passes]
        metrics = {k: statistics.median(d[k] for d in per)
                   for k in PER_LAYER}
        metrics.update(wall)
        metrics.update(cpu)
        for part in ("python", "jvm", "workers", "jit", "gc"):
            metrics[f"cpu.{part}_s"] = med(lambda p: p["cpu_s"][part])
        unt = med(lambda p: sum(r["latency_s"] for r in p["ops"]))
        metrics["trace.untraced_pass_s"] = unt
        metrics["trace.overhead_frac"] = metrics["trace.pass_s"] / unt - 1
        units = PER_LAYER

    stamp = {
        "head": git_head(), "source_sha256": source_digest(),
        "nproc": nproc, "shuffle_partitions": partitions,
        "driver_memory_mb": driver_memory_mb(),
        "spark": spark_version, "java": java_version,
        "python": platform.python_version(),
        "workload": wl.name, "seed": args.seed, "scale": wl.scale,
        "seconds": args.seconds, "trace": args.trace,
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
    }
    full = {"stamp": stamp, "tables": tables, "gen_s": gen_s,
            "op_tail_percentile": tail_pct, "op_samples": len(lat),
            "peak_rss_mb_by_part": rss.part_peak_mb, "wall": wall,
            "cpu": cpu,
            "passes": warm + passes,
            "metrics": metrics}
    if tracer is not None:
        full["spans"] = tracer.spans
    res_dir = WORK / "results"
    res_dir.mkdir(parents=True, exist_ok=True)
    res = res_dir / (f"{wl.name}-seed{args.seed}-trace{args.trace}-"
                     f"{int(time.time())}.json")
    res.write_text(json.dumps(full, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)

    for r in timed:
        if r["failed"]:
            print(f"# FAILED {r['op']}: {r.get('error') or 'fingerprint'}",
                  file=sys.stderr)
    print(f"# stamp {json.dumps(stamp, sort_keys=True)}")
    print(f"# inputs {json.dumps(tables, sort_keys=True)}")
    print(f"# wall clock {json.dumps(wall)}")
    print(f"# cpu {json.dumps(cpu)}")
    print(f"# {len(passes)} passes, {attempted} op samples; highest "
          f"percentile with 10 samples beyond it: p{tail_pct:.1f} = "
          f"{lat[k]:.3f}s; full record {res.relative_to(ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
