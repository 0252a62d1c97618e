"""Per-layer measurement from outside the package.

Everything here reads the engine through its public surface and
Spark's own bookkeeping, and changes no package code:

- ``sources``: the ``load_table`` name bound in each package module is
  swapped for a counting wrapper for the duration of a traced run;
- ``exec``: jobs and stages are attributed to a query by the job and
  stage ids the DAG scheduler hands out between the query's start and
  end (job groups are thread-local and miss streaming batches), and
  each stage's metrics are read from the status store right after the
  query, before it ages out of the store's retention window;
- ``plans``: Catalyst phase times from the query execution's tracker;
- ``python``: SQL metrics of the Python-evaluating plan nodes, walked
  through adaptive plans and their query stages;
- ``streaming``: ``StreamingQueryListener`` progress events, assigned
  to the query whose wall-clock window holds the trigger's start;
- ``table_log``: files that appear under the query's temp root;
- ``mem``: peak resident set (``VmHWM``) of the driver, the JVM and
  every Python worker.
"""

from __future__ import annotations

import datetime
import os
import re
import sys
from collections import Counter

COMMIT_FILE = re.compile(r"^\d+\.json$")
PY_METRICS = {
    "pythonBootTime": "python.boot_ms",
    "pythonInitTime": "python.init_ms",
    "pythonTotalTime": "python.total_ms",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}
QUERY_COUNTERS = (
    "sources.load_table.calls", "sources.load_table.hits",
    "sources.load_table.s", "operators.build_s", "operators.build_jobs",
    "operators.action_s", "plans.analysis_ms", "plans.optimization_ms",
    "plans.planning_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", *PY_METRICS.values(),
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "table_log.commits", "table_log.files_written", "table_log.bytes_written",
)
# Unit of every per-layer metric a traced run reports.
UNITS = {
    "session.start_s": "s", "registry.load_s": "s",
    "sources.load_table.calls": "count", "sources.load_table.s": "s",
    "sources.load_table.hit_ratio": "ratio",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.action_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.cpu_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "python.boot_ms": "ms", "python.init_ms": "ms", "python.total_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "streaming.batches": "count", "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "table_log.commits": "count", "table_log.files_written": "count",
    "table_log.bytes_written": "bytes",
    "mem.driver_hwm_mb": "MB", "mem.jvm_hwm_mb": "MB", "mem.python_hwm_mb": "MB",
    "trace.overhead_s": "s",
}
# Zero on every warm pass of every listed workload: Python workers are
# forked once and reused, so boot is paid in set-up, and the corpus is
# small enough that no stage spills. Kept in the detail line and the
# trace file, off the result line. Metrics of a layer that one workload
# never enters (python.* on table_log_rw, streaming.* and table_log.*
# on llm_curation) read 0 there and are reported all the same.
UNREPORTED = ("python.boot_ms", "exec.spill_bytes")
REPORTED = tuple(k for k in UNITS if k not in UNREPORTED)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of one process in MiB (0 if it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    out, stack = [], [pid]
    while stack:
        parent = stack.pop()
        try:
            tasks = os.listdir(f"/proc/{parent}/task")
        except OSError:
            continue
        for task in tasks:
            try:
                with open(f"/proc/{parent}/task/{task}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            stack.extend(kids)
    return out


def memory(jvm_pid: int) -> dict[str, float]:
    """VmHWM of the driver, the JVM and every Python process under it."""
    python = 0.0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    python += vm_hwm_mb(pid)
        except OSError:
            pass
    return {
        "mem.driver_hwm_mb": vm_hwm_mb("self"),
        "mem.jvm_hwm_mb": vm_hwm_mb(jvm_pid),
        "mem.python_hwm_mb": python,
    }


def files(root: str) -> dict[str, int]:
    """Size of every file under ``root``, by path."""
    sizes = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                sizes[p] = os.path.getsize(p)
            except OSError:
                pass
    return sizes


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Spans and counters for one traced run, kept in memory."""

    def __init__(self, spark, clock):
        self.spark = spark
        self.clock = clock
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[dict] = []
        self._progress: list[tuple[float, dict]] = []
        self._load = None  # counters of the build phase in flight
        self._depth = 0
        self._listen()

    # -- spans -------------------------------------------------------
    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    # -- sources -----------------------------------------------------
    def wrap_load_table(self, package: str) -> None:
        io = sys.modules[f"{package}.sources.io"]
        original = io.load_table
        cache = io._SCAN_CACHE

        def load_table(spark, sf_dir, name):
            if self._load is None or self._depth:
                return original(spark, sf_dir, name)
            before = len(cache.get(spark, ()))
            self._depth += 1
            t0 = self.clock()
            try:
                return original(spark, sf_dir, name)
            finally:
                t1 = self.clock()
                self._depth -= 1
                self._load.append((name, t0, t1, len(cache.get(spark, ())) == before))

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(package) and \
                    getattr(mod, "load_table", None) is original:
                mod.load_table = load_table

    # -- one query ---------------------------------------------------
    def ids(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def begin_build(self) -> None:
        self._load = []

    def end_build(self) -> list:
        loads, self._load = self._load, None
        return loads

    def query_counts(self, df, loads, t, j, s, root_before, root) -> Counter:
        """Counters of one finished query. ``t`` = (start, built, end)
        on the run clock; ``j``/``s`` = job/stage ids at (start, built,
        end); the table-log counts diff ``root`` against its file list
        from before the query."""
        c = Counter()
        c["sources.load_table.calls"] = len(loads)
        c["sources.load_table.hits"] = sum(hit for *_, hit in loads)
        c["sources.load_table.s"] = sum(t1 - t0 for _, t0, t1, _ in loads)
        c["operators.build_s"] = t[1] - t[0]
        c["operators.action_s"] = t[2] - t[1]
        c["operators.build_jobs"] = j[1] - j[0]
        c["exec.jobs"] = j[2] - j[0]
        for sid in range(s[0], s[2]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # never submitted: nothing ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += st.numCompleteTasks()
            c["exec.run_ms"] += st.executorRunTime()
            c["exec.cpu_ms"] += st.executorCpuTime() / 1e6
            c["exec.gc_ms"] += st.jvmGcTime()
            c["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["exec.spill_bytes"] += st.diskBytesSpilled()
        if df is not None:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                got = phases.get(phase)
                if got.isDefined():
                    c[f"plans.{phase}_ms"] = got.get().durationMs()
            self._python_nodes(qe.executedPlan(), c)
        after = files(root)
        for path, size in after.items():
            if root_before.get(path) != size:
                c["table_log.files_written"] += 1
                c["table_log.bytes_written"] += size
                if os.path.basename(os.path.dirname(path)) == "_log" and \
                        COMMIT_FILE.match(os.path.basename(path)):
                    c["table_log.commits"] += 1
        return c

    def settle(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        stage metrics and streaming progress are final."""
        self._bus.waitUntilEmpty()

    def _python_nodes(self, node, c: Counter) -> None:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return self._python_nodes(node.executedPlan(), c)
        if kind.endswith("QueryStageExec"):
            return self._python_nodes(node.plan(), c)
        metrics = node.metrics()
        for key, name in PY_METRICS.items():
            if metrics.contains(key):
                c[name] += metrics.apply(key).value()
        children = node.children()
        for i in range(children.size()):
            self._python_nodes(children.apply(i), c)

    # -- streaming ---------------------------------------------------
    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self._progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((_epoch(p.timestamp), dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        self.spark.streams.addListener(self._listener)

    def streaming_counts(self, windows: list[tuple[float, float, Counter]]) -> None:
        """Add each progress event to the query whose wall-clock window
        (epoch seconds) holds the trigger's start."""
        events, self._progress[:] = list(self._progress), []
        for ts, dur in events:
            for start, end, c in windows:
                if start <= ts <= end:
                    c["streaming.batches"] += 1
                    c["streaming.trigger_ms"] += dur.get("triggerExecution", 0)
                    c["streaming.add_batch_ms"] += dur.get("addBatch", 0)
                    break

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)
