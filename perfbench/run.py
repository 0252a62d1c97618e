#!/usr/bin/env python3
"""Batch-engine benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its corpus from the
seed (cached under ``.perfbench/data``), starts the engine on
``local[k]`` with k = min(4, nproc), runs an untimed warm-up pass, then
timed passes until ``--seconds`` have elapsed. A pass runs every row of
the workload once, one after another, in an order drawn from the seed
(a closed loop with one client). Every execution's result is checked:
rows with a registry oracle against DuckDB over the same corpus, the
others by row count.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. Its metrics are the end-to-end ones: set-up
time from process start to the first timed pass (corpus generation
excluded), wall time per pass, peak resident memory and the share of
executions that succeeded; or, with ``--trace 1``, the per-layer ones.
The line before it carries the details: wall time per pass and per
query, the tail percentile with its sample count, failures, the
environment and the corpus hash. A traced run alternates untraced and
traced passes, so it also measures the tracing overhead, and writes
its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hadoop_based_distributed_batch_processing_system_spark"
SHUFFLE_PARTITIONS = 8
# Untimed passes before timing starts: the first pays the cold starts
# (Python workers, JIT compilation, fixture builds).
WARMUP_PASSES = 1

sys.path.insert(0, HERE)
import corpus  # noqa: E402
import stats  # noqa: E402
from workloads import ROW_COUNT_SQL, WORKLOADS  # noqa: E402


def boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start() -> float:
    """This process's start on the boot clock (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_digest(pdf, canon_frame) -> tuple[str, int]:
    cols, rows = canon_frame(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest(), len(rows)


class Run:
    """One workload run inside one Spark session."""

    def __init__(self, args, sf_dir: str, scratch: str):
        from tests.oracle import canon_frame

        from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
        from hadoop_based_distributed_batch_processing_system_spark.session import get_spark

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = sf_dir
        self.scratch = scratch
        self.canon_frame = canon_frame
        self.k = min(4, os.cpu_count() or 1)
        self.clock = time.perf_counter
        self.t_run = self.clock()
        t0 = self.clock()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.k}]",
                               shuffle_partitions=SHUFFLE_PARTITIONS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = self.clock() - t0
        t0 = self.clock()
        self.registry = load_all()
        self.registry_s = self.clock() - t0
        self.rng = random.Random(args.seed)
        self.read_root = os.path.join(scratch, "pkg")
        os.makedirs(self.read_root)
        self.executions: list[dict] = []
        self.stopped = False
        self.tracer = None
        if args.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark, self.clock)
            self.tracer.wrap_load_table(PACKAGE)
            self.run_span = self.tracer.span("run", None, 0.0, 0.0, workload=args.workload)

    def now(self) -> float:
        return self.clock() - self.t_run

    def run_pass(self, number: int, traced: bool) -> dict:
        rows = list(self.workload.rows)
        self.rng.shuffle(rows)
        fresh = []
        tracer = self.tracer if traced else None
        start = self.now()
        pass_span = tracer.span("pass", self.run_span, start, 0.0, number=number) if tracer else None
        windows = []
        for name in rows:
            if name in self.workload.writes:
                root = os.path.join(self.scratch, f"fresh-{number}-{len(fresh)}")
                os.makedirs(root)
                fresh.append(root)
            else:
                root = self.read_root
            tempfile.tempdir = root
            windows.append(self.execute(name, number, root, tracer, pass_span))
        end = self.now()
        for root in fresh:
            shutil.rmtree(root, ignore_errors=True)
        tempfile.tempdir = self.read_root
        if tracer:
            tracer.settle()
            tracer.streaming_counts(windows)
            tracer.spans[pass_span]["end"] = end
        return {"number": number, "traced": traced, "s": end - start}

    def execute(self, name: str, number: int, root: str, tracer, parent):
        spec = self.registry[name]
        rec = {"pass": number, "name": name, "ok": False}
        if tracer:
            from layers import files

            before = files(root)
            ids0 = tracer.ids()
            tracer.begin_build()
        wall0 = time.time()
        t0 = self.clock()
        t1, ids1, df = None, None, None
        try:
            df = spec.fn(self.spark, self.sf_dir)
            t1 = self.clock()
            if tracer:
                ids1 = tracer.ids()
            pdf = df.toPandas()
            t2 = self.clock()
            rec["digest"], rec["rows"] = result_digest(pdf, self.canon_frame)
            rec["ok"] = True
        except Exception as exc:  # counted in failed_frac; the pass goes on
            t2 = self.clock()
            first_line = (str(exc).strip().splitlines() or [""])[0]
            rec["error"] = f"{type(exc).__name__}: {first_line[:300]}"
        if t1 is None:
            t1 = t2
        loads = tracer.end_build() if tracer else ()
        rec.update(s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
        self.executions.append(rec)
        counts = None
        if tracer:
            tracer.settle()
            ids2 = tracer.ids()
            ids1 = ids1 or ids2
            counts = tracer.query_counts(df, loads, (t0, t1, t2), (ids0[0], ids1[0], ids2[0]),
                                         (ids0[1], ids1[1], ids2[1]), before, root)
            base = self.t_run
            q = tracer.span("query", parent, t0 - base, t2 - base, row=name, ok=rec["ok"], counts=counts)
            b = tracer.span("build", q, t0 - base, t1 - base)
            for table, l0, l1, hit in loads:
                tracer.span("load_table", b, l0 - base, l1 - base, table=table, hit=hit)
            tracer.span("action", q, t1 - base, t2 - base)
            rec["counts"] = counts
        return (wall0, time.time(), counts)

    def stop(self) -> dict[str, float]:
        """Peak memory, read just before the session stops; then stop
        the session and wait until the JVM and its Python workers have
        exited."""
        from layers import descendants, memory

        self.stopped = True
        gateway = self.spark.sparkContext._gateway
        jvm = gateway.proc
        mem = memory(jvm.pid)
        children = descendants(jvm.pid)
        try:
            if self.tracer:
                self.tracer.close()
            self.spark.stop()
            gateway.shutdown()
        finally:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            deadline = time.monotonic() + 30
            while (alive := [p for p in children if os.path.exists(f"/proc/{p}")]) and \
                    time.monotonic() < deadline:
                time.sleep(0.1)
            for pid in alive:
                os.kill(pid, signal.SIGKILL)
        return mem


def check(executions: list[dict], registry, sf_dir: str, canon_frame) -> None:
    """Mark each execution whose result differs from the expected one.
    Expected results come from DuckDB over the same corpus and are
    cached beside it, keyed by the oracle's SQL text."""
    from tests.oracle import duck_con

    cache_path = os.path.join(sf_dir, "_expected.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    con = None
    expected = {}
    for name in dict.fromkeys(rec["name"] for rec in executions):
        spec = registry[name]
        kind, sql = ("digest", spec.oracle) if spec.oracle else ("rows", ROW_COUNT_SQL[name])
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in cache:
            con = con or duck_con(sf_dir)
            if kind == "digest":
                cache[key] = result_digest(con.execute(sql).df(), canon_frame)[0]
            else:
                cache[key] = con.execute(sql).fetchone()[0]
        expected[name] = (kind, cache[key])
    if con is not None:
        con.close()
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    for rec in executions:
        kind, want = expected[rec["name"]]
        if rec["ok"] and rec[kind] != want:
            rec["ok"] = False
            rec["error"] = f"output check failed ({kind})"


def summarize(run: Run, passes: list[dict], mem: dict, setup_s: float) -> tuple[dict, dict]:
    timed = [p for p in passes if p["number"] >= WARMUP_PASSES]
    plain = [p["s"] for p in timed if not p["traced"]]
    plain_numbers = {p["number"] for p in timed if not p["traced"]}
    plain_execs = [e["s"] for e in run.executions if e["pass"] in plain_numbers]
    failed = sum(not e["ok"] for e in run.executions)
    attempted = len(run.executions)
    tail = stats.tail(plain_execs)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(plain), "s"),
        "peak_rss_mb": (sum(mem.values()), "MB"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }
    detail = {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "passes_timed": len(plain),
        "executions_timed": len(plain_execs),
        # A run has 12-24 timed executions of 3 rows whose times differ
        # up to 30x, so the per-query median jumps between rows and the
        # tail sits below it: both stay off the result line.
        "query_p50_s": statistics.median(plain_execs),
        "query_tail_s": {"value": tail[0] if tail else max(plain_execs),
                         "percentile": tail[1] if tail else 100.0, "samples": len(plain_execs)},
        "failed_frac": failed / attempted,
        "failures": sorted({f"{e['name']}: {e.get('error')}" for e in run.executions if not e["ok"]}),
        "pass_s_all": [round(p["s"], 4) for p in timed],
        "row_s": {n: [round(e["s"], 3) for e in run.executions if e["name"] == n]
                  for n in run.workload.rows},
    }
    return end_to_end, detail


def per_layer(run: Run, passes: list[dict], mem: dict) -> tuple[dict, dict]:
    from layers import QUERY_COUNTERS

    traced = [p["number"] for p in passes if p["traced"]]
    sums = {n: {k: 0.0 for k in QUERY_COUNTERS} for n in traced}
    by_row: dict[str, dict[str, list]] = {}
    for e in run.executions:
        if e["pass"] in sums:
            row = by_row.setdefault(e["name"], {k: [] for k in QUERY_COUNTERS})
            for k in QUERY_COUNTERS:
                sums[e["pass"]][k] += e["counts"][k]
                row[k].append(e["counts"][k])
    med = {k: statistics.median([sums[n][k] for n in traced]) for k in QUERY_COUNTERS}
    plain = [p["s"] for p in passes if p["number"] >= WARMUP_PASSES and not p["traced"]]
    traced_s = [p["s"] for p in passes if p["traced"]]
    calls = med.pop("sources.load_table.calls")
    hits = med.pop("sources.load_table.hits")
    metrics = {
        "session.start_s": run.session_s,
        "registry.load_s": run.registry_s,
        "sources.load_table.calls": calls,
        "sources.load_table.hit_ratio": hits / calls if calls else 0.0,
        **med,
        "exec.cpu_ratio": med["exec.cpu_ms"] / med["exec.run_ms"] if med["exec.run_ms"] else 0.0,
        **mem,
        "trace.overhead_s": statistics.median(traced_s) - statistics.median(plain),
    }
    breakdown = {name: {k: statistics.median(v) for k, v in row.items()} for name, row in sorted(by_row.items())}
    return metrics, breakdown


def environment(run: Run, sf_dir: str, digest: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(), "k": run.k, "shuffle_partitions": SHUFFLE_PARTITIONS,
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
        "corpus": os.path.basename(sf_dir), "corpus_sha256": digest,
    }


def main(argv=None) -> int:
    started = process_start()
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    t0 = boot_clock()
    sf_dir, digest = corpus.generate(os.path.join(work, "data"), args.seed, workload.sf)
    generate_s = boot_clock() - t0

    scratch = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout, no /tmp/hsperfdata_* entries
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    sys.path.insert(0, ROOT)
    run = None
    try:
        run = Run(args, sf_dir, scratch)
        passes = [run.run_pass(n, traced=False) for n in range(WARMUP_PASSES)]
        setup_s = boot_clock() - started - generate_s
        deadline = run.clock() + args.seconds
        steal0 = steal_s()
        while True:
            number = len(passes)
            # a traced run alternates untraced and traced passes
            traced = bool(args.trace) and (number - WARMUP_PASSES) % 2 == 1
            passes.append(run.run_pass(number, traced=traced))
            if run.clock() >= deadline and (not args.trace or traced):
                break
        stolen = steal_s() - steal0
        mem = run.stop()
        t0 = boot_clock()
        check(run.executions, run.registry, sf_dir, run.canon_frame)
        check_s = boot_clock() - t0
        end_to_end, detail = summarize(run, passes, mem, setup_s)
        detail["environment"] = environment(run, sf_dir, digest)
        detail["generate_s"] = generate_s
        detail["check_s"] = check_s
        detail["timed_cpu_steal_s"] = stolen
        if args.trace:
            layer, breakdown = per_layer(run, passes, mem)
            from layers import REPORTED, UNITS

            metrics = {k: {"value": layer[k], "unit": UNITS[k]} for k in REPORTED}
            run.tracer.spans[run.run_span]["end"] = run.now()
            out = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as fh:
                json.dump({**detail, "per_layer": layer, "per_query": breakdown,
                           "end_to_end_untraced": {k: v[0] for k, v in end_to_end.items()},
                           "spans": run.tracer.spans}, fh, indent=1)
            detail["trace_file"] = os.path.relpath(out, ROOT)
            detail["per_layer"] = layer
            detail["per_query"] = breakdown
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        failed = sum(not e["ok"] for e in run.executions)
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": failed == 0, "attempted": len(run.executions),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if run is not None and not run.stopped:
            run.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
