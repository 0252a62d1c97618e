#!/usr/bin/env python
"""One-off FULL-REGISTRY bench sweep (VERDICT r14 next-round #4): the
curated per-round bench times ~135 queries; the other ~235 registry
entries had never had a recorded wall-time, leaving the 2x-of-baseline
bar attested only for the benched set. This sweep runs EVERY registry
entry once at $SPARK_GRAFT_SF_DIR (default sf0.1) — one warm-up + one
timed run (cheaper than the curated best-of-3; the goal is outlier
DETECTION, not trend precision) — and writes BENCH_FULL_r{N}.json (or,
when the round already has one, the next free .rerunK beside it) with
per-query seconds plus a family-median outlier report (family = the
query name's leading token), so a never-benched op hiding a quadratic
corner surfaces.

Usage: python tools/bench_full.py [--sf-dir DIR]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import ACTION, _next_round, jvm_canary, run_action, unclobbered  # noqa: E402


# Documented ground-truth BRUTE-FORCE baselines whose design scale is
# the 500-doc corpus (sf0.001/sf0.01): at sf0.1 documents grows to
# 5000 rows and the exact O(n^2) pair shapes (nested-loop theta joins
# by contract — they exist as oracles for the LSH/prefix-filter scale
# paths) take hours. The sweep runs them at their design scale and
# RECORDS the substitution in the artifact — no silent caps.
SWEEP_SF_OVERRIDE = {
    "dedup_ngram_jaccard": "/root/testdata/sf0.01",
    "dedup_connected_components": "/root/testdata/sf0.01",
    "dedup_cluster_keep_best": "/root/testdata/sf0.01",
    "dedup_cross_source_matrix": "/root/testdata/sf0.01",
}


def prior_sweep() -> dict[str, float]:
    """Per-query seconds from the newest committed BENCH_FULL_r{N}
    artifact — the jitter re-measure baseline (VERDICT r16 #6)."""
    import glob
    import re

    best, best_round = None, -1
    for p in glob.glob(os.path.join(HERE, "BENCH_FULL_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m and int(m.group(1)) > best_round:
            best_round, best = int(m.group(1)), p
    if not best:
        return {}
    try:
        q = json.load(open(best)).get("queries", {})
    except (OSError, ValueError):
        return {}
    return {n: t for n, t in q.items() if isinstance(t, (int, float))}


def family(name: str) -> str:
    # coarse grouping for the outlier report: table_log_* and
    # stream_* are their own cost regimes; otherwise the leading token
    if name.startswith("table_log_"):
        return "table_log"
    if name.startswith("stream_"):
        return "stream"
    return name.split("_", 1)[0]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
    from hadoop_based_distributed_batch_processing_system_spark.session import get_spark

    registry = load_all()
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ:
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "8"
    spark = get_spark(app_name="hbdbps-bench-full")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    remeasured: dict[str, dict] = {}
    prior = prior_sweep()
    run_action(jvm_canary(spark), "collect")
    t0 = time.perf_counter()
    run_action(jvm_canary(spark), "collect")
    timings["calibration_jvm_canary"] = round(time.perf_counter() - t0, 4)
    for name, spec in registry.items():
        action = ACTION.get(name, "collect")
        q_sf = SWEEP_SF_OVERRIDE.get(name, sf_dir)
        try:
            run_action(spec.fn(spark, q_sf), action)  # warm-up
            t0 = time.perf_counter()
            run_action(spec.fn(spark, q_sf), action)
            t1 = round(time.perf_counter() - t0, 4)
            timings[name] = t1
            # best-of-1 jitter guard (VERDICT r16 #6): a row >1.5x its
            # prior committed sweep re-measures ONCE and records both,
            # so a regression-vs-jitter read is data, not inference;
            # the recorded time is the min (what the machine can do).
            if name in prior and prior[name] > 0 and t1 > 1.5 * prior[name]:
                t0 = time.perf_counter()
                run_action(spec.fn(spark, q_sf), action)
                t2 = round(time.perf_counter() - t0, 4)
                timings[name] = min(t1, t2)
                remeasured[name] = {
                    "prior_sec": prior[name],
                    "first_sec": t1,
                    "remeasured_sec": t2,
                    "recorded_sec": timings[name],
                    "still_regressed": timings[name] > 1.5 * prior[name],
                }
        except Exception as e:  # record, keep sweeping
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        print(
            f"[bench_full] {len(timings) + len(errors) - 1}/{len(registry)} "
            f"{name}: {timings.get(name, 'ERR')}",
            file=sys.stderr,
            flush=True,
        )

    fams: dict[str, list[float]] = {}
    for n, t in timings.items():
        if n != "calibration_jvm_canary":
            fams.setdefault(family(n), []).append(t)
    med = {f: statistics.median(v) for f, v in fams.items()}
    outliers = {
        n: {
            "sec": t,
            "family": family(n),
            "family_median_sec": round(med[family(n)], 4),
            "ratio": round(t / med[family(n)], 2),
        }
        for n, t in timings.items()
        if n != "calibration_jvm_canary"
        and med[family(n)] > 0
        and t / med[family(n)] > 2.0
        and t > 0.5  # sub-half-second rows are scheduling noise
    }
    payload = {
        "metric": "full_registry_sweep_warm_best1",
        "value": round(
            sum(v for k, v in timings.items() if k != "calibration_jvm_canary"), 4
        ),
        "unit": "sec",
        "sf": os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""),
        "n_queries": len(timings) - 1,
        "n_errors": len(errors),
        "errors": errors,
        "sf_overrides": {
            n: d for n, d in sorted(SWEEP_SF_OVERRIDE.items()) if n in timings
        },
        "family_median_sec": {f: round(m, 4) for f, m in sorted(med.items())},
        "remeasured_over_1p5x_prior": dict(sorted(remeasured.items())),
        "outliers_over_2x_family_median": dict(
            sorted(outliers.items(), key=lambda kv: -kv[1]["ratio"])
        ),
        "queries": timings,
        "provenance": {
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "shuffle_partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
            "pid": os.getpid(),
        },
    }
    out = unclobbered(os.path.join(HERE, f"BENCH_FULL_r{_next_round()}"))
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps({k: payload[k] for k in ("metric", "value", "unit", "n_queries", "n_errors")}))
    print(f"[bench_full] wrote {out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
