"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the
``hadoop_based_distributed_batch_processing_system_spark`` package;
this module only adapts its operator registry to the driver's
three-function surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hadoop_based_distributed_batch_processing_system_spark.registry import REGISTRY, load_all

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver verifies queries in dict order and has a bounded budget
# (round 1: exactly the first 50). Registration order is rotated each
# round so every registry entry lands on the driver's scoreboard:
# queries never driver-verified come first (highest-risk first), and
# queries already green in a past CORRECTNESS_r{N}.json go last (they
# stay registered — local parity tests guard them against regression).
# Past-round results are read from the CORRECTNESS files themselves, so
# the rotation maintains itself round over round.


# Events blast radius: every query whose result depends on events.ts.
# The corpus regenerated between rounds 2 and 3 (ts NANOS → MICROS) and
# all of these either errored, produced wrong answers, or carry stale
# green rows measured against the OLD corpus. Rounds ≤ 3 therefore
# cannot attest them: their pre-r4 CORRECTNESS rows are ignored below
# so each re-earns a driver row against today's corpus + fixed ingest.
_EVENTS_TAINTED_BEFORE_ROUND = 4
_EVENTS_TAINTED = {
    "sink_partition_pruned", "compact_small_files", "join_dynamic_partition_pruning",
    "join_asof", "agg_count_distinct_salted", "topk_heavy_hitters_mg",
    "pivot_event_type_daily", "win_lag_lead", "win_first_last_ignore_nulls",
    "secondary_sort_user_timeline", "fn_map", "fn_json", "fn_json_struct",
    "fn_variant", "fn_xml", "window_tumbling", "window_sliding", "window_session",
    "watermark_late_drop", "stateful_dedup", "dedup_debounce_window",
    "events_anomaly_zscore", "timeseries_resample_locf", "rollup_hypertable_daily",
    "funnel_conversion", "cohort_retention", "stream_window_tumbling",
    "stream_window_sliding", "stream_window_session", "stream_stateful_dedup",
    "stream_stateful_user_totals", "stream_static_join", "stream_stream_join",
    "stream_foreach_batch_upsert", "stream_append_closed_windows",
    "stream_file_sink_exactly_once", "partitioner_hash", "partitioner_range",
    "counters_job_audit", "sql_catalog_query", "sql_parameterized",
}


def _verified_past_rounds() -> list[str]:
    """Names with a passing driver row in any past CORRECTNESS file:
    hash-verified (rows+schema+hash all true), or a clean rows-only
    run (err == 'no_oracle') for a query that STILL has no oracle — a
    query that has since gained an oracle was never hash-checked, so
    it re-enters the front for a hash-verified row. ERROR rows never
    count, nor do events-tainted rows from before round 4 (stale
    corpus). Ordered by NEWEST passing round ascending (first-seen
    order as tiebreak): the verified back of the window then drains
    the STALEST attestations first, round over round, with no
    hand-curated refresh lists — round 9's change; the previous
    first-seen order kept refreshing the same early-green cohort
    while 40 queries sat on round-2 rows (VERDICT r08)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    newest: dict[str, int] = {}
    first_seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            if name in _EVENTS_TAINTED and rnd < _EVENTS_TAINTED_BEFORE_ROUND:
                continue
            hash_pass = rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match")
            rows_only_ok = (
                rec.get("err") == "no_oracle"
                and rec.get("spark_rows") is not None
                and (name not in REGISTRY or REGISTRY[name].oracle is None)
            )
            if hash_pass or rows_only_ok:
                newest[name] = max(newest.get(name, 0), rnd)
                first_seen.setdefault(name, len(first_seen))
    return sorted(newest, key=lambda n: (newest[n], first_seen[n]))

def _ordered_names() -> list[str]:
    """Never-verified entries first, in registration order, then the
    verified ones stalest-first (``_verified_past_rounds``)."""
    verified = [n for n in _verified_past_rounds() if n in REGISTRY]
    placed = set(verified)
    return [n for n in REGISTRY if n not in placed] + verified


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-shape
    pricing summary (filter → group-by → 8 aggregates) on lineitem."""
    load_all()
    return REGISTRY["agg_group"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    rotated verification-priority order (see _ordered_names)."""
    load_all()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omitted entries (sketches, sinks,
    partitioning, streaming) get the driver's rows-only check."""
    load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
