#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Method matches BASELINE.md: per query, 1 warm-up run then best of 3
timed ``collect()``s (per-query overhead ~80-150 ms of Spark job
scheduling dominates at this scale; see BASELINE.md §Interpretation).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set mirrors BASELINE.md rows (names on the left are ours).
HEADLINE = [
    "agg_group",            # q1_pricing_summary
    "join_shipping_priority",  # q3 shape
    "join_multiway",        # q5 shape
    "agg_global",           # q6 shape
    "agg_count_distinct",   # grouped distinct (harder shape, kept for trend)
    "agg_count_distinct_global",  # BASELINE.md distinct_customers, like-for-like
    "win_rank",             # window rank, full top-3 output (kept for trend)
    "win_rank_limited",     # BASELINE.md window_rank_orders, like-for-like
    "topk",                 # order by + limit
    "window_tumbling",      # events hourly agg
    "window_sliding",       # overlapping hourly windows, 15-min slide
    "window_session",       # gaps-and-islands sessionization
    "timeseries_resample_locf",  # dense hourly grid + LOCF gap-fill
    "q18_large_orders",     # composite: semi join + HAVING, top-100
    "fn_json",              # events json extract
    "dedup_exact",          # docs md5 dedup
    "text_wordcount",       # tokenize + word frequency (the MR demo)
    "dedup_minhash_lsh",    # near-dup via MinHash banding
    "sim_search_topk_blas", # all-pairs cosine top-k, blocked GEMM
    "sim_search_ann_lsh",   # bucketed ANN, cogroup GEMM kernel
    "sim_search_ann_ivf",   # IVF ANN, learned centroids + inverted lists
    "knn_label_vote",       # kNN classification
    "multimodal_join",      # docs ⋈ embeddings retrieval shape
    "sample_hash_deterministic",  # pushed-down deterministic 10% sample
    "doc_chunk_sliding",    # corpus -> overlapping training chunks (zero-shuffle)
    "pack_sequences_concat_chunk",  # causal-LM sequence packing (window cumsum)
    "text_unigram_logprob_score",   # CCNet-style LM quality score (broadcast vocab)
    "pipeline_training_data_prep",  # filter -> quality gate -> dedup -> stats, one plan
    "join_range_binned",    # pure band join via bin equi-join (no nested loop)
    "topk_heavy_hitters_mg",  # one-pass Misra-Gries heavy hitters
    "embed_random_projection",  # JL 64->16 narrow map
    "mm_audio_decode_wav",  # real WAV synth+decode through a binary column
    "events_markov_transitions",  # per-user lead() window -> transition matrix
    "timeseries_ewma",      # ordered per-series fold (JVM aggregate lambda)
    "bpe_pair_counts",      # tokenizer merge statistic, alphabet^2 shuffle
    "text_bigram_logprob_score",  # 2nd-order LM quality score, (w1,w2) model join
    "dedup_containment",    # df-capped inverted shingle index, hashed keys
    "triangle_count",       # degree-oriented wedge counting, 1995 co-purchase graph
    "window_session_capped",  # gap sessions split every 4h, one user_id shuffle
    "rollup_incremental_merge",  # history partials + pruned delta merge
    "events_top_paths",     # order-2 paths, two leads on one window spec
    "cohort_ltv_curve",     # cohort x age cumulative LTV, one custkey shuffle
    "fuzzy_join_delete1",   # SymSpell delete-1 blocking vs all-pairs levenshtein
    "spatial_grid_join",    # 3x3 grid-cell blocking vs cross-join circle test
    "scd2_point_in_time_join",  # PIT lookup as one as-of union-window pass
    "join_interval_overlap_binned",  # two-sided interval overlap via bin blocking
    "user_rfm_segments",    # 3 quintile scores via two-phase bucketed ranks
    "eval_auc_rank_sum",    # exact AUC, bucketed global ranks + one aggregate
    "dq_expectations",      # N expectation rules in ONE scan (vs rule-per-scan)
    "market_basket_rules",  # pair rules, support-pruned before the stats joins
    "text_ngram_novelty",   # corpus df per shingle, lambda-bound hashed keys
    "decontaminate_against_benchmark",  # broadcast hashed-shingle contamination join
    "graph_degree_distribution",  # bounded per-order pair join + degree histogram
    "table_diff_snapshots", # full-outer snapshot diff, churn-sized output
    "dedup_repeated_ngram_spans",  # cross-doc 5-gram spans, lambda-bound hashed grams
    "pipeline_corpus_curation_v3",  # dedup -> decontaminate -> span accounting, one plan
    "text_winnowing_fingerprints",  # MOSS winnowing selection, lambda-bound grams
    "entity_resolution_names",  # delete-1 match graph -> checkpointed label prop -> survivorship
    "sim_search_pq",        # product-quantization ADC, literal codebook narrow map
    "sim_search_hybrid_rrf",  # BM25 + cosine pools fused by reciprocal-rank
    "events_activity_bursts",  # global islands via bucketed boundary merge
    "logreg_embeddings",    # 3-step batch GD, literal-model fold + dim aggregate
    "dedup_winnowing_pairs",  # winnowing fingerprints -> df-capped posting join
    "corpus_health_report", # one-row scorecard, stats fused into two jobs
    "mm_decode_real_gif",   # multi-frame GIF synth + LZW decode + frame sampling
    "text_naive_bayes_lang",  # NB train+classify, sparse unseen-word decomposition
    "sketch_kmv_distinct",  # KMV theta sketches, WindowGroupLimit partial top-k
    # --- round-9 rows: the round-7/8 operators the r08 verdict flagged
    # as unbenched, the heaviest legacy rows that lacked a baseline,
    # and the round-9 additions.
    "graph_bfs_hops",       # 3-round Pregel-shape min-hop relaxation
    "timeseries_holt_forecast",  # integer Holt fold per series + 3-step forecast
    "attribution_position_based",  # 40/40/20 multi-touch credit in a purchase window
    "eval_ndcg_at_k",       # graded position-discounted retrieval metric
    "agg_quantile_sketch_kmv",  # k-min-by-hash quantile sample, WindowGroupLimit
    "dedup_simhash_portable",  # md5-plane simhash + pigeonhole chunk blocking
    "privacy_t_closeness",  # exact-integer TVD vs corpus distribution
    "bpe_train_merges",     # 10-round merge-loop training on the vocab table
    "graph_kcore_peel",     # 6-round parallel peel, checkpoint-truncated
    "stream_quantile_kmv_stateful",  # live per-type p50/p90, k-pair keyed state
    "mm_decode_dispatch",   # sniff-and-route real decode (BMP/WAV/GIF)
    "bpe_apply_segment",    # tokenizer inference: fold learned merges over new docs
    "graph_label_propagation",  # 4-round synchronous LPA communities
    "stream_topk_mg_stateful",  # live Misra-Gries heavy hitters, keyed slots
    "ml_decision_stump",    # histogram split finding, one scan + bounded argmax
    "dedup_allpairs_prefix",  # exact prefix-filter set-similarity join
    "graph_hits",           # 6-round hubs/authorities, end-normalized
    "feature_woe_iv",       # WOE/IV scorecard, domain-bounded rollup windows
    "text_pmi_collocations",  # PMI phrase mining, one scan + vocab-sized joins
    "feature_quantile_binning",  # exact quartile binning via bucketed rank
    "graph_sssp_weighted",  # 4-round Bellman-Ford, integer edge weights
    "stream_moments_stateful",  # live per-user moments, integer-triple state
    "sample_weighted_reservoir",  # A-ES weighted sample, WindowGroupLimit top-k
    "sim_search_tfidf_sparse",  # sparse tf-idf cosine pairs, df-capped index
    "events_sequence_pattern",  # CEP regex funnel over per-user event strings
    "stream_sequence_pattern",  # live CEP automaton, 4-int keyed state
    "dq_benford_first_digit",  # Benford screen, 9-row rollup + scalar total
    "mm_decode_real_jpeg",  # baseline-JPEG entropy decode, real Huffman+IDCT
    # --- round-10 rows
    "dedup_semantic_lsh",   # banded hyperplane blocking + exact cosine verify
    "graph_cc_twophase",    # large-star/small-star CC, O(log^2) alternations
    "table_log_time_travel",  # commit-log snapshots, manifest-stats read
    "table_log_incremental_read",  # CDC-style per-commit change sets
    # --- round-11 rows
    "table_log_merge_upsert",  # CoW MERGE commit + OCC + checkpointed read
    "stream_table_log_feed",   # commit-version-offset CDC stream drain
    "sim_search_ann_ivf_persisted",  # probe-join against the persisted IVF index
    "table_log_schema_evolution",  # add-column commit + union-schema snapshot read
    "table_log_compact_commit",  # OPTIMIZE-style sorted rewrite as one commit
    "table_log_vacuum_retention",  # retention GC below the log
    "stream_table_log_feed_partitioned",  # executor-side parallel CDC drain
    "stream_table_log_replicate",  # CDC feed applied as transactional replica commits
    "table_log_deletion_vectors",  # row-level deletes via sidecar anti-join
    "table_log_stats_pruned_read",  # manifest-stats file skipping before any footer
    # --- round-12 rows
    "table_log_time_travel_as_of",  # timestamp -> version resolution + snapshot read
    "table_log_compact_materialize_dv",  # DV-applying compaction, zero bindings after
    "table_log_zorder_pruned_read",  # 2-D Morton clustering + two-column stats pruning
    "stream_table_log_ingest",  # stream -> one commit per batch, batch-id idempotent
    # --- round-13 rows
    "table_log_restore",  # snapshot promoted back to head as one metadata commit
    "table_log_delete_where",  # predicate -> per-file DV-vs-CoW mechanism choice
    "table_log_update_set",  # predicate -> CoW rewrite of only affected files
    "sim_search_ann_ivf_delta",  # delta inverted-list commit, base+delta probe join
    # --- round-14 rows
    "table_log_cdc_dml",  # DV-complete change feed over the DML lifecycle
    "stream_table_log_replicate_dml",  # replication through a DV-only DELETE commit
    "table_log_cdc_restore",  # rollback's row-level change feed (touch pairs)
    # --- round-14 extension rows (SURVEY §7 candidate queue (a,b,d,e))
    "table_log_wap_publish",  # branch-staged append, audited then published
    "table_log_cdc_images",  # row-level pre/post images, rewrite noise cancelled
    "table_log_multi_asof",  # cross-table consistent as-of, DV-aware snapshots
    "table_log_compact_trigger",  # metadata-only skip/fire maintenance decision
    "stream_events_table_ingest",  # real events file-stream -> commit per batch
    "table_log_rollup_incremental",  # change-feed-maintained daily rollup (MV)
    "table_log_clone_shallow",  # zero-copy clone + local DV on a borrowed file
    "table_log_ts_pruned_read",  # time-clustered rewrite + ISO-bound file pruning
    "table_log_check_constraint",  # CHECK as replayed log state, write-job enforced
    "stream_table_log_mv_live",  # live streaming MV folding the DML'd feed
    "table_log_cdc_images_lineage",  # rid-paired images across a key-changing rewrite
    "table_log_partition_evolution",  # spec change as metadata, cross-layout pruning
    "table_log_multi_table_txn",  # coordinator-driven all-or-nothing 2-table publish
    "stream_ingest_schema_evolution",  # mid-stream widening, checkpoint-resumed drain
    # --- round-15 rows (VERDICT r14 #3, #5, #8)
    "table_log_column_mapping",  # RENAME/DROP as metadata, binding-cohort read
    "table_log_clone_deepen",  # still-retained borrowed bytes re-homed, one commit
    "agg_decimal_exact",  # DECIMAL(18,2) parquet round-trip, exact grouped sums
    "window_dst_boundary",  # civil-time bucketing across both 2024 DST jumps
    "table_log_catalog_txn",  # visibility-atomic multi-table txn via pointer swap
    "sim_search_ann_ivf_vacuumed",  # index retrain + retention sweep, served after
    "table_log_history",  # DESCRIBE HISTORY: commit metadata + one-pass content
    "stream_ingest_column_mapping",  # rename between micro-batches, zero disruption
    "table_log_catalog_asof",  # whole-database historical read through one pin set
    "table_log_colmap_delete",  # logical-name DELETE doomed across both spellings
    # --- round-16 rows (VERDICT r15 #3, #4, #5, #7)
    "table_log_colmap_compact",  # OPTIMIZE under mapping: re-spell + re-bind + DV purge
    "table_log_catalog_multi_asof",  # cross-table as-of via catalog-version pins
    "stream_ingest_colmap_drop",  # DROP between micro-batches, bytes unreachable from birth
    "sim_search_ann_ivf_quantized",  # integer IVF: the hash-oracled list-scan rung
    "table_log_vacuum_catalog_floor",  # reclaim clamped to the oldest catalog pin
    "table_log_colmap_update",  # CoW update under mapping, respell-then-update
    "table_log_colmap_cdf",  # change feed re-spelled per binding signature
    "stream_table_log_replicate_colmap",  # replica never learns the rename
    "sim_search_ann_ivf_quantized_persisted",  # hash-pinned persisted ANN index
    "table_log_colmap_merge",  # upsert under mapping, source-driven CoW
    "table_log_catalog_cdf",  # swap-atomic cross-table change feed
    "sim_search_ann_ivf_quantized_delta",  # add-only index appends, hash-pinned
    "sim_search_ann_ivf_quantized_compacted",  # the LSM fold, dataChange:false
    "table_log_colmap_restore",  # rollback across a rename, schema hash-pinned
    "stream_catalog_cdf",  # swap-offset streaming CDC, batch-twin oracle
    "table_log_colmap_dml_chain",  # DELETE->UPDATE->MERGE composed, one root
    "table_log_colmap_partition_evolution",  # two-axis pruning, one mechanism
    "table_log_colmap_check",  # logical CHECK translated per writer spelling
    "stream_catalog_replicate",  # warehouse replica, one swap per swap
    "sim_search_ann_ivf_quantized_rebuilt",  # drift-dial retrain, hash-pinned
    # --- round-17 rows (VERDICT r16 #3, #5)
    "table_log_bucketed_join",  # bucket(key,N) in the log, zero-Exchange co-located join
    "sim_search_ann_ivf_quantized_vacuumed",  # index retention under a catalog floor pin
]

# Queries whose collect() would measure Py4J row transport of a
# users×hours-sized result rather than the plan (BASELINE.md's own
# caveat on timeseries_resample_locf: ~95% of 6.5 s was serializing
# the 1.05M-row dense grid). The noop sink forces FULL computation of
# every output column with zero transport — unlike count(), which
# lets Catalyst prune unused window/projection work and so measures
# different plans for different formulations of the same query. The
# matching baseline row is measured with the noop sink too.
ACTION = {
    "timeseries_resample_locf": "noop",
    # Same caveat, found by the r15 full-registry sweep: each returns
    # a table-sized frame (0.15M-1M rows x up to 12 cols), so collect()
    # times Py4J transport, not the plan. The noop sink computes every
    # output column with zero transport.
    "timeseries_interpolate_linear": "noop",  # users x hours dense grid
    "scan_projected": "noop",  # full-table 2-column projection
    "fn_math": "noop",  # 600k rows x 12 computed columns
    "fn_conversions": "noop",  # 150k rows x 6
    "fn_datetime": "noop",  # 150k rows x 9
}

# The 10 BASELINE.md headline rows (TPC-H shapes + the original core
# set). The driver's BENCH artifact keeps only the LAST 2000 chars of
# bench stdout, and the full queries dict outgrew that in round 9 —
# these fell off the recorded artifact and had to be re-measured by
# hand (VERDICT r09 item 4). They are therefore repeated in a trailing
# "headline" JSON key, emitted last so the artifact tail always holds
# them.
HEADLINE_BASELINE_ROWS = [
    "agg_group",
    "join_shipping_priority",
    "join_multiway",
    "agg_global",
    "agg_count_distinct_global",
    "win_rank_limited",
    "topk",
    "window_tumbling",
    "fn_json",
    "dedup_exact",
]


def run_action(df, action: str) -> None:
    if action == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        getattr(df, action)()


def jvm_canary(spark):
    """Fixed PURE-JVM calibration row (VERDICT r12 item 1b): constant
    self-contained work — no corpus, no Python, no shuffle — so
    uniform environmental drift between bench artifacts (machine
    load, CPU contention) is detectable and normalizable: if the
    canary moved 1.3x, a fleet-wide 1.3x is the environment, not a
    regression."""
    import pyspark.sql.functions as F

    return spark.range(0, 30_000_000, 1, 8).select(
        F.sum((F.col("id") * 2 + 7) % 1000003).alias("s")
    )


def _next_round() -> int:
    """Infer the upcoming round number from the newest recorded
    driver artifact (BENCH_rNN exists for every finished round)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def _canary_reference(here: str | None = None) -> float | None:
    """Median JVM-canary of the LAST THREE recorded payloads
    (BENCH_LOCAL_r*.json incl. reruns, ordered by round then rerun):
    the trailing-round band a fresh measurement is judged against.
    None when fewer than 2 prior payloads exist (nothing to gate
    on)."""
    import glob
    import re
    import statistics

    here = here or os.path.dirname(os.path.abspath(__file__))
    rows: list[tuple[int, int, float]] = []
    for p in glob.glob(os.path.join(here, "BENCH_LOCAL_r*.json")):
        m = re.search(r"BENCH_LOCAL_r(\d+)(?:\.rerun(\d+))?\.json$", p)
        if not m:
            continue
        try:
            c = json.load(open(p))["queries"]["calibration_jvm_canary"]
        except (OSError, ValueError, KeyError):
            continue
        rows.append((int(m.group(1)), int(m.group(2) or 0), float(c)))
    rows.sort()
    tail = [c for _, _, c in rows[-3:]]
    return statistics.median(tail) if len(tail) >= 2 else None


# A canary this far above the trailing band means the MACHINE is
# loaded (another JVM starting, a parallel build) — the payload would
# record environment, not plans (VERDICT r15: the official r15
# artifact carried a 0.46 s canary vs the 0.16-0.23 s band and read
# as a fleet-wide regression until clean reruns deconfounded it).
_CANARY_GATE_RATIO = 1.5
_CANARY_GATE_RETRIES = 3


def _measure_canary(spark) -> float:
    run_action(jvm_canary(spark), "collect")  # warm-up
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        run_action(jvm_canary(spark), "collect")
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def unclobbered(stem: str) -> str:
    """``stem.json``, or the first free ``stem.rerunK.json`` when an
    earlier run of the round already wrote it: the first run owns the
    name and later runs land beside it, so no payload is overwritten."""
    path = f"{stem}.json"
    k = 1
    while os.path.exists(path):
        path = f"{stem}.rerun{k}.json"
        k += 1
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
    from hadoop_based_distributed_batch_processing_system_spark.session import get_spark

    registry = load_all()
    names = [n for n in HEADLINE if n in registry]
    # Apples-to-apples with BASELINE.md: the baseline was measured at
    # spark.sql.shuffle.partitions=8 (BASELINE.md §Provenance); earlier
    # rounds benched at the engine default 2×cores=64, which at sf0.1
    # pays ~64 empty-task scheduling overheads per shuffle and explained
    # most of the fleet-wide ~1.5× drift (worst: topk 2.17×). Env var
    # still wins if the driver sets one.
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ:
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "8"
    spark = get_spark(app_name="hbdbps-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    # calibration canary FIRST (fixed pure-JVM work): later artifacts
    # divide by it to separate environmental drift from regressions.
    # CANARY GATE (VERDICT r15 #2): a canary above 1.5x the trailing
    # band means the machine is loaded — re-measure (bounded retries)
    # rather than record an environment artifact; if it never settles,
    # the payload is written but self-flagged in provenance so no
    # round-over-round diff mistakes it for a regression.
    canary_ref = _canary_reference()
    canary = _measure_canary(spark)
    attempts = 1
    while (
        canary_ref is not None
        and canary > _CANARY_GATE_RATIO * canary_ref
        and attempts <= _CANARY_GATE_RETRIES
    ):
        time.sleep(3.0)
        canary = _measure_canary(spark)
        attempts += 1
    canary_gate = {
        "reference_median": canary_ref,
        "ratio_limit": _CANARY_GATE_RATIO,
        "attempts": attempts,
        "ok": canary_ref is None or canary <= _CANARY_GATE_RATIO * canary_ref,
    }
    timings["calibration_jvm_canary"] = canary
    for name in names:
        fn = registry[name].fn
        action = ACTION.get(name, "collect")
        run_action(fn(spark, sf_dir), action)  # warm-up (plan + IO cache)
        # Each timed run rebuilds the DataFrame (fresh lineage, so no
        # cross-run shuffle-file reuse — timing one shared DataFrame
        # object would skip whole stages on runs 2-3 and overstate).
        # The table scans themselves are memoized in load_table, so a
        # rebuild costs plan analysis only — matching a catalog-table
        # workflow (and BASELINE.md, whose per-run cost excluded file
        # listing/schema inference; that gap was the topk "2.17×").
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            run_action(fn(spark, sf_dir), action)
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total_warm_best3",
        # the canary is a calibration row, not a query: including it
        # in the total skewed round-over-round comparisons against
        # pre-r13 artifacts (ADVICE r13) — it stays in queries/headline
        # for normalization but never in the sum
        "value": round(
            sum(v for k, v in timings.items() if k != "calibration_jvm_canary"),
            4,
        ),
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        # per-query sink where it differs from collect() (ADVICE r15:
        # five rows moved to the noop sink in r15 and the step change
        # was unflagged in the artifact — cross-round trend reads need
        # the methodology recorded in-band)
        "actions": {n: a for n, a in sorted(ACTION.items()) if n in timings},
        # LAST on purpose: the recorded artifact is a 2000-char
        # stdout tail; keys after "queries" survive it. The canary
        # rides here so every truncated artifact still carries it.
        "headline": {
            n: timings[n]
            for n in ["calibration_jvm_canary", *HEADLINE_BASELINE_ROWS]
            if n in timings
        },
    }
    print(json.dumps(payload))
    # The driver's BENCH_rNN artifact preserves only a 2000-char
    # stdout TAIL — ~280 of the per-query timings fall off it every
    # round, blinding round-over-round regression audits (VERDICT
    # r12 item 1a). Persist the COMPLETE per-query payload in the
    # repo so every row is comparable next round.
    # Both the round-close (builder) run and the driver's per-round
    # rerun are valuable — r13's driver rerun overwrote the committed
    # builder payload (VERDICT r13 item 5). Never clobber: the first
    # run of a round owns BENCH_LOCAL_rNN.json; later runs land beside
    # it as .rerunK, and every payload carries provenance.
    payload["provenance"] = {
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "shuffle_partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
        "pid": os.getpid(),
        "canary_gate": canary_gate,
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        local = unclobbered(os.path.join(here, f"BENCH_LOCAL_r{_next_round()}"))
        with open(local, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # a read-only checkout must not fail the bench
    spark.stop()


if __name__ == "__main__":
    main()
