"""Sort / limit / top-k operators (SURVEY.md §2.6, O1-O3).

Reference-class parity: total-order sort is the TeraSort /
``TotalOrderPartitioner`` pattern (public Hadoop surface); top-k and
secondary-sort-per-key are canonical MR idioms.

Scale notes:
- O1 ``orderBy`` range-partitions by sampled split points — the same
  idea as TotalOrderPartitioner, built in. A full global sort of
  100 TB is a deliberate act; everything else here avoids it.
- O2 compiles to ``TakeOrderedAndProject``: per-partition top-k
  heaps, then a k-sized merge on the driver — no global sort, no
  full shuffle. This is THE way to take top-k at scale.
- O3 shuffles once on the group key and sorts within partitions —
  never globally.
- Engine convention (SURVEY §4.3): every LIMIT carries a unique
  tiebreaker in its ORDER BY, otherwise ties make output
  nondeterministic across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hadoop_based_distributed_batch_processing_system_spark.registry import register
from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
    corpus_tag,
    load_table,
    session_parallelism,
)


@register(
    "sort_global",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
    """,
    tags=("O1",),
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — global total-order sort (range-partitioned, TeraSort
    pattern)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


@register(
    "topk",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    tags=("O2",),
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — ORDER BY + LIMIT k → ``TakeOrderedAndProject`` (per-
    partition heaps + driver merge of k rows; no global sort)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "topk_per_group",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    tags=("O3",),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — k best per key (the MR secondary-sort pattern): one
    shuffle on the group key, per-partition sort, early filter."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register(
    "secondary_sort_user_timeline",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS timeline
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("O3", "secondary-sort"),
)
def secondary_sort_user_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3' — the literal MapReduce SECONDARY SORT translation: route
    all rows of a key to one partition (``repartition(key)``), sort
    each partition by (key, ts, event_id) (``sortWithinPartitions``
    — the shuffle's sort phase, never a global sort), then a single
    forward scan per partition emits each user's event-type timeline
    in time order. The scan is ``mapInPandas`` with carry-over state
    between Arrow batches, because one user's run of rows may span a
    batch boundary — exactly the reduce()-iterator contract the
    reference class gives user code. Oracle: ordered ``string_agg``
    proves both the grouping and the within-key order."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")

    def scan(batches):
        carry_uid = None
        carry_types: list[str] = []
        carry_n = 0
        for pdf in batches:
            for uid, grp in pdf.groupby("user_id", sort=False):
                types = list(grp["event_type"])
                if uid == carry_uid:
                    carry_types.extend(types)
                    carry_n += len(types)
                else:
                    if carry_uid is not None:
                        yield pd.DataFrame(
                            {"user_id": [carry_uid], "n_events": [carry_n], "timeline": [">".join(carry_types)]}
                        )
                    carry_uid, carry_types, carry_n = uid, types, len(types)
        if carry_uid is not None:
            yield pd.DataFrame(
                {"user_id": [carry_uid], "n_events": [carry_n], "timeline": [">".join(carry_types)]}
            )

    return (
        ev.repartition(session_parallelism(spark), "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(scan, "user_id long, n_events long, timeline string")
        .orderBy("user_id")
    )


@register("sink_sorted_runs", tags=("O1", "S4"))  # rows-only: file layout is not SQL-visible
def sink_sorted_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TeraSort's write half: range-partition on the sort key, sort
    within each partition, write one file per range — globally sorted
    output as N sorted runs with disjoint, ordered key ranges (file i
    's max <= file i+1's min). This is `TotalOrderPartitioner` +
    per-reducer sort, and the layout that gives downstream readers
    merge-free global order. Returns per-file (min, max, rows) so the
    test can assert the disjoint-range invariant."""
    import os
    import tempfile

    tag = corpus_tag(sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"hbdbps_sorted_runs_{tag}")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    (
        orders.repartitionByRange(8, "o_totalprice", "o_orderkey")
        .sortWithinPartitions("o_totalprice", "o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    per_file = (
        spark.read.parquet(out)
        .select("o_totalprice", F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("min_price")
    )
    return per_file.select("min_price", "max_price", "n_rows")


def _morton_spread(var: str, shl) -> str:
    """Classic 16->32-bit Morton spread as a SQL expression string:
    interleave zeros between the bits of ``var`` via the magic-mask
    shift cascade. ``shl(expr, n)`` renders a left shift in the
    target dialect (Spark: shiftleft(); DuckDB: <<) — the arithmetic
    is otherwise dialect-identical, so both engines compute the same
    key from the same masks."""
    x = f"CAST({var} AS BIGINT)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        x = f"(({x} | {shl(x, shift)}) & {mask})"
    return x


def _morton_expr(a: str, b: str, shl) -> str:
    return f"({_morton_spread(a, shl)} | {shl(_morton_spread(b, shl), 1)})"


_ZORDER_A = "CAST(least(floor(o_totalprice / 8.0), 65535) AS BIGINT)"
_ZORDER_B = "CAST(least(datediff('day', TIMESTAMP '1995-01-01', o_orderdate), 65535) AS BIGINT)"
_ZORDER_B_SPARK = "CAST(least(datediff(o_orderdate, TIMESTAMP '1995-01-01'), 65535) AS BIGINT)"


@register(
    "layout_zorder_key",
    oracle=f"""
        SELECT o_orderkey,
               {_morton_expr(_ZORDER_A, _ZORDER_B, lambda x, n: f"({x} << {n})")} AS zkey
        FROM orders
    """,
    tags=("O1", "layout"),
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) locality key over (price bucket, order day) —
    the multi-dimensional data-layout technique behind lakehouse
    Z-ORDER clustering: sorting by the interleaved-bit key keeps rows
    close in BOTH dimensions close on disk, so parquet row-group
    min/max statistics prune scans filtered on EITHER column (a
    single-column sort only prunes its own column). The key is pure
    bit arithmetic (mask-shift cascade) — identical in both engines,
    so even the layout key itself is hash-checked. Pair with
    repartitionByRange(zkey) + sortWithinPartitions(zkey) to
    materialize the clustered layout (the sink_sorted_runs shape)."""
    o = load_table(spark, sf_dir, "orders")
    expr = _morton_expr(
        _ZORDER_A, _ZORDER_B_SPARK, lambda x, n: f"shiftleft({x}, {n})"
    )
    return o.select("o_orderkey", F.expr(expr).alias("zkey"))


@register(
    "rownum_scalable_global",
    oracle="""
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        FROM orders
    """,
    tags=("O1", "rownum"),
)
def rownum_scalable_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global contiguous row numbering WITHOUT the single-partition
    window. ``ROW_NUMBER() OVER (ORDER BY k)`` with no PARTITION BY
    collapses all data into one task — the canonical scale trap
    (Spark even warns). The scalable recipe:

    1. bucket each row by a DETERMINISTIC function of the key (here:
       8 equal-width ranges between min and max, one cheap agg; at
       scale, boundaries come from a sampled quantile pass computed
       ONCE and baked in as literals — the point is that bucketing
       must be a pure function of the data, NOT re-sampled per job:
       ``repartitionByRange`` re-samples boundaries on every action,
       so offsets computed in one job need not match the partitioning
       of the next);
    2. count rows per bucket — #buckets rows to the driver, bounded
       by the bucket count, never by n; global offset per bucket =
       exclusive prefix sum;
    3. each bucket sorts locally and numbers rows offset+1..offset+n
       (``applyInPandas`` per bucket; memory bound = bucket size,
       the same bound any sort task has).

    ``monotonically_increasing_id`` cannot do this: its ids are
    unique but NOT contiguous (63-bit partition-stamped gaps)."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    n_buckets = 8
    width = max(1, (hi - lo + n_buckets) // n_buckets)
    with_pid = orders.withColumn("pid", ((F.col("o_orderkey") - lo) / width).cast("int"))

    counts = with_pid.groupBy("pid").count().orderBy("pid").collect()
    offsets = {}
    acc = 0
    for r in counts:
        offsets[r["pid"]] = acc
        acc += r["count"]

    def number_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey")
        base = offsets[int(pdf["pid"].iloc[0])]
        return pd.DataFrame(
            {"o_orderkey": pdf["o_orderkey"], "rn": range(base + 1, base + 1 + len(pdf))}
        )

    return with_pid.groupBy("pid").applyInPandas(number_bucket, "o_orderkey long, rn long")


def bucketed_rank_cumsum(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: list[str],
    *,
    value_col: str | None = None,
    descending: bool = False,
    n_buckets: int = 32,
):
    """Two-phase GLOBAL row-number (+ optional global running sum)
    without the single-partition window — the library form of the
    ``rownum_scalable_global`` recipe, shared by every ranking /
    Lorenz-curve operator (Gini, Pareto share, ABC classes, AUC).

    ``ROW_NUMBER() OVER (ORDER BY x)`` with no PARTITION BY funnels
    every row through ONE task. Here instead:

    1. one agg for min/max of ``order_col``; rows bucket into
       ``n_buckets`` equal-width ranges via a PURE function of the
       value (deterministic across jobs — ``repartitionByRange``
       re-samples boundaries per action, so it cannot carry offsets
       between jobs). Equal order values share a bucket, so the
       bucket id is monotone with the (order_col, tiebreak) order.
    2. per-bucket COUNT (+ SUM of ``value_col``) — at most
       ``n_buckets`` rows to the driver; exclusive prefix sums give
       each bucket its global row-number and running-sum offsets.
    3. a window PARTITIONED BY bucket ranks/sums locally; offsets
       are added back via a literal map projection (no join, no
       extra shuffle). Peak task memory = one bucket, not the table.

    At 100 TB, replace step 1's min/max with sampled quantile
    boundaries baked in as literals (evens out value skew); the
    plan shape is unchanged. Caches ``df`` (callers pass an
    entity-level aggregate, bounded by the entity count) so the
    stats pass and the final window reuse one materialization.

    Returns ``(out_df, n_total, sum_total)`` where ``out_df`` is
    ``df`` plus ``__rn`` (1-based global row number) and — when
    ``value_col`` is given — ``__cum`` (global inclusive running
    sum in the same order).
    """
    df = df.cache()
    row = df.agg(F.min(order_col), F.max(order_col)).first()
    lo, hi = row[0], row[1]
    if lo is None:
        out = df.withColumn("__rn", F.lit(None).cast("long"))
        if value_col is not None:
            out = out.withColumn("__cum", F.lit(None).cast("double"))
        return out, 0, 0.0
    span = float(hi) - float(lo)
    # guard width, not span: a SUBNORMAL span (≈5e-324) divided by
    # n_buckets underflows to 0.0 even though span > 0, and a zero
    # width turns the bucket expression into a division by zero
    # (hypothesis-found). width 1.0 degrades to one bucket — correct,
    # just unparallel, exactly like the all-equal-values case.
    width = span / n_buckets
    if width <= 0:
        width = 1.0
    if descending:
        raw = (F.lit(float(hi)) - F.col(order_col)) / F.lit(width)
    else:
        raw = (F.col(order_col) - F.lit(float(lo))) / F.lit(width)
    bucketed = df.withColumn(
        "__bkt", F.least(F.floor(raw), F.lit(n_buckets - 1)).cast("int")
    )

    aggs = [F.count(F.lit(1)).alias("c")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("s"))
    stats = bucketed.groupBy("__bkt").agg(*aggs).orderBy("__bkt").collect()
    rn_off = [0] * n_buckets
    cum_off = [0.0] * n_buckets
    acc_n = 0
    acc_s = 0.0
    for r in stats:
        rn_off[int(r["__bkt"])] = acc_n
        acc_n += r["c"]
        if value_col is not None:
            cum_off[int(r["__bkt"])] = float(acc_s)
            acc_s += float(r["s"])

    order_exprs = [F.desc(order_col) if descending else F.asc(order_col)] + [
        F.asc(c) for c in tiebreak_cols
    ]
    w = Window.partitionBy("__bkt").orderBy(*order_exprs)
    # offsets as ONE array literal indexed by bucket id — a create_map
    # of 2×n_buckets literal children is rebuilt PER ROW by codegen
    # (measured ~20% of user_rfm_segments' final job at sf0.1), while
    # F.lit(list) folds to a single Literal evaluated once.
    out = bucketed.withColumn(
        "__rn",
        (
            F.row_number().over(w)
            + F.element_at(F.lit(rn_off), F.col("__bkt") + 1)
        ).cast("long"),
    )
    if value_col is not None:
        out = out.withColumn(
            "__cum",
            F.sum(value_col).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            + F.element_at(F.lit(cum_off), F.col("__bkt") + 1),
        )
    return out.drop("__bkt"), acc_n, acc_s


def _islands_bucketed_window(
    df: DataFrame,
    ts_col: str,
    tiebreak_cols: list[str],
    *,
    gap_us: int,
    bucket_us: int,
) -> DataFrame:
    """Steps 1–2 of ``global_islands`` (bucket by ts, form islands
    locally with a PARTITIONED window). Split out so the plan audit
    can probe the island window in isolation
    (tests/test_plans.py::test_global_islands_island_window_plan):
    the window MUST be partitioned by the time bucket — a
    SinglePartition exchange feeding it would be the exact
    scale-killer this recipe exists to avoid."""
    us = F.unix_micros(F.col(ts_col))
    d = df.withColumn("__us", us).withColumn(
        "__bkt", F.expr(f"unix_micros({ts_col}) div {bucket_us}")
    )
    w = Window.partitionBy("__bkt").orderBy("__us", *tiebreak_cols)
    return (
        d.withColumn(
            "__new",
            F.when(
                F.lag("__us").over(w).isNull()
                | (F.col("__us") - F.lag("__us").over(w) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__lid",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .drop("__new")
    )


def global_islands(
    df: DataFrame,
    ts_col: str,
    tiebreak_cols: list[str],
    *,
    gap_us: int,
    bucket_us: int,
) -> DataFrame:
    """GLOBAL gaps-and-islands (sessionize a totally-ordered event
    stream: new island when the gap to the previous event exceeds
    ``gap_us``) WITHOUT a corpus-sized single-partition window — the
    time-domain sibling of ``bucketed_rank_cumsum``.

    ``SUM(is_new) OVER (ORDER BY ts)`` with no PARTITION BY funnels
    the whole stream through one task. Here instead:

    1. events bucket by ``ts div bucket_us`` (a pure function of the
       value, deterministic across jobs);
    2. islands form LOCALLY per bucket (ordinary partitioned window);
    3. islands can only merge across buckets through each bucket's
       FIRST and LAST local island, so a per-bucket CENSUS —
       (first_ts, last_ts, island count), ONE row per non-empty
       bucket, bounded by time-range/bucket_us and independent of
       event count — resolves every cross-bucket merge. The census
       chain-merge is itself a gaps-and-islands over census rows: a
       bucket's first island joins the previous bucket's last island
       iff the boundary gap obeys the window's own gap rule; runs of
       merging buckets form chains, and within a chain the head key
       for bucket b is the last island of the nearest PRECEDING
       bucket with >1 islands (that island was never remapped), else
       the chain head's first island. That is two window passes over
       the bounded census frame, and the resulting remap (≤1 row per
       merging bucket) comes back as a BROADCAST equi-join on
       (bucket, local_id=1).

    Everything is ONE lazy plan and ONE action: no driver collect, no
    checkpoint, no literal-map rebuild per run. The census branch is
    planned independently of the output branch (column pruning gives
    the two branches different exchanges, so there is nothing to
    reuse), but pruning works FOR it: the census re-scan reads only
    (ts, event_id) and its shuffle carries three longs per row, while
    the output branch carries the caller's full rows — so the second
    pass is the narrow one. Alternatives measured at sf0.1 and
    rejected: sharing the frame via localCheckpoint (eager or lazy)
    costs MORE wall-clock than the narrow second pass (persisting the
    full decorated frame + extra job waves: 0.93–0.95 s vs 0.80 s),
    and a driver-collected literal remap map adds a blocking
    collect + per-run plan rebuild. At 100 TB: two bucket-keyed
    passes over the stream (one narrow), both embarrassingly
    parallel; the census aggregate is map-side-combining down to one
    row per non-empty bucket (~10^3–10^4 per decade at 6-h buckets —
    the same bound the calendar-exception rule in
    ``operators/windows.py`` documents for its SinglePartition
    window); the broadcast is ≤2 keys per bucket. Escape hatch past
    the bound: raise ``bucket_us`` (census rows shrink linearly) —
    merge correctness is bucket-size-independent.

    Returns ``df`` plus ``__island`` (a string key; equal keys = same
    global island — exactly the islands the global window would
    produce, since bucketing preserves order and boundary merging
    applies the same gap rule the window applies; property-tested
    against the sequential model in tests/test_properties.py)."""
    d = _islands_bucketed_window(df, ts_col, tiebreak_cols, gap_us=gap_us, bucket_us=bucket_us)

    census = d.groupBy("__bkt").agg(
        F.min("__us").alias("first_us"),
        F.max("__us").alias("last_us"),
        F.max("__lid").alias("n_isl"),
    )
    # Census windows: SinglePartition by construction — the frame is
    # bounded (one row per non-empty bucket), per the module rule in
    # operators/windows.py; consumers are allowlisted there.
    wseq = Window.orderBy("__bkt")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chained = census.withColumn(
        "__merge",
        F.coalesce(
            (F.col("first_us") - F.lag("last_us").over(wseq)) <= F.lit(gap_us),
            F.lit(False),
        ),
    ).withColumn(
        "__chain",
        F.sum(F.when(F.col("__merge"), 0).otherwise(1)).over(wrun),
    )
    wprev = (
        Window.partitionBy("__chain")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wchain = Window.partitionBy("__chain").orderBy("__bkt")
    resolved = chained.withColumn(
        "__lastbig",
        F.last(
            F.when(
                F.col("n_isl") > 1,
                F.struct(F.col("__bkt").alias("hb"), F.col("n_isl").alias("hl")),
            ),
            ignorenulls=True,
        ).over(wprev),
    ).withColumn("__headbkt", F.first("__bkt").over(wchain))
    # __-prefixed join-side names: this is shared library code and the
    # caller's columns survive into the output — bare names could
    # collide with (or silently drop) caller columns.
    remap = resolved.filter(F.col("__merge")).select(
        F.col("__bkt").alias("__m_bkt"),
        F.lit(1).alias("__m_lid"),
        F.concat_ws(
            ":",
            F.coalesce(F.col("__lastbig.hb"), F.col("__headbkt")),
            F.coalesce(F.col("__lastbig.hl"), F.lit(1)),
        ).alias("__m_head"),
    )

    own = F.concat_ws(":", F.col("__bkt"), F.col("__lid"))
    return (
        d.join(
            F.broadcast(remap),
            (F.col("__bkt") == F.col("__m_bkt")) & (F.col("__lid") == F.col("__m_lid")),
            "left",
        )
        .withColumn("__island", F.coalesce(F.col("__m_head"), own))
        .drop("__m_bkt", "__m_lid", "__m_head", "__us", "__bkt", "__lid")
    )
