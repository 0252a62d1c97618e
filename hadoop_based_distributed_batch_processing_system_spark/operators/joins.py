"""Join operators (SURVEY.md §2.3, J1-J8).

Reference-class parity: the two public Hadoop join patterns —
reduce-side (repartition) join = Spark shuffle join (J1), and
distributed-cache map-side join = Spark broadcast-hash join (J2).
Everything past J3 is extension surface the MR class only reaches
with hand-chained jobs.

Scale notes (100 TB):
- J1/J7 shuffle both sides on the join key; AQE converts to broadcast
  at runtime when a side's stats allow, and splits skewed partitions.
- J2 pins ``F.broadcast`` on the dimension side explicitly — nation/
  region/customer-sized dims must NEVER shuffle the fact table.
- J6 (theta/band) is an equi-join on the nation key with the range
  predicate applied post-join — the equi component keeps it a hash
  join, not a nested-loop cross product. A pure inequality join
  would degrade to BroadcastNestedLoop; never ship that shape
  against two fact tables.
- J8 (as-of) avoids any O(n·m) probe: union + partitioned window
  scan, one shuffle on the partition key, linear in events.
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
    "join_inner_equi",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'O'
    """,
    tags=("J1",),
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — equi inner join (the reduce-side join): both sides
    repartitioned on the key by the shuffle, then hash/merge joined."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_broadcast",
    oracle="""
        SELECT r.r_name, COUNT(*) AS n_custs,
               CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS sum_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    tags=("J2",),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — map-side join: dimensions ship to every task
    (``F.broadcast``), the fact side never shuffles for the join.
    Plan asserted BroadcastHashJoin in tests/test_plans.py."""
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            # exact cents, one division (r17 sf0.1 sweep class)
            (
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
                .cast("double") / 100
            ).alias("sum_bal"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
    """,
    tags=("J3",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3a — left outer join with a join-side predicate (kept in the
    ON clause so non-matching customers survive with nulls)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (customer.c_custkey == orders.o_custkey) & (orders.o_totalprice > 400000)
    return customer.join(orders, cond, "left").select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


@register(
    "join_right_outer",
    oracle="""
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey
        FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("J3",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3b — right outer join (every customer kept)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "right").select(
        "c_custkey", "c_mktsegment", "o_orderkey"
    )


@register(
    "join_full_outer",
    oracle="""
        SELECT a.o_orderkey AS open_key, b.o_orderkey AS closed_key,
               COALESCE(a.o_custkey, b.o_custkey) AS custkey
        FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') a
        FULL JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') b
          ON a.o_orderkey = b.o_orderkey
    """,
    tags=("J3",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3c — full outer join between disjoint slices (nulls on both
    sides, exercising the null-row generation path)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").alias("a")
    b = orders.filter(F.col("o_orderstatus") == "F").alias("b")
    return a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full").select(
        F.col("a.o_orderkey").alias("open_key"),
        F.col("b.o_orderkey").alias("closed_key"),
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
    )


@register(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    tags=("J4",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4a — left semi join (existence): no row multiplication, the
    probe side streams once."""
    customer = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("J4",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4b — left anti join (absence): customers with no large
    order (the filter keeps the result non-empty at every sf)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
    tags=("J5",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — cartesian product. Size-guarded by construction: only
    ever between bounded dimension tables (5 × 25 here). At scale a
    cross join between facts is a plan bug, not an operator choice."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = load_table(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(nation)


@register(
    "join_theta_range",
    oracle="""
        SELECT s.s_suppkey, c.c_custkey, s.s_acctbal, c.c_acctbal
        FROM supplier s JOIN customer c
          ON s.s_nationkey = c.c_nationkey
         AND s.s_acctbal BETWEEN c.c_acctbal - 100 AND c.c_acctbal + 100
    """,
    tags=("J6",),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — band (range) join. The nation equi-key anchors a hash
    join; the ±100 band is a post-join filter. Without the equi
    anchor this would be a nested-loop — the equi+band rewrite is the
    scale-safe shape for band joins."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    cond = (
        (supplier.s_nationkey == customer.c_nationkey)
        & (supplier.s_acctbal >= customer.c_acctbal - 100)
        & (supplier.s_acctbal <= customer.c_acctbal + 100)
    )
    return supplier.join(customer, cond).select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")


@register(
    "join_multiway",
    oracle="""
        SELECT n.n_name,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               COUNT(*) AS n_items
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
    """,
    tags=("J7",),
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — 6-table star join (TPC-H Q5 shape: local-supplier
    volume). Facts shuffle on their keys; nation/region broadcast;
    the region filter prunes before any fact join via the dimension
    chain. In MR this is a 5-job chain with DFS materialization
    between each — here it is one pipelined plan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Push the region predicate into BOTH fact-adjacent dimensions
    # before any fact join: nation⨝region(ASIA) is 5 rows, broadcast
    # into supplier and customer, shrinking each to the ~1/5 that can
    # contribute — so the big customer⨝orders and lineitem⨝supplier
    # shuffles carry only matching rows. Catalyst won't hoist the
    # filter across the compound (l_suppkey, c_nationkey) join itself.
    asia_nations = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        asia_nations, F.col("s_nationkey") == F.col("n_nationkey")
    )
    customer = load_table(spark, sf_dir, "customer").join(
        asia_nations.select(F.col("n_nationkey").alias("cn_nationkey")),
        F.col("c_nationkey") == F.col("cn_nationkey"),
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey) & (customer.c_nationkey == supplier.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    tags=("J1", "A1", "O2"),
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — 3-way join + aggregate + top-10 (deterministic
    tiebreaker on l_orderkey). Headline bench query."""
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "join_asof",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tags=("J8",),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — as-of join: for each purchase, the latest view by the
    same user at-or-before the purchase timestamp.

    Spark has no native as-of join; the scale-safe construction is
    union + window (one shuffle on user_id, linear scan per user):
    tag view rows with their own ts, sort (ts, side) with views
    first at equal ts (inclusive <=, matching DuckDB ASOF), then
    ``last(ignorenulls)`` over an unbounded-preceding frame.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(None).cast("timestamp").alias("view_ts"), F.lit(1).alias("side")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.lit(0).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(views)
        .withColumn("last_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "last_view_ts")
    )


_SKEW_SALTS = 8


@register(
    "join_skew_salted",
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    tags=("J9", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — skew-mitigated shuffle join via manual key salting: the
    fact side scatters each key across 8 salted sub-keys
    (deterministic hash of the row), the build side replicates once
    per salt, and the join runs on (key, salt) — a hot key's rows
    now land on 8 reducers instead of one.

    Salting must be invisible to semantics: the oracle is the PLAIN
    join, so the differential test proves the rewrite exact. At 100
    TB prefer AQE's skew-join splitting first (enabled in
    session.py); manual salting is for the cases AQE can't split —
    e.g. a single giant key inside one partition of a
    sort-merge-join with aggregation pushed below the join."""
    s = F.lit(_SKEW_SALTS)
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), s)
    )
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), s - 1))
    )
    return (
        li.join(orders, (li.l_orderkey == orders.o_orderkey) & (li.salt == orders.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


_N_BUCKETS = 8


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT l.l_orderkey, o.o_orderpriority,
               COUNT(*) AS n_items,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey, o.o_orderpriority
    """,
    tags=("J1", "bucketing"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1' — co-located join via bucketed tables: both fact tables
    are written ``bucketBy(8, orderkey)`` + ``sortBy``, so the join
    AND the orderkey-grained aggregation run with ZERO Exchange nodes
    (plan-asserted) — the bucketing IS the shuffle, paid once at
    write time and amortized over every subsequent join on that key.
    This is the 100 TB answer to any repeatedly-joined fact pair
    (the Hadoop analogue: pre-partitioned inputs + map-side merge
    join). Bucket metadata lives in the session catalog; the data
    files live under an explicit path."""
    import os
    import tempfile

    tag = corpus_tag(sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"hbdbps_bucketed_{tag}")
    specs = [
        (f"hbdbps_orders_b_{tag}", "orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        (f"hbdbps_lineitem_b_{tag}", "lineitem", "l_orderkey",
         ["l_orderkey", "l_extendedprice", "l_discount"]),
    ]
    for tname, src, key, cols in specs:
        if not spark.catalog.tableExists(tname):
            (
                load_table(spark, sf_dir, src)
                .select(*cols)
                .write.bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .option("path", os.path.join(base, tname))
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tname)
            )
    o = spark.table(specs[0][0])
    l = spark.table(specs[1][0])
    # force SortMergeJoin: at test scale Spark would broadcast the
    # small side, which hides what bucketing buys at 100 TB (two
    # fact tables, neither broadcastable, joined with no shuffle)
    return (
        l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "join_shuffle_hash_hint",
    oracle="""
        SELECT o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderstatus
    """,
    tags=("J1", "hint"),
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: the same fact-fact join as the
    sort-merge default, forced to a shuffled-hash join with the
    SHUFFLE_HASH hint. Hash beats merge when one side fits a
    per-partition hash table and sort cost dominates (skewless keys,
    wide rows); merge wins when either side is pre-sorted (bucketed).
    The hint overrides the planner's cost pick, not the result —
    plan-asserted as ShuffledHashJoin, value-asserted against the
    identical SQL. At 100 TB this is the knob you turn when AQE's
    choice is wrong for a known workload."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        orders.hint("shuffle_hash")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact integer cents (the house rule): a double SUM at
            # 1e10 magnitude drifted ~1e-4 with accumulation order —
            # caught by the r17 sf0.1 cross-scale sweep
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )


@register(
    "nested_order_lines_roundtrip",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
    """,
    tags=("J1", "nested"),
)
def nested_order_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data handling: lines are rolled up into one
    array<struct> row per order (sorted by line number — the
    document/denormalized shape parquet nests natively), then
    exploded back to flat rows. The oracle is the original
    projection, proving the nest↔unnest roundtrip is lossless.
    Nesting co-locates an order's lines in one row/row-group — the
    layout that turns an orders-with-lines scan from a join into a
    single sequential read at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))
        ).alias("lines")
    )
    return nested.select(
        "l_orderkey", F.explode("lines").alias("ln")
    ).select(
        "l_orderkey",
        F.col("ln.l_linenumber").alias("l_linenumber"),
        F.col("ln.l_quantity").alias("l_quantity"),
        F.col("ln.l_extendedprice").alias("l_extendedprice"),
    )


@register(
    "join_null_safe",
    oracle="""
        WITH o AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN NULL
                      ELSE o_orderpriority END AS prio
          FROM orders
        ),
        dim AS (
          SELECT * FROM (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
                                ('5-LOW', 5), (NULL, 0)) AS t(prio, severity)
        )
        SELECT d.severity, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM o JOIN dim d ON o.prio IS NOT DISTINCT FROM d.prio
        GROUP BY d.severity
    """,
    tags=("J1", "null-safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics needed when
    'unknown' is a real category (here: unspecified priority maps to
    a severity row with a NULL key). A plain equi join silently drops
    every NULL-keyed row; this is one of the classic silent-data-loss
    bugs in ETL. Spark plans `<=>` as an ordinary hash join (null-safe
    keys still hash-partition), so the shape scales identically."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "4-NOT SPECIFIED", F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    dim = o.sparkSession.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3), ("5-LOW", 5), (None, 0)],
        "prio string, severity int",
    )
    return (
        o.join(F.broadcast(dim), o.prio.eqNullSafe(dim.prio))
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_BAND_W = 5.0


@register(
    "join_range_binned",
    oracle=f"""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND abs(a.c_acctbal - b.c_acctbal) <= {_BAND_W}
    """,
    tags=("J6", "range-binned"),
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6' — PURE band join (no equi anchor): customer pairs whose
    account balances differ by at most W=5. Without an equi key Spark
    would plan a broadcast nested loop — O(n²) comparisons, the plan
    that dies at scale. The binned rewrite makes it a hash join:

    1. bin = floor(acctbal / W) with W = the band width, so any
       qualifying pair sits in the same or adjacent bins;
    2. the probe side explodes to (bin-1, bin, bin+1) — 3 rows each;
    3. equi-join on the bin, then the exact |a-b| <= W filter.

    Shuffle moves 3n + n rows hashed on bin instead of comparing
    n² pairs; each pair is found exactly once because the build row's
    own bin is unique. This is the standard interval-join recipe
    (Flink's interval join and range-join hints in other engines do
    the same binning internally)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    binned = cust.withColumn("bin", F.floor(F.col("c_acctbal") / _BAND_W))
    probe = binned.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_acctbal").alias("bal_a"),
        F.explode(F.sequence(F.col("bin") - 1, F.col("bin") + 1)).alias("jbin"),
    )
    build = binned.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_acctbal").alias("bal_b"),
        F.col("bin").alias("jbin"),
    )
    return (
        probe.join(build, "jbin")
        .filter((F.col("id_a") < F.col("id_b")) & (F.abs(F.col("bal_a") - F.col("bal_b")) <= _BAND_W))
        .select("id_a", "id_b", "bal_a", "bal_b")
    )


_BLOOM_CONFS = {
    # injection gates: the fact side must look big enough to bother and
    # the dim side small enough to build the filter (local test files
    # are far below the 10 GB production default, so open both gates)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # a broadcast join needs no bloom (the dim rides to every task
    # anyway), and a merge HINT suppresses the injection rule — so the
    # shuffle join is forced via conf, mirroring the 100 TB case where
    # neither side broadcasts
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "join_bloom_filtered",
    oracle="""
        SELECT o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY o.o_orderstatus
    """,
    tags=("J1", "bloom", "runtime-filter"),
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — Catalyst's row-level
    semi-join reduction: the selective dim side (urgent orders)
    builds a bloom filter on its join keys during its own scan, and
    the filter is pushed into the FACT side's scan as a
    ``might_contain`` predicate, dropping ~80% of lineitem rows
    BEFORE the shuffle. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling only rows that can
    possibly match — the engine-internal version of the manual
    semi-join-then-join rewrite.

    The injection gates are session confs, so the query materializes
    eagerly under a snapshot-and-restore: no conf leaks into
    subsequently planned queries (the driver runs 170+ through one
    session). The bloom's presence in the plan is asserted in
    tests/test_plans.py."""
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _bloom_join_frame(spark, sf_dir)
        # Materialize THROUGH THE DRIVER to scope the injection confs:
        # valid ONLY because the output is group-by-o_orderstatus sized
        # (≤ a handful of rows at any corpus scale). DO NOT copy this
        # collect+createDataFrame pattern for row-proportional results —
        # it silently becomes a driver OOM at scale; scope confs with a
        # dedicated session or SQL SET/RESET instead.
        rows = df.collect()  # optimized (and bloom-injected) under the confs
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, df.schema)


def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact integer cents (r17 sf0.1 sweep: double SUM drifted
            # ~1e-5 at 1e9 magnitude with accumulation order)
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
    )


@register(
    "join_asof_tolerance",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts,
               CASE WHEN v.ts >= p.ts - INTERVAL 15 MINUTE THEN v.ts END
                 AS last_view_ts,
               (v.ts IS NOT NULL AND v.ts >= p.ts - INTERVAL 15 MINUTE)
                 AS within_tolerance
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tags=("J8'", "asof"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8' — as-of join with a TOLERANCE bound (kdb ``wj``/pandas
    ``merge_asof(tolerance=...)`` surface): the latest view
    at-or-before each purchase counts only if it happened within the
    last 15 minutes; staler matches become NULL. Same union+window
    construction as J8 (one shuffle on user_id, linear per-user
    scan) with the bound applied as a post-window projection — the
    match search is unchanged, so tolerance costs nothing extra. At
    scale, tolerance is also a state bound: a streaming as-of keeps
    only 15 minutes of view history per user."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(None).cast("timestamp").alias("view_ts"), F.lit(1).alias("side")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.lit(0).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bound = F.col("ts") - F.expr("INTERVAL 15 MINUTES")
    raw = (
        purchases.unionByName(views)
        .withColumn("last_view_raw", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    return raw.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("last_view_raw") >= bound, F.col("last_view_raw")).alias("last_view_ts"),
        (F.col("last_view_raw").isNotNull() & (F.col("last_view_raw") >= bound)).alias(
            "within_tolerance"
        ),
    )


@register(
    "join_asof_nearest",
    # Tiebreaks are the whole contract here: the oracle resolves
    # equal |Δ| toward the EARLIER view (backward wins) and equal
    # (|Δ|, ts) toward the smaller event_id; the Spark windows order
    # ord_id DESC so last() lands on the same row.
    oracle="""
        SELECT p.event_id, p.user_id, p.ts,
               t.ts AS nearest_view_ts,
               epoch_us(t.ts) - epoch_us(p.ts) AS delta_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
          SELECT v.ts, v.event_id FROM events v
          WHERE v.user_id = p.user_id AND v.event_type = 'view'
          ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)), v.ts, v.event_id
          LIMIT 1
        ) t ON TRUE
    """,
    tags=("J8''", "asof", "nearest"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8'' — NEAREST-match as-of join: each purchase pairs with the
    view closest in time in EITHER direction (pandas merge_asof
    direction='nearest'; sensor-fusion alignment uses the same
    semantic). Backward/forward variants exist as join_asof /
    join_asof_tolerance; nearest is their combination: one union of
    sides, one shuffle on user_id, TWO linear window passes over the
    same partitioning (ascending carry for the latest view at-or-
    before, descending carry for the first view at-or-after), then a
    pure row-local arbitration by absolute gap — ties break to the
    earlier view, then the smaller event_id, mirrored exactly by the
    oracle's LATERAL ordering.

    Scale: identical cost class to join_asof — the second window
    pass reuses the user_id hash partitioning (sort only, no second
    Exchange), and the arbitration adds zero shuffles. Gaps are
    exact integer microseconds."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("struct<ts:timestamp,ord:long>").alias("view"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("ord_id"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("ord")).alias("view"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("ord_id"),
    )
    # At equal ts views sort before purchases (inclusive semantics)
    # and equal-ts views sort ord_id DESC so last() carries the
    # SMALLEST event_id — the oracle's tiebreak.
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("side"), F.col("ord_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("side"), F.col("ord_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    both = (
        purchases.unionByName(views)
        .withColumn("back", F.last("view", ignorenulls=True).over(wb))
        .withColumn("fwd", F.last("view", ignorenulls=True).over(wf))
        .filter(F.col("side") == 1)
    )
    d_back = F.unix_micros(F.col("back.ts")) - F.unix_micros("ts")
    d_fwd = F.unix_micros(F.col("fwd.ts")) - F.unix_micros("ts")
    pick_back = F.col("fwd").isNull() | (
        F.col("back").isNotNull() & (F.abs(d_back) <= F.abs(d_fwd))
    )
    nearest = F.when(pick_back, F.col("back")).otherwise(F.col("fwd"))
    return both.select(
        "event_id",
        "user_id",
        "ts",
        nearest["ts"].alias("nearest_view_ts"),
        (F.unix_micros(nearest["ts"]) - F.unix_micros("ts")).alias("delta_us"),
    )


@register(
    "fuzzy_join_delete1",
    # Universe = distinct part names plus one deterministic typo per
    # name (drop the char at (ascii(first) + length) % length) — a
    # planted near-miss set derived purely from the data, identical
    # in both engines. The oracle brute-forces levenshtein over the
    # universe; the engine must find the same pairs via blocking.
    oracle="""
        WITH base AS (SELECT DISTINCT p_name AS s FROM part),
        typo AS (
          SELECT s,
                 ((ascii(s) + len(s)) % len(s)) + 1 AS pos
          FROM base
        ),
        universe AS (
          SELECT s FROM base
          UNION
          SELECT substr(s, 1, pos - 1) || substr(s, pos + 1) FROM typo
        )
        SELECT a.s AS name_a, b.s AS name_b,
               CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        FROM universe a JOIN universe b ON a.s < b.s
        WHERE levenshtein(a.s, b.s) <= 1
    """,
    tags=("J12", "fuzzy", "symspell"),
)
def fuzzy_join_delete1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 — fuzzy self-join at edit distance ≤ 1 via SymSpell-style
    deletion blocking: two strings are within one edit iff they share
    a member of {s} ∪ delete-1(s) (equality, insertion, deletion, or
    substitution all collide there), so candidates come from an
    EQUI-join on generated deletion variants — never the all-pairs
    levenshtein that brute-force fuzzy matching runs. Variant
    generation is a JVM transform/explode (length+1 variants per
    string); candidates dedup and verify with one levenshtein call
    per pair. The entity-resolution primitive for typo'd catalog
    names, usernames, addresses.

    Scale: the variant index is Σ(len+1) rows of short strings —
    linear in corpus text; the shuffle is keyed by variant (same
    inverted-index discipline as dedup_containment); verification
    touches only candidates. Distance >1 needs delete-2 variants
    (same shape, bigger constant) or falls back to the LSH family."""
    base = load_table(spark, sf_dir, "part").select(F.col("p_name").alias("s")).distinct()
    pos = ((F.ascii("s") + F.length("s")) % F.length("s")) + 1
    typo = base.select(
        F.concat(
            F.expr("substring(s, 1, ((ascii(s) + length(s)) % length(s) + 1) - 1)"),
            F.expr("substring(s, ((ascii(s) + length(s)) % length(s) + 1) + 1)"),
        ).alias("s")
    )
    universe = base.union(typo).distinct()
    variants = universe.select(
        "s",
        F.explode(
            F.expr(
                "transform(sequence(0, length(s)),"
                " i -> IF(i = 0, s, concat(substring(s, 1, i - 1), substring(s, i + 1))))"
            )
        ).alias("v"),
    ).distinct()
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("name_a"), F.col("b.s").alias("name_b"))
        .distinct()
    )
    return cand.filter(F.levenshtein("name_a", "name_b") <= 1).select(
        "name_a", "name_b", F.levenshtein("name_a", "name_b").cast("long").alias("dist")
    )


# Spatial: deterministic uniform coordinates derived from md5 (6
# nibbles each axis → exact dyadic rationals, identical everywhere).
_GRID_R = 0.05


def _hex6_spark(salt: str, key: str) -> str:
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(concat('{salt}', CAST({key} AS STRING))), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(CAST({terms} AS DOUBLE) / {16 ** 6})"


def _hex6_duck(salt: str, key: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{salt}' || CAST({key} AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(CAST({terms} AS DOUBLE) / {16 ** 6})"


@register(
    "spatial_grid_join",
    oracle=f"""
        WITH c AS (
          SELECT c_custkey,
                 {_hex6_duck('x|', 'c_custkey')} AS x,
                 {_hex6_duck('y|', 'c_custkey')} AS y
          FROM customer
        ),
        s AS (
          SELECT s_suppkey,
                 {_hex6_duck('x|', 's_suppkey')} AS x,
                 {_hex6_duck('y|', 's_suppkey')} AS y
          FROM supplier
        )
        SELECT c.c_custkey, s.s_suppkey,
               ROUND(sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)), 6)
                 AS dist
        FROM c, s
        WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
              <= {_GRID_R} * {_GRID_R}
    """,
    tags=("J13", "spatial", "grid"),
)
def spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 — spatial proximity join (all customer/supplier point
    pairs within radius 0.05 in the unit square; coordinates are
    deterministic md5-derived dyadic rationals, so both engines see
    identical geometry). The scale plan is uniform-grid blocking —
    the spatial analogue of LSH bucketing: cell size = radius, one
    side lands in its own cell, the probe side explodes to its 3×3
    neighborhood, candidates come from an EQUI-join on (cell_x,
    cell_y), and the exact circle test runs per candidate. Any pair
    within r must share a neighborhood cell, so blocking is
    exhaustive; the plan is a hash shuffle on cell keys — never the
    cross join the oracle runs as ground truth.

    Scale: candidate count is bounded by local point density × 9
    cells; skewed hot cells are an AQE skew-split. This is the
    geohash/S2-cell join shape with the curve replaced by exact
    integer cells."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(_hex6_spark("x|", "c_custkey")).alias("x"),
        F.expr(_hex6_spark("y|", "c_custkey")).alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_hex6_spark("x|", "s_suppkey")).alias("x"),
        F.expr(_hex6_spark("y|", "s_suppkey")).alias("y"),
    )
    s_cells = supp.select(
        "s_suppkey",
        "x",
        "y",
        F.floor(F.col("x") / _GRID_R).alias("cx"),
        F.floor(F.col("y") / _GRID_R).alias("cy"),
    )
    offsets = F.expr(
        "explode(transform(sequence(0, 8), i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )
    c_cells = cust.select(
        "c_custkey", "x", "y", F.floor(F.col("x") / _GRID_R).alias("bx"),
        F.floor(F.col("y") / _GRID_R).alias("by"), offsets.alias("o")
    ).select(
        "c_custkey",
        "x",
        "y",
        (F.col("bx") + F.col("o.dx")).alias("cx"),
        (F.col("by") + F.col("o.dy")).alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return (
        c_cells.join(
            s_cells.select(
                "s_suppkey", F.col("x").alias("sx"), F.col("y").alias("sy"), "cx", "cy"
            ),
            ["cx", "cy"],
        )
        .filter(d2 <= _GRID_R * _GRID_R)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
        .dropDuplicates(["c_custkey", "s_suppkey"])
    )


_OVL_BIN_US = 3_600 * 1_000_000  # 1-hour blocking bins
_INCIDENT_GAP_MIN = 10
_INCIDENT_PAD_MIN = 5


@register(
    "join_interval_overlap_binned",
    # Brute-force overlap ground truth over the same two interval
    # sets; the engine must find exactly these pairs via bin blocking.
    oracle=f"""
        WITH sf AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id,
                 MIN(ts) AS s_start, MAX(ts) AS s_end
          FROM (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM sf
          ) GROUP BY user_id, sid
        ),
        ef AS (
          SELECT ts, event_id,
                 CASE WHEN LAG(ts) OVER v IS NULL
                           OR ts - LAG(ts) OVER v > INTERVAL {_INCIDENT_GAP_MIN} MINUTE
                      THEN 1 ELSE 0 END AS is_new
          FROM events WHERE event_type = 'error'
          WINDOW v AS (ORDER BY ts, event_id)
        ),
        incidents AS (
          SELECT CAST(MIN(event_id) AS BIGINT) AS incident_id,
                 MIN(ts) - INTERVAL {_INCIDENT_PAD_MIN} MINUTE AS i_start,
                 MAX(ts) + INTERVAL {_INCIDENT_PAD_MIN} MINUTE AS i_end
          FROM (
            SELECT ts, event_id,
                   SUM(is_new) OVER (ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
            FROM ef
          ) GROUP BY iid
        )
        SELECT s.user_id, s.s_start, i.incident_id,
               epoch_us(least(s.s_end, i.i_end))
                 - epoch_us(greatest(s.s_start, i.i_start)) AS overlap_us
        FROM sess s JOIN incidents i
          ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    """,
    tags=("J14", "interval", "overlap"),
)
def join_interval_overlap_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 — two-sided INTERVAL-OVERLAP join, bin-blocked: which user
    sessions overlap which error incidents (error events clustered
    into 10-min-gap islands, padded ±5 min)? Both join sides are
    intervals — a harder class than the point-in-range band joins
    (join_theta_range / join_range_binned): the scale plan explodes
    each interval into the 1-hour bins it covers, equi-joins on the
    bin, dedups pairs matched in several bins, and verifies the
    exact overlap predicate per candidate. Two overlapping intervals
    must share a covered bin, so blocking is exhaustive; fan-out per
    interval is bounded by duration/bin — the IT-ops "blast radius"
    query (who was mid-session during the incident?) at equi-join
    cost.

    Scale: sessions build with ONE user-keyed shuffle (the
    gaps-and-islands shape of window_session); incidents — a GLOBAL
    island problem with no partitioning key — go through
    ``global_islands`` (sorts.py): per-time-bucket local islands plus
    a bounded declarative census chain-merge, never a single-partition
    window over the error stream. The candidate join shuffles
    interval-count × bins-per-interval rows on bin keys, never
    sessions × incidents. Overlap lengths are exact integer
    microseconds."""
    from hadoop_based_distributed_batch_processing_system_spark.operators.sorts import (
        global_islands,
    )
    ev = load_table(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn(
            "is_new",
            F.when(
                F.lag("ts").over(ws).isNull()
                | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(ws)) > 30 * 60 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid", F.sum("is_new").over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    err = ev.filter(F.col("event_type") == "error").select("ts", "event_id")
    err_isl = global_islands(
        err,
        "ts",
        ["event_id"],
        gap_us=_INCIDENT_GAP_MIN * 60 * 1_000_000,
        bucket_us=6 * _OVL_BIN_US,  # 6-h buckets: summary rows = range/6h
    )
    incidents = err_isl.groupBy("__island").agg(
        F.min("event_id").cast("long").alias("incident_id"),
        (F.min("ts") - F.expr(f"INTERVAL {_INCIDENT_PAD_MIN} MINUTES")).alias("i_start"),
        (F.max("ts") + F.expr(f"INTERVAL {_INCIDENT_PAD_MIN} MINUTES")).alias("i_end"),
    ).drop("__island")
    bins_of = lambda lo, hi: F.expr(
        f"sequence(unix_micros({lo}) div {_OVL_BIN_US}, unix_micros({hi}) div {_OVL_BIN_US})"
    )
    s_bins = sess.select(
        "user_id", "s_start", "s_end", F.explode(bins_of("s_start", "s_end")).alias("bin")
    )
    i_bins = incidents.select(
        "incident_id", "i_start", "i_end", F.explode(bins_of("i_start", "i_end")).alias("bin")
    )
    return (
        s_bins.join(i_bins, "bin")
        .filter((F.col("s_start") <= F.col("i_end")) & (F.col("i_start") <= F.col("s_end")))
        .select(
            "user_id",
            "s_start",
            "incident_id",
            (
                F.unix_micros(F.least("s_end", "i_end"))
                - F.unix_micros(F.greatest("s_start", "i_start"))
            ).alias("overlap_us"),
        )
        .dropDuplicates(["user_id", "s_start", "incident_id"])
    )


_ER_MAX_ITERS = 8


@register(
    "entity_resolution_names",
    # Ground truth: brute-force lev<=1 pairs over the same planted
    # universe, components via a recursive CTE, canonical = the
    # lexicographic minimum name of each component (string min —
    # deterministic in both engines).
    oracle="""
        WITH RECURSIVE base AS (SELECT DISTINCT p_name AS s FROM part),
        typo AS (
          SELECT s, ((ascii(s) + len(s)) % len(s)) + 1 AS pos FROM base
        ),
        universe AS (
          -- explicit DISTINCT: under WITH RECURSIVE DuckDB stops
          -- deduplicating this UNION (observed 128 rows vs 124)
          SELECT DISTINCT s FROM (
            SELECT s FROM base
            UNION ALL
            SELECT substr(s, 1, pos - 1) || substr(s, pos + 1) FROM typo
          )
        ),
        pairs AS (
          SELECT a.s AS u, b.s AS v
          FROM universe a JOIN universe b ON a.s < b.s
          WHERE levenshtein(a.s, b.s) <= 1
        ),
        edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, reach.r FROM edges e, reach WHERE e.v = reach.u
        ) ,
        comp AS (SELECT u AS s, MIN(r) AS canonical FROM reach GROUP BY u)
        SELECT un.s AS name,
               COALESCE(c.canonical, un.s) AS canonical,
               un.s = COALESCE(c.canonical, un.s) AS is_canonical
        FROM universe un LEFT JOIN comp c ON un.s = c.s
    """,
    tags=("J12", "entity-resolution", "composite"),
)
def entity_resolution_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end — the composite the fuzzy join
    exists for: SymSpell deletion-blocked edit-distance-1 matching
    (fuzzy_join_delete1's planted typo universe) builds the match
    graph, iterative min-label propagation collapses it into
    entities, and each name resolves to its component's lexicographic
    minimum as the canonical form (names without a match resolve to
    themselves). This is the customer/product-master dedup pipeline:
    match → cluster → survivorship.

    Scale: matching is the deletion-variant EQUI-join (never
    all-pairs levenshtein — the oracle runs that as ground truth);
    clustering is the same alternating join+groupBy rounds as
    dedup_connected_components, localCheckpoint-truncated, bounded
    by cluster diameter (typo clusters are shallow); the
    survivorship join is universe-sized."""
    pairs = fuzzy_join_delete1(spark, sf_dir).select(
        F.col("name_a").alias("u"), F.col("name_b").alias("v")
    )
    base = load_table(spark, sf_dir, "part").select(F.col("p_name").alias("s")).distinct()
    typo = base.select(
        F.concat(
            F.expr("substring(s, 1, ((ascii(s) + length(s)) % length(s) + 1) - 1)"),
            F.expr("substring(s, ((ascii(s) + length(s)) % length(s) + 1) + 1)"),
        ).alias("s")
    )
    universe = base.union(typo).distinct()

    edges = pairs.union(pairs.select(F.col("v"), F.col("u"))).toDF("u", "v")
    edges = edges.repartition(session_parallelism(spark), "v").cache()
    labels = edges.select("u").distinct().select("u", F.col("u").alias("label")).cache()
    for _ in range(_ER_MAX_ITERS):
        neighbor = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.u"))
            .select(F.col("e.u").alias("u"), F.col("l.label").alias("label"))
        )
        new_labels = (
            labels.union(neighbor)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break

    return (
        universe.join(labels, universe.s == labels.u, "left")
        .select(
            F.col("s").alias("name"),
            F.coalesce(F.col("label"), F.col("s")).alias("canonical"),
            (F.col("s") == F.coalesce(F.col("label"), F.col("s"))).alias("is_canonical"),
        )
    )
