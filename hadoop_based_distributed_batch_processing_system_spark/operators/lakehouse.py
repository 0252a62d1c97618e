"""Lakehouse workflow operators over the table-log format
(SURVEY.md §2.1 S9 family, round-14 extension): WRITE-AUDIT-PUBLISH
staging branches, row-level CDC pre/post images, consistent
cross-table as-of reads, the metadata-driven compaction trigger
(SURVEY §7 round-13 candidate queue items (a), (b), (d), (e)),
streaming ingest of the real events table + the incrementally
maintained daily rollup (item (c)), zero-copy shallow clones,
timestamp-range pruning over a time-clustering rewrite, and CHECK
constraints as replayed table metadata.

The commit-log kernel (OCC protocol, staged writes, DV replay,
manifest stats, change units) lives in ``operators/scans.py``; this
module composes WORKFLOWS on top of it, the way Delta/Iceberg layer
WAP and CDF on their core log. Everything here follows the package's
table-log disciplines: own root per mutating lifecycle, flock + spec
stamp idempotence, one staged write job per statement, one OCC commit
per atomic change, exact-integer fingerprints in every oracle.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hadoop_based_distributed_batch_processing_system_spark.built import (
    built_once,
    wipe_root,
    write_atomic,
)
from hadoop_based_distributed_batch_processing_system_spark.registry import (
    interpolate_docstrings,
    register,
)
from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
    corpus_tag,
    load_table,
)
from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
    TableLogConflictError,
    _TLOG_COMMITS,
    _TLOG_DELETE_PRED,
    _TLOG_FILE_RE,
    _TLOG_SLICES,
    _TLOG_UPDATE_BUMP,
    _TLOG_UPDATE_PRED,
    _tlog_apply_changes,
    _tlog_apply_dml,
    _tlog_batch_committed,
    _tlog_bindings_ever,
    _tlog_bucket_rule,
    _tlog_bucket_spec,
    _tlog_bucketed_commit_validate,
    _tlog_bucketed_stage,
    _tlog_build,
    _tlog_change_rows_for,
    _tlog_change_units,
    _tlog_changes_fingerprint,
    _tlog_cohorts,
    _tlog_colmap_binding,
    _tlog_commit,
    _tlog_commit_rebase,
    _tlog_commit_ts,
    _tlog_delete,
    _tlog_dml_root,
    _tlog_drain,
    _tlog_drain_once,
    _tlog_feed_groups,
    _tlog_feed_units,
    _tlog_fingerprint,
    _tlog_land,
    _tlog_latest_version,
    _tlog_latest_version_safe,
    _tlog_live_colmap,
    _tlog_live_constraints,
    _tlog_live_dvs,
    _tlog_live_files,
    _tlog_live_partitioning,
    _tlog_live_stats,
    _tlog_merge,
    _tlog_read,
    _tlog_relation,
    _tlog_replay_map,
    _tlog_replicate,
    _tlog_rewrite,
    _tlog_root,
    _tlog_rows,
    _tlog_snapshot,
    _tlog_snapshot_fingerprints,
    _tlog_staged_write_with_stats,
    _tlog_synthetic_stream,
    _tlog_ts_stamps,
    _tlog_unvacuumed,
    _tlog_update,
    _tlog_vacuum,
    _tlog_vacuumed,
    _tlog_version_as_of,
    _tlog_zone_write,
)


# --- WRITE-AUDIT-PUBLISH (S9-wap) -----------------------------------------

# The audited append: a deterministic orders slice (oracle-expressible).
_TLOG_WAP_PRED = "o_orderkey % 10 = 3"
_TLOG_WAP_BRANCH = "audit"


def _tlog_wap_root(sf_dir: str) -> str:
    # own root: WAP publishes commits onto its table's log (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tablelogwap_{corpus_tag(sf_dir)}"
    )


def _tlog_branch_path(root: str, branch: str, version: int) -> str:
    return os.path.join(root, "_log", f"_branch_{branch}", f"{version:06d}.json")


def _tlog_wap_stage(
    df: DataFrame, root: str, group: str, branch: str = _TLOG_WAP_BRANCH
) -> dict:
    """WRITE: stage an append on a BRANCH ref — the data file group is
    written (one staged-write job, manifest stats observed in the same
    pass) and a branch commit file records it OUTSIDE the main log's
    numbered sequence, so no main reader can resolve it: the staged
    snapshot is visible only through the branch ref. This is Iceberg's
    WAP branch / Delta's un-committed staging reduced to the package's
    POSIX-dir log: data invisibility-until-referenced is the commit
    protocol's own rule, so staging needs no extra machinery — only a
    commit file that main's resolver never reads. Returns the branch
    payload (also on disk)."""
    import json

    base = _tlog_latest_version(root)
    promoted, stats = _tlog_staged_write_with_stats(
        df.withColumn("tgt", F.lit(group)), root, [group]
    )
    payload = {
        "add": promoted,
        "remove": [],
        "stats": stats,
        "base": base,
        "branch": branch,
    }
    bpath = _tlog_branch_path(root, branch, base + 1)
    os.makedirs(os.path.dirname(bpath), exist_ok=True)
    write_atomic(bpath, json.dumps(payload))
    return payload


def _tlog_wap_audit(spark: SparkSession, root: str, payload: dict) -> list[str]:
    """AUDIT: validate the staged snapshot BEFORE anything can read it.
    Checks run over the branch's DELTA (the added files — audit cost is
    change-proportional, the property that makes WAP affordable on a
    100-TB table): (a) the append is non-empty, (b) no NULL keys,
    (c) every price is positive (the table's CHECK constraint), and
    (d) the data agrees with the manifest stats recorded at write time
    (a writer whose stats lie would poison every stats-pruned read),
    plus (e) the table's LIVE replayed CHECK constraints at audit
    time (NULL passes, the SQL CHECK rule) — which makes the audit
    depend on table state, the exact reason a recovery replay must
    never RE-audit a transaction that already published a leg
    (presumed commit, VERDICT r14 #1).
    One bounded agg job over only the staged bytes. Returns the list
    of violations — empty means publishable."""

    failures: list[str] = []
    files = [os.path.join(root, g) for g in payload["add"]]
    cons = _tlog_live_constraints(root, _tlog_latest_version(root))
    con_aggs = [
        F.sum(
            F.when(F.expr(pred).isNull() | F.expr(pred), 0)
            .otherwise(1)
        ).alias(f"con:{name}")
        for name, pred in sorted(cons.items())
    ]
    per_group = {
        r["g"]: r
        for r in _tlog_read(spark, files)
        .withColumn("g", F.regexp_extract(F.input_file_name(), _TLOG_FILE_RE, 1))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_orderkey").isNull().cast("int")).alias("null_keys"),
            F.min("o_totalprice").alias("plo"),
            F.min("o_orderkey").alias("klo"),
            F.max("o_orderkey").alias("khi"),
            *con_aggs,
        )
        .collect()
    }
    for g in payload["add"]:
        r = per_group.get(g)
        if r is None or not r["n"]:
            failures.append(f"audit: staged group {g} is empty")
            continue
        if r["null_keys"]:
            failures.append(f"audit: {r['null_keys']} NULL keys in {g}")
        if r["plo"] is not None and r["plo"] <= 0:
            failures.append(
                f"audit: CHECK(o_totalprice > 0) violated in {g} (min {r['plo']})"
            )
        bounds = payload["stats"].get(g, {}).get("o_orderkey")
        if bounds and [r["klo"], r["khi"]] != bounds:
            failures.append(
                f"audit: manifest stats disagree with data for {g}: "
                f"recorded {bounds}, observed [{r['klo']}, {r['khi']}]"
            )
        for name, pred in sorted(cons.items()):
            bad = r[f"con:{name}"]
            if bad:
                failures.append(
                    f"audit: CHECK {name} ({pred}) violated by {bad} "
                    f"rows in {g}"
                )
    return failures


def _tlog_wap_abort(root: str, payload: dict, branch: str = _TLOG_WAP_BRANCH) -> None:
    """A failed audit DISCARDS the branch: the branch ref is dropped
    and the staged (never-referenced) data groups are reclaimed. Main
    was never touched — that is the entire point of WAP. Aborting a
    PUBLISHED payload is refused through two independent gates: the
    branch ref must still EXIST (publish retires it, so its absence
    means published-or-already-aborted — a head-only liveness check
    would wrongly pass once a later compaction rewrote the published
    groups out of the head while history still references them), and
    the payload's groups must not be live at head (the crash window
    between a publish's commit and its ref retire). The retire path
    for published work is restore/vacuum, never abort."""
    import shutil

    bpath = _tlog_branch_path(root, branch, payload["base"] + 1)
    if not os.path.exists(bpath):
        raise RuntimeError(
            f"refusing to abort branch {branch!r} at base "
            f"v{payload['base']}: no staged ref on disk — the payload was "
            "already published (or aborted); published data is retired "
            "via restore/vacuum, never abort"
        )
    try:
        live = {
            os.path.basename(p)
            for p in _tlog_live_files(root, _tlog_latest_version(root))
        }
    except (RuntimeError, OSError):
        live = set()
    published = sorted(set(payload["add"]) & live)
    if published:
        raise RuntimeError(
            f"refusing to abort branch {branch!r}: groups {published} are "
            "LIVE at main's head (the payload was already published) — "
            "aborting would delete referenced data; use restore/vacuum to "
            "retire published commits"
        )
    os.unlink(bpath)
    for g in payload["add"]:
        shutil.rmtree(os.path.join(root, g), ignore_errors=True)


def _tlog_version_adding(
    root: str, groups: list[str], base: int, latest: int
) -> int:
    """Earliest version in (base, latest] whose commit's add-set
    covers ``groups`` — the version a replayed publish actually
    LANDED at (ADVICE r15: the short-circuit's pin must be the leg's
    own commit, not whatever head has since accumulated). Falls back
    to ``latest`` only if no commit in the window matches (the groups
    are live, so this is a should-not-happen defensive path)."""
    import json

    want = set(groups)
    logd = os.path.join(root, "_log")
    for v in range(base + 1, latest + 1):
        try:
            c = json.load(open(os.path.join(logd, f"{v:06d}.json")))
        except (OSError, ValueError):
            continue
        if want <= set(c.get("add", [])):
            return v
    return latest


def _tlog_wap_publish(
    spark: SparkSession,
    root: str,
    payload: dict,
    branch: str = _TLOG_WAP_BRANCH,
    audited: bool = False,
) -> int:
    """PUBLISH: promote the audited branch commit onto main through
    the full OCC rebase protocol. The staged change is a blind append
    (read set empty — it derives from nothing in the table), so main
    commits that landed while the audit ran commute and the publish
    rebases over them; only a concurrent claim of the same group name
    is a true conflict. The branch ref is retired after the publish
    (real formats fast-forward the branch; with a single staged commit
    the two are the same operation). Re-publishing is idempotent: an
    already-live group short-circuits (covers a crash between the
    commit and the ref retire), and two sessions racing the identical
    publish fall to same-commit adoption.

    ``audited=True`` skips the re-audit: for a caller that ALREADY
    audited the payload under its own snapshot (the txn coordinator
    audits every leg before publishing any), re-auditing here would
    let table state that changed AFTER the transaction's audit point
    (e.g. a CHECK constraint added post-crash) veto a leg of a
    transaction that is already committed — the mixed-outcome hazard
    presumed-commit recovery exists to prevent (VERDICT r14 #1)."""
    latest = _tlog_latest_version(root)
    live = {os.path.basename(p) for p in _tlog_live_files(root, latest)}
    if set(payload["add"]) <= live:
        # already published (e.g. a crash between the commit and the
        # branch-ref retire): publishing is idempotent — retire the
        # ref and report the version whose COMMIT added the groups,
        # not the current head. On recovery, unrelated commits may
        # have landed between crash and replay; pinning the head
        # would silently fold those foreign commits into a caller's
        # supposedly-atomic catalog view (ADVICE r15). The publish
        # lands all groups in one commit (same-commit adoption under
        # races), so scanning the bounded window base+1..head for the
        # commit whose add-set covers the payload finds it exactly.
        bpath = _tlog_branch_path(root, branch, payload["base"] + 1)
        if os.path.exists(bpath):
            os.unlink(bpath)
        return _tlog_version_adding(root, payload["add"], payload["base"], latest)
    if not audited:
        failures = _tlog_wap_audit(spark, root, payload)
        if failures:
            raise RuntimeError(
                "refusing to publish an unaudited/failed branch: "
                + "; ".join(failures)
            )
    v = _tlog_commit_rebase(
        root,
        add=payload["add"],
        remove=[],
        base_version=_tlog_latest_version(root),
        read_set=set(),
        stats=payload["stats"] or None,
    )
    bpath = _tlog_branch_path(root, branch, payload["base"] + 1)
    if os.path.exists(bpath):
        os.unlink(bpath)
    return v


_TLOG_WAP_SPEC = {"impl": 1, "pred": _TLOG_WAP_PRED, "branch": _TLOG_WAP_BRANCH}


def _tlog_apply_wap(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the WAP lifecycle once per table dir (flock + stamp): a BAD
    candidate (negated prices — violates the CHECK constraint) is
    staged and must FAIL its audit, leaving main byte-identical; then
    the GOOD slice stages, audits clean, and publishes as v3. Both
    sides of the gate are exercised on the table the registry reads."""
    import json

    stamp = json.dumps(_TLOG_WAP_SPEC, sort_keys=True)

    def build() -> None:
        if _tlog_latest_version_safe(root) != 2:
            # mutations from a superseded spec on this root: wipe and
            # rebuild the base (the DML recovery discipline)
            wipe_root(root)
            _tlog_build(spark, sf_dir, root)
        if _tlog_latest_version(root) == 2:
            slice_df = (
                load_table(spark, sf_dir, "orders")
                .filter(F.expr(_TLOG_WAP_PRED))
                .select("o_orderkey", "o_totalprice")
            )
            # the bad candidate: constraint-violating prices
            bad = _tlog_wap_stage(
                slice_df.withColumn("o_totalprice", -F.col("o_totalprice")),
                root,
                "file_wap_bad",
            )
            bad_failures = _tlog_wap_audit(spark, root, bad)
            if not bad_failures:
                raise RuntimeError(
                    "WAP audit let a constraint-violating append through"
                )
            _tlog_wap_abort(root, bad)
            if _tlog_latest_version(root) != 2:
                raise RuntimeError(
                    "WAP abort left main mutated — staging leaked into the log"
                )
            good = _tlog_wap_stage(slice_df, root, "file_wap_good")
            _tlog_wap_publish(spark, root, good)

    built_once(root, "_WAP", stamp, build)


@register(
    "table_log_wap_publish",
    # Hash oracle: main's head after the lifecycle is the source plus
    # the audited slice — and NOTHING from the bad candidate (whose
    # negated prices would shift sum_cents if any row leaked).
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders WHERE {_TLOG_WAP_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM t GROUP BY 1
    """,
    tags=("S9-wap", "lakehouse", "write-audit-publish", "branch", "occ"),
)
def table_log_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-wap — WRITE-AUDIT-PUBLISH (SURVEY §7 candidate (b)): the
    production pattern for gating data quality at the commit boundary.
    WRITE stages an append on a BRANCH ref — data files land (staged
    write + manifest stats in one job) and a branch commit file
    records them outside the main log's numbered sequence, so main
    readers cannot resolve the staged snapshot. AUDIT validates the
    branch's delta (non-empty, no NULL keys, CHECK(o_totalprice > 0),
    data-vs-manifest-stats agreement) in one bounded agg over only the
    staged bytes. PUBLISH promotes the audited payload onto main
    through the OCC rebase protocol (a blind append: empty read set,
    commutes with concurrent main commits) and retires the branch.
    The lifecycle exercises BOTH gates on the registry table: a
    constraint-violating candidate (negated prices) must fail its
    audit and abort with main byte-identical, then the good slice
    publishes as v3. Failed-audit isolation, publish idempotence
    (same-commit adoption), and publish-vs-append concurrency are
    pytest-pinned.

    Scale: WAP's cost model is what makes it viable at 100 TB —
    staging is the write you were doing anyway, the audit reads only
    the delta (never the table), and publish is one metadata commit.
    The branch ref mechanism adds zero read-path cost: invisibility-
    until-referenced is already the commit protocol's rule.

    Engine divergence note: Iceberg WAP keeps the branch after
    publish (fast-forward); here a published branch is retired —
    with single-commit branches the two are equivalent, and retiring
    keeps the ref namespace from growing unboundedly."""
    root = _tlog_build(spark, sf_dir, _tlog_wap_root(sf_dir))
    _tlog_apply_wap(spark, sf_dir, root)
    return _tlog_fingerprint(spark, root)


# --- Row-level CDC pre/post images (S9-cdf'') -----------------------------


def _tlog_change_rows(spark: SparkSession, root: str) -> DataFrame:
    """The orders-schema change frame the CDC image pairing consumes:
    (version, side, o_orderkey, o_totalprice) for every post-bootstrap
    commit."""
    return _tlog_change_rows_for(
        spark, root, _tlog_feed_units(root), "o_orderkey",
        ["o_orderkey", "o_totalprice"],
    )


def _tlog_cdc_images(spark: SparkSession, root: str) -> DataFrame:
    """Classify each commit's change rows into ROW-LEVEL images by
    pairing the add and remove sides per (version, key): a key only
    added is an ``insert``, only removed a ``delete``, on both sides
    with a changed value an ``update_preimage``/``update_postimage``
    pair — and on both sides UNCHANGED it cancels entirely, which is
    the point: a compaction or CoW rewrite's untouched rows are
    file-level noise, not logical changes, and a consumer applying
    images (a dimension-table sync, an audit trail) must not see
    them. Requires the table's key to be unique per commit side (true
    for every lifecycle in this package); a violating commit raises
    rather than emitting ambiguous images. One shuffle by (version,
    key) over change-sized rows."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    paired = (
        _tlog_change_rows(spark, root)
        .select("version", "o_orderkey", "side", cents.alias("cents"))
        .groupBy("version", "o_orderkey")
        .agg(
            F.sum(F.when(F.col("side") == "add", 1).otherwise(0)).alias("n_add"),
            F.sum(F.when(F.col("side") == "remove", 1).otherwise(0)).alias("n_rm"),
            F.max(F.when(F.col("side") == "add", F.col("cents"))).alias("add_cents"),
            F.max(F.when(F.col("side") == "remove", F.col("cents"))).alias("rm_cents"),
        )
    )
    # one pass: each paired key explodes to 0 (cancelled), 1
    # (insert/delete), or 2 (update pre+post) image rows; the guard is
    # the first branch of the SAME expression, so it cannot be pruned
    def _one(kind: str, c) -> F.Column:
        return F.array(F.struct(F.lit(kind).alias("change_type"), c.alias("cents")))

    images = (
        F.when(
            (F.col("n_add") > 1) | (F.col("n_rm") > 1),
            F.raise_error(
                "CDC image derivation requires a unique key per commit "
                "side — a commit added or removed the same o_orderkey "
                "twice; consume the file-level feed instead"
            ).cast("array<struct<change_type:string,cents:bigint>>"),
        )
        .when((F.col("n_add") > 0) & (F.col("n_rm") == 0), _one("insert", F.col("add_cents")))
        .when((F.col("n_rm") > 0) & (F.col("n_add") == 0), _one("delete", F.col("rm_cents")))
        .when(
            F.col("add_cents") != F.col("rm_cents"),
            F.concat(
                _one("update_preimage", F.col("rm_cents")),
                _one("update_postimage", F.col("add_cents")),
            ),
        )
        .otherwise(F.array().cast("array<struct<change_type:string,cents:bigint>>"))
    )
    return (
        paired.select("version", F.explode(images).alias("img"))
        .select("version", "img.change_type", "img.cents")
        .groupBy("version", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .select("version", "change_type", "n_rows", "sum_cents")
    )


@register(
    "table_log_cdc_images",
    # Hash oracle: the DML'd table's row-level images recomputed from
    # the source. v1/v2 net to pure inserts (the v2 compaction's
    # carried-over residue-1 rows cancel add-vs-remove — file-level
    # CDC would emit them twice); v3 is the sparse DELETE's doomed
    # keys; v4 is the UPDATE's pre/post pair over exactly the bumped
    # keys (the CoW rewrite's untouched rows cancel).
    oracle=f"""
        WITH img AS (
          SELECT 1 AS version, 'insert' AS change_type, o_totalprice AS price
          FROM orders WHERE o_orderkey % 4 = 2
          UNION ALL
          SELECT 2, 'insert', o_totalprice
          FROM orders WHERE o_orderkey % 4 = 3
          UNION ALL
          SELECT 3, 'delete', o_totalprice
          FROM orders WHERE {_TLOG_DELETE_PRED}
          UNION ALL
          SELECT 4, 'update_preimage', o_totalprice
          FROM orders
          WHERE {_TLOG_UPDATE_PRED} AND NOT ({_TLOG_DELETE_PRED})
          UNION ALL
          SELECT 4, 'update_postimage', o_totalprice + {_TLOG_UPDATE_BUMP}
          FROM orders
          WHERE {_TLOG_UPDATE_PRED} AND NOT ({_TLOG_DELETE_PRED})
        )
        SELECT version, change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM img GROUP BY 1, 2
    """,
    tags=("S9-cdf''", "lakehouse", "cdc", "images", "dml"),
)
def table_log_cdc_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cdf'' — ROW-LEVEL PRE/POST IMAGES (SURVEY §7 candidate (d)):
    the change feed's file-level units, refined to the per-row truth a
    CDC consumer actually wants. Pairing add and remove sides per
    (version, key) classifies every change row: insert, delete, or an
    update_preimage/update_postimage pair — and rows a rewrite merely
    CARRIED (a compaction's survivors, a CoW update's unmatched rows)
    cancel out entirely, so downstream sees logical changes only.
    Attested on the DML table's full lifecycle: two appends, a
    compaction (whose carried rows must vanish from the images), a
    DV-only DELETE, and a CoW UPDATE (whose bumped keys must emit
    exactly one pre+post pair each). A pure-rewrite commit emitting
    ZERO images and the unique-key guard are pytest-pinned.

    Scale: one shuffle keyed (version, o_orderkey) over CHANGE-sized
    rows (never the table) — this is the lazy-derivation alternative
    to Delta's write-time _change_type materialization: the log plus
    DV sidecars carry enough state to reconstruct images on demand,
    so the write hot path stores nothing extra, at the cost of one
    re-read of changed files when a consumer asks for images.

    Engine divergence note: Delta CDF requires the writer to opt in
    (delta.enableChangeDataFeed) and physically persists change rows;
    here derivation is always available, and pairing requires key
    uniqueness per commit side — tables without a key fall back to
    the file-level feed (``table_log_incremental_read``)."""
    root = _tlog_build(spark, sf_dir, _tlog_dml_root(sf_dir))
    _tlog_apply_dml(spark, sf_dir, root)
    return _tlog_cdc_images(spark, root)


# --- Consistent cross-table as-of reads (S9-masof) -------------------------


@register(
    "table_log_multi_asof",
    # Hash oracle: both tables' snapshots at each shared instant,
    # recomputed from the source. Instant 1 predates the third base
    # commit (both tables at v1: residues 0,1,2); instant 2 is the
    # DML table's DELETE commit (base full, dml minus deleted);
    # instant 3 is after its UPDATE (base full, dml with the bump).
    oracle=f"""
        WITH snap AS (
          SELECT 1 AS instant, 'base' AS tbl, o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
          UNION ALL
          SELECT 1, 'dml', o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
          UNION ALL
          SELECT 2, 'base', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 2, 'dml', o_orderkey, o_totalprice
          FROM orders WHERE NOT ({_TLOG_DELETE_PRED})
          UNION ALL
          SELECT 3, 'base', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 3, 'dml', o_orderkey,
                 CASE WHEN {_TLOG_UPDATE_PRED}
                      THEN o_totalprice + {_TLOG_UPDATE_BUMP}
                      ELSE o_totalprice END
          FROM orders WHERE NOT ({_TLOG_DELETE_PRED})
        )
        SELECT instant, tbl,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM snap GROUP BY 1, 2
    """,
    tags=("S9-masof", "lakehouse", "time-travel", "as-of", "multi-table"),
)
def table_log_multi_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-masof — CONSISTENT CROSS-TABLE AS-OF READS (SURVEY §7
    candidate (a)): "every table as of instant T" — the reproducibility
    primitive a training-data pipeline needs to rebuild yesterday's
    exact inputs across a whole warehouse, not one table at a time.
    Each table's log resolves the SAME instant independently through
    its commit timestamps (``_tlog_version_as_of``); because all
    stamps come from one clock (production: the wall clock; here: the
    deterministic logical clock), the resolved snapshot set is
    mutually consistent — no table shows state from after T. Three
    instants are read across two tables (the shared read table and
    the DML'd table): one mid-history (both at v1), one at the DML
    table's DELETE commit (versions diverge: base v2, dml v3 — skewed
    last-commit times are the normal case), one after its UPDATE.
    Every resolution is asserted against the expected version, then
    all six snapshots fingerprint through a DV-aware two-half plan
    (partial aggregates for unbound files, row-level anti-join for
    DV-bound ones).

    Scale: resolution is N driver-side metadata lookups for N tables
    — no coordination, no lock, no data read; the consistency comes
    from timestamps alone, which is exactly how Delta/Iceberg
    multi-table reproduction works (each table resolves
    independently against the shared clock). The fingerprint plan
    scans each distinct file once across all snapshots that share
    it.

    Engine divergence note: this is read-side consistency (one
    instant, N independent logs) — not multi-table TRANSACTIONS
    (atomic commits spanning logs), which no single-log format
    provides and this repo does not claim."""
    base_root = _tlog_build(spark, sf_dir, _tlog_root(sf_dir))
    dml_root = _tlog_build(spark, sf_dir, _tlog_dml_root(sf_dir))
    _tlog_apply_dml(spark, sf_dir, dml_root)
    instants = [
        (1, _tlog_commit_ts(dml_root, 1)),
        (2, _tlog_commit_ts(dml_root, 3)),
        (3, _tlog_commit_ts(dml_root, 4) + 1),
    ]
    expected = {"base": {1: 1, 2: 2, 3: 2}, "dml": {1: 1, 2: 3, 3: 4}}
    parts: list[DataFrame] = []
    for tbl, root in (("base", base_root), ("dml", dml_root)):
        labeled = []
        for label, ts in instants:
            v = _tlog_version_as_of(root, ts)
            if v != expected[tbl][label]:
                raise RuntimeError(
                    f"cross-table as-of drifted: {tbl} at instant {label} "
                    f"(ts {ts}) resolved to v{v}, expected "
                    f"v{expected[tbl][label]}"
                )
            labeled.append((label, v))
        parts.append(
            _tlog_snapshot_fingerprints(spark, root, labeled).select(
                F.col("version").alias("instant"), F.lit(tbl).alias("tbl"),
                "n_rows", "sum_cents", "min_key", "max_key",
            )
        )
    return parts[0].unionByName(parts[1])


# --- Metadata-driven compaction trigger (S9-ctr) ---------------------------

_TLOG_TRG_THRESHOLD = 4  # live file groups at/above this fire a compaction
_TLOG_TRG_MERGE_K = 2    # merge this many smallest groups per firing
_TLOG_TRG_PRED = "o_orderkey % 100 = 55"  # the lifecycle's small append


def _tlog_trg_root(sf_dir: str) -> str:
    # own root: the trigger commits compactions on its table (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tablelogtrg_{corpus_tag(sf_dir)}"
    )


def _tlog_group_bytes(root: str, group: str) -> int:
    """A file group's on-disk size — the manifest metadata real formats
    record at write time (Delta's `size`, Iceberg's file_size_in_bytes);
    this log keeps data files self-describing, so the trigger reads the
    same number from the storage layer, still driver-side and
    data-plane-free."""
    d = os.path.join(root, group)
    return sum(e.stat().st_size for e in os.scandir(d) if e.is_file())


def _tlog_compact_trigger(
    spark: SparkSession,
    root: str,
    threshold: int = _TLOG_TRG_THRESHOLD,
    k: int = _TLOG_TRG_MERGE_K,
) -> dict:
    """Evaluate the compaction trigger and maybe fire it: the DECISION
    is pure metadata — live group count from the log, group sizes from
    the manifests — so a maintenance scheduler can poll it across
    thousands of tables without touching the data plane. Below the
    threshold nothing happens (no commit, no job). At or above it, the
    ``k`` smallest groups (size, then name — deterministic) rewrite
    into one key-sorted group through :func:`_tlog_rewrite` (live DV
    bindings applied, one ``dataChange: false`` commit). Returns the
    decision record."""
    base = _tlog_latest_version(root)
    live = [os.path.basename(p) for p in _tlog_live_files(root, base)]
    if len(live) < threshold:
        return {
            "fired": 0, "live_before": len(live), "live_after": len(live),
            "version": base,
        }
    sizes = {g: _tlog_group_bytes(root, g) for g in live}
    victims = sorted(live, key=lambda g: (sizes[g], g))[:k]
    v = _tlog_rewrite(
        spark, root, victims, f"file_ctr_{base + 1}", cluster=["o_orderkey"]
    )
    return {
        "fired": 1, "live_before": len(live),
        "live_after": len(live) - len(victims) + 1, "version": v,
    }


_TLOG_TRG_SPEC = {
    "impl": 1,
    "threshold": _TLOG_TRG_THRESHOLD,
    "k": _TLOG_TRG_MERGE_K,
    "pred": _TLOG_TRG_PRED,
}


def _tlog_apply_trigger(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the trigger lifecycle once per table dir (flock + stamp):
    evaluate at 3 live groups (must SKIP — no commit), append a small
    slice (4 groups), evaluate again (must FIRE — merge the two
    smallest). Decision records persist beside the stamp for the
    registry read."""
    import json

    stamp = json.dumps(_TLOG_TRG_SPEC, sort_keys=True)
    decisions_file = os.path.join(root, "_TRIGGER_DECISIONS")

    def build() -> None:
        if _tlog_latest_version_safe(root) != 2:
            wipe_root(root)
            _tlog_build(spark, sf_dir, root)
        decisions = []
        d1 = _tlog_compact_trigger(spark, root)
        if d1["fired"] or _tlog_latest_version(root) != 2:
            raise RuntimeError(
                f"trigger fired below threshold: {d1} at "
                f"v{_tlog_latest_version(root)}"
            )
        decisions.append({"step": 1, **d1})
        slice_df = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr(_TLOG_TRG_PRED))
            .select("o_orderkey", "o_totalprice")
        )
        _tlog_land(spark, root, slice_df, None, "file_trg_small")
        d2 = _tlog_compact_trigger(spark, root)
        if not d2["fired"]:
            raise RuntimeError(f"trigger failed to fire at threshold: {d2}")
        decisions.append({"step": 2, **d2})
        write_atomic(decisions_file, json.dumps(decisions))

    built_once(
        root, "_TRIGGER", stamp, build,
        valid=lambda: os.path.exists(decisions_file),
    )


@register(
    "table_log_compact_trigger",
    # Hash oracle: the decision trail is deterministic (skip at 3
    # groups, fire at 4, merging 2), and each step's post-state
    # content is recomputed from the source — step 1 the bare table,
    # step 2 the table plus the appended slice (compaction preserves
    # content BY CONSTRUCTION; a lost or duplicated row shifts the
    # fingerprint).
    oracle=f"""
        WITH s1 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
          FROM orders
        ),
        s2 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
          FROM (
            SELECT o_totalprice FROM orders
            UNION ALL
            SELECT o_totalprice FROM orders WHERE {_TLOG_TRG_PRED}
          )
        )
        SELECT 1 AS step, 0 AS fired, 3 AS live_before, 3 AS live_after,
               n_rows, sum_cents FROM s1
        UNION ALL
        SELECT 2, 1, 4, 3, n_rows, sum_cents FROM s2
    """,
    tags=("S9-ctr", "lakehouse", "compaction", "maintenance", "trigger"),
)
def table_log_compact_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-ctr — the COMPACTION TRIGGER (SURVEY §7 candidate (e)):
    maintenance as a METADATA-DRIVEN DECISION, not a scheduled habit.
    The trigger polls the log — live group count, manifest sizes —
    and compacts only when the small-file census crosses the
    threshold, merging the k smallest groups through the staged-write
    kernel (live DVs applied) and one OCC commit. The lifecycle
    exercises both sides on the registry table: at 3 groups it must
    SKIP (no commit, no data read — pytest-poisoned), after a small
    append crosses to 4 it must FIRE (4 → 3 groups, content
    preserved). Output = the decision trail joined to each step's
    post-state fingerprint.

    Scale: a 1000-table lakehouse cannot afford scheduled blind
    OPTIMIZE jobs — the skip path must cost metadata only (here: one
    log replay + a stat() per group, no Spark job), so a scheduler
    can sweep every table cheaply and spend compute exactly where
    small files accumulate. The fire path's cost is the k merged
    groups' bytes, never the table. Size-ascending victim choice
    maximizes files-removed-per-byte-rewritten (the standard bin-
    packing greedy, reduced to k smallest)."""
    import json

    root = _tlog_build(spark, sf_dir, _tlog_trg_root(sf_dir))
    _tlog_apply_trigger(spark, sf_dir, root)
    decisions = json.load(open(os.path.join(root, "_TRIGGER_DECISIONS")))
    fps = _tlog_snapshot_fingerprints(
        spark, root, [(d["step"], d["version"]) for d in decisions]
    )
    ddf = spark.createDataFrame(
        [
            (d["step"], d["fired"], d["live_before"], d["live_after"])
            for d in decisions
        ],
        "step int, fired int, live_before int, live_after int",
    )
    return (
        fps.select(F.col("version").alias("step"), "n_rows", "sum_cents")
        .join(F.broadcast(ddf), "step")
        .select("step", "fired", "live_before", "live_after", "n_rows", "sum_cents")
    )


# --- Streaming ingest of the REAL events table + incremental rollup -------
# (SURVEY §7 candidate (c): file-stream source -> table-log commits ->
# a downstream consumer maintaining a daily materialized rollup from
# the change feed, never re-scanning the table.)

_TLOG_EV_SRC_FILES = 8       # staged multi-file source layout
_TLOG_EV_PER_TRIGGER = 3     # maxFilesPerTrigger -> >=3 micro-batches
_TLOG_EV_ROLLUP_BUCKETS = 4  # rollup file groups, keyed by day


def _tlog_ev_src_dir(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_evsrc_{corpus_tag(sf_dir)}"
    )


def _tlog_ev_root(sf_dir: str) -> str:
    # own root: the ingest commits into its table's log (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogev_{corpus_tag(sf_dir)}"
    )


def _tlog_ev_rollup_root(sf_dir: str) -> str:
    # own root: the rollup consumer commits into ITS table's log
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogevru_{corpus_tag(sf_dir)}"
    )


_TLOG_EV_SCHEMA = (
    "event_id long, ts timestamp, event_type string, value double"
)
_TLOG_EV_SPEC = {
    "impl": 2,
    "files": _TLOG_EV_SRC_FILES,
    "per_trigger": _TLOG_EV_PER_TRIGGER,
}


def _tlog_ev_stage_source(spark: SparkSession, sf_dir: str) -> str:
    """Export the REAL events table as a multi-file parquet directory
    — the landing zone a file-stream ingest tails in production
    (flock + stamp, hash-partitioned on event_id so every file's
    content is deterministic)."""
    import json

    src = _tlog_ev_src_dir(sf_dir)
    stamp = json.dumps(_TLOG_EV_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_zone_write(
            load_table(spark, sf_dir, "events").select(
                "event_id", "ts", "event_type", "value"
            ),
            os.path.join(src, "data"), _TLOG_EV_SRC_FILES, "event_id",
        )

    built_once(src, "_STAGED", stamp, build)
    return src


def _tlog_apply_ev_ingest(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Drain the staged events directory into a table-log table via a
    REAL Structured Streaming file source (``maxFilesPerTrigger``
    bounds each micro-batch), one atomic commit per batch keyed by
    batch id (the stream_table_log_ingest exactly-once discipline, on
    the package's real corpus table). The landing zone's names and
    mtimes fix the batch BOUNDARIES (``_tlog_zone_write``), so two
    drains of one corpus write the same commits, and the per-trigger
    cap guarantees a multi-batch history for the downstream
    incremental consumer."""
    import json

    def build() -> None:
        _tlog_drain(
            spark.readStream.schema(_TLOG_EV_SCHEMA)
            .option("maxFilesPerTrigger", _TLOG_EV_PER_TRIGGER)
            .parquet(os.path.join(_tlog_ev_stage_source(spark, sf_dir), "data")),
            lambda batch_df, batch_id: _tlog_land(
                spark, root, batch_df, batch_id, f"file_evb{batch_id}"
            ),
            root,
        )
        n_commits = _tlog_latest_version(root) + 1
        if n_commits < 2:
            raise RuntimeError(
                f"events ingest drained {n_commits} commit(s) — the "
                "per-trigger cap should force a multi-batch history"
            )
        got = _tlog_relation(
            spark, _tlog_live_files(root, n_commits - 1)
        ).count()
        want = load_table(spark, sf_dir, "events").count()
        if got != want:
            raise RuntimeError(
                f"events ingest landed {got} rows, source has {want} — "
                "a batch was lost or double-applied"
            )

    _tlog_drain_once(
        root, "_INGESTED", json.dumps(_TLOG_EV_SPEC, sort_keys=True),
        "_INGEST_SPEC", build,
    )


@register(
    "stream_events_table_ingest",
    # Hash oracle: the drained table's content is the events table
    # (whatever the batch boundaries were) — per-type exact-integer
    # fingerprints straight from the source.
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micros,
               CAST(MIN(event_id) AS BIGINT) AS min_id,
               CAST(MAX(event_id) AS BIGINT) AS max_id
        FROM events GROUP BY 1
    """,
    tags=("S9-in'", "stream", "lakehouse", "ingest", "events"),
)
def stream_events_table_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-in' — STREAMING INGEST OF THE REAL EVENTS TABLE (SURVEY §7
    candidate (c), first half): the corpus events table, exported as
    a multi-file landing directory, drains into the table format
    through a REAL Structured Streaming file source with
    ``maxFilesPerTrigger`` bounding each micro-batch — one atomic
    commit per batch, batch-id idempotent (the
    ``stream_table_log_ingest`` exactly-once discipline, now on real
    data through the production source type instead of a synthetic
    generator). Every batch commit carries per-column manifest stats
    from the landing write itself — including the event timestamp as
    ISO-string bounds — so the ingested table is time-range and
    key-range prunable from the first commit. Batch boundaries are
    fixed by the landing zone's file order; the contract is the
    drained content (hash-checked per event type) plus a multi-batch
    history for the downstream incremental consumer
    (``table_log_rollup_incremental``).

    Scale: the file-stream + commit-per-batch pair is the standard
    object-store ingest topology (S3 landing bucket → Delta/Iceberg
    table): listing cost is bounded by the trigger cap, readers stay
    consistent at any ingest rate, and retries are free via the
    batch-id key."""
    root = _tlog_ev_root(sf_dir)
    _tlog_apply_ev_ingest(spark, sf_dir, root)
    files = _tlog_live_files(root, _tlog_latest_version(root))
    return (
        _tlog_relation(spark, files)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "sum_micros"
            ),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
        .select("event_type", "n_rows", "sum_micros", "min_id", "max_id")
    )


def _tlog_rollup_consume(
    spark: SparkSession, rollup_root: str, ev_root: str, version: int
) -> None:
    """Consume ONE source commit into the rollup table: the commit's
    SIGNED change rows (add = +1, remove/DV-delete = -1, via the
    DV-complete change units) aggregate to per-(day, event_type)
    count/sum deltas — self-maintainable aggregates, so deletes
    decrement without recomputation — and merge into only the rollup
    file groups whose day-bucket the delta touches. One staged write,
    one OCC commit keyed by the source version (idempotent replay).
    MIN/MAX are deliberately absent: they are not self-maintainable
    under deletes (a delete of the current max forces a rescan), the
    textbook materialized-view-maintenance boundary."""

    if _tlog_batch_committed(rollup_root, version):
        return  # replayed source commit: idempotent no-op
    if not _tlog_change_units(ev_root, version):
        return  # dataChange=false rearrangement: no logical change
    sign = F.when(F.col("side") == "add", F.lit(1)).otherwise(F.lit(-1))
    micros = F.round(F.col("value") * 1000000).cast("long")
    bucket = (F.dayofmonth("day") % _TLOG_EV_ROLLUP_BUCKETS).cast("int")
    delta = (
        _tlog_change_rows_for(
            spark, ev_root, _tlog_feed_units(ev_root, [version]), "event_id",
            ["ts", "event_type", "value"],
        )
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
            sign.alias("sg"),
            (sign * micros).alias("dm"),
        )
        .groupBy("day", "event_type")
        .agg(F.sum("sg").alias("n"), F.sum("dm").alias("sum_micros"))
        .withColumn("bucket", bucket)
        # consumed TWICE (touched-bucket collect + the merge write):
        # uncached, the change-file scan + aggregation would run twice
        # per consumed commit (the round-6 multi-consumer lesson)
        .cache()
    )
    touched = sorted(
        int(r["bucket"]) for r in delta.select("bucket").distinct().collect()
    )
    if not touched:
        delta.unpersist()
        return  # an empty change set (nothing to fold)
    try:
        base = _tlog_latest_version(rollup_root)
        live = {
            os.path.basename(p)
            for p in _tlog_live_files(rollup_root, base)
        }
    except (RuntimeError, OSError):  # no log yet: bootstrap consume
        base, live = -1, set()
    # copy-on-write purity: rewritten buckets land under NEW versioned
    # group names (rollup_b<bucket>_v<version>) — reusing a live name
    # would mutate a file the relation memo and historical snapshots
    # still reference
    import re

    live_by_bucket = {
        int(m.group(1)): g
        for g in live
        if (m := re.fullmatch(r"rollup_b(\d+)_v\d+", g))
    }
    groups = [f"rollup_b{b}_v{base + 1}" for b in touched]
    existing = [live_by_bucket[b] for b in touched if b in live_by_bucket]
    merged = delta.select("day", "event_type", "n", "sum_micros", "bucket")
    if existing:
        old = _tlog_relation(
            spark, [os.path.join(rollup_root, g) for g in existing]
        )
        merged = merged.unionByName(old.withColumn("bucket", bucket))
    merged = (
        merged.groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_micros").alias("sum_micros"),
            F.first("bucket").alias("bucket"),
        )
        .filter(F.col("n") > 0)  # a fully-deleted key drops out
        .withColumn(
            "tgt",
            F.concat(
                F.lit("rollup_b"),
                F.col("bucket").cast("string"),
                F.lit(f"_v{base + 1}"),
            ),
        )
        .drop("bucket")
    )
    promoted, stats = _tlog_staged_write_with_stats(
        merged, rollup_root, groups, require_all=False
    )
    os.makedirs(os.path.join(rollup_root, "_log"), exist_ok=True)
    try:
        _tlog_commit_rebase(
            rollup_root,
            add=promoted,
            remove=existing,
            base_version=base,
            read_set=set(existing),
            batch=version,
            stats=stats or None,
        )
    except TableLogConflictError:
        # two consumers raced the same source version outside the
        # lifecycle lock: if the winner already folded THIS batch the
        # loser's work is redundant, not conflicting — adopt and move
        # on (the staged groups it promoted are unreferenced and fall
        # to vacuum); any other conflict is real
        if not _tlog_batch_committed(rollup_root, version):
            raise
    finally:
        delta.unpersist()


def _tlog_apply_ev_rollup(
    spark: SparkSession, sf_dir: str, rollup_root: str, ev_root: str
) -> None:
    """Run the incremental consumer over every source commit once
    (flock + stamp folding the source spec and its latest version):
    version-by-version, exactly the cadence a scheduled materialized-
    view refresh runs — each step reads ONLY that commit's change
    files. Crash-resumable: consumed versions are batch-keyed commits,
    so a resume applies only the missing ones."""
    import json

    ev_latest = _tlog_latest_version(ev_root)
    spec = json.dumps(
        {
            "impl": 1,
            "buckets": _TLOG_EV_ROLLUP_BUCKETS,
            "src": _TLOG_EV_SPEC,
            "through": ev_latest,
        },
        sort_keys=True,
    )

    def build() -> None:
        for v in range(ev_latest + 1):
            _tlog_rollup_consume(spark, rollup_root, ev_root, v)

    _tlog_drain_once(rollup_root, "_ROLLED", spec, "_ROLLUP_SPEC", build)


@register(
    "table_log_rollup_incremental",
    # Hash oracle: the materialized rollup equals the batch-computed
    # daily aggregate over the source events table — however many
    # micro-batches the ingest cut and in whatever order the consumer
    # folded them (exact-integer sums are merge-order-independent).
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micros
        FROM events GROUP BY 1, 2
    """,
    tags=("S9-mv", "lakehouse", "cdc", "rollup", "materialized-view"),
)
def table_log_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-mv — INCREMENTAL MATERIALIZED-VIEW MAINTENANCE (SURVEY §7
    candidate (c), second half): a daily (day, event_type) rollup
    table maintained FROM THE CHANGE FEED of the stream-ingested
    events table — per source commit, the consumer reads only that
    commit's change files, aggregates SIGNED deltas (add = +1,
    remove/DV-delete = -1 via the DV-complete change units — so the
    same consumer decrements under deletes, pytest-pinned), and
    merges them into only the rollup file groups whose day-bucket is
    touched, one OCC commit per source version with batch-id replay
    idempotence. The final rollup is hash-checked against the batch
    recomputation from the source — the defining materialized-view
    equation (incremental ≡ full recompute).

    Scale: this is the continuous-aggregate pattern (TimescaleDB
    rollups, Delta Live Tables, Materialize): refresh cost is
    change-sized, never table-sized, because COUNT/SUM are
    self-maintainable; the rollup's day-bucketed file groups bound
    write amplification the way day-partitioned MV tables do (a
    day's late data rewrites one bucket, not the view). MIN/MAX are
    deliberately out of scope — not self-maintainable under deletes
    (the textbook boundary); a view needing them recomputes affected
    groups from the base table instead."""
    ev_root = _tlog_ev_root(sf_dir)
    _tlog_apply_ev_ingest(spark, sf_dir, ev_root)
    rollup_root = _tlog_ev_rollup_root(sf_dir)
    _tlog_apply_ev_rollup(spark, sf_dir, rollup_root, ev_root)
    files = _tlog_live_files(rollup_root, _tlog_latest_version(rollup_root))
    return _tlog_relation(spark, files).select(
        "day", "event_type", "n", "sum_micros"
    )


# --- Zero-copy shallow clone (S9-cln) --------------------------------------

_TLOG_CLN_ADD_PRED = "o_orderkey % 10 = 7"  # the clone's local append
_TLOG_CLN_DV_MOD, _TLOG_CLN_DV_RESIDUE = 9, 3  # local delete on borrowed file_D


def _tlog_clone_root(sf_dir: str) -> str:
    # own root: the clone's log is its own table (that's the point)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcln_{corpus_tag(sf_dir)}"
    )


def _tlog_clone_shallow(src_root: str, clone_root: str, src_version: int) -> int:
    """CLONE as one metadata commit: the clone's bootstrap commit
    references the source snapshot's data files BY RELATIVE PATH —
    zero data bytes copied, however large the table — and carries the
    source's DV bindings and manifest stats for those files, so the
    clone reads (and stats-prunes) identically from birth. From then
    on the two logs evolve independently: clone commits never appear
    in the source and vice versa."""
    import threading

    rel = os.path.relpath(src_root, clone_root)
    borrowed = [
        os.path.join(rel, os.path.basename(p))
        for p in _tlog_live_files(src_root, src_version)
    ]
    dvs = {
        os.path.join(rel, f): os.path.join(rel, s)
        for f, s in _tlog_live_dvs(src_root, src_version).items()
    }
    # stats key by BASENAME: every prune helper looks bounds up by the
    # live path's basename, so relative-path keys would never be
    # consulted and the clone would silently lose its pruning (the DV
    # map, by contrast, must keep the full entry names — its replay
    # drops bindings by commit add/remove name)
    stats = {
        os.path.basename(f): st
        for f, st in _tlog_live_stats(src_root, src_version).items()
    }
    os.makedirs(os.path.join(clone_root, "_log"), exist_ok=True)
    return _tlog_commit_rebase(
        clone_root,
        add=borrowed,
        remove=[],
        base_version=-1,
        read_set=set(),
        dv=dvs or None,
        stats=stats or None,
    )


def _tlog_clone_live_files(clone_root: str) -> list[str]:
    """The clone's live file set with the SOURCE-VACUUM hazard made
    descriptive: a borrowed file whose source table vacuumed it (the
    clone's reference is invisible to the source's retention sweep —
    the documented shallow-clone hazard in every production format)
    fails naming both tables, instead of a raw parquet
    path-not-found mid-query."""
    files = _tlog_live_files(clone_root, _tlog_latest_version(clone_root))
    for p in files:
        src_root = os.path.dirname(os.path.normpath(p))
        if src_root == os.path.normpath(clone_root):
            continue  # local group — the clone's own vacuum governs it
        name = os.path.basename(p)
        if name in _tlog_vacuumed(src_root):
            raise RuntimeError(
                f"shallow clone at {clone_root} borrows {name} from "
                f"{src_root}, which VACUUMED it — the source's retention "
                "sweep cannot see clone references (the shallow-clone "
                "hazard); re-clone from a retained snapshot or deep-copy "
                "the borrowed files"
            )
    return files


_TLOG_CLN_SPEC = {
    "impl": 2,  # 2: carried stats key by basename (prunable)
    "add": _TLOG_CLN_ADD_PRED,
    "dv": [_TLOG_CLN_DV_MOD, _TLOG_CLN_DV_RESIDUE],
}


def _tlog_apply_clone(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the clone lifecycle once per dir (flock + stamp): v0 clones
    the shared base table's head (3 borrowed groups), v1 appends a
    LOCAL group, v2 binds a LOCAL deletion vector to a BORROWED file —
    the clone diverges in both directions without the source changing
    by a byte (asserted)."""
    import json

    stamp = json.dumps(_TLOG_CLN_SPEC, sort_keys=True)

    def build() -> None:
        src_root = _tlog_build(spark, sf_dir, _tlog_root(sf_dir))
        src_latest = _tlog_latest_version(src_root)
        if os.path.isdir(os.path.join(root, "_log")):
            # stamped-stale or unknown-provenance dir: rebuild
            wipe_root(root)
        _tlog_clone_shallow(src_root, root, src_latest)
        slice_df = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr(_TLOG_CLN_ADD_PRED))
            .select("o_orderkey", "o_totalprice")
        )
        _tlog_land(spark, root, slice_df, None, "file_cln_add")
        # local DV on the borrowed file_D: the clone deletes rows the
        # source keeps — the sidecar lives in the CLONE
        rel = os.path.relpath(src_root, root)
        target = os.path.join(rel, "file_D")
        doomed = (
            _tlog_relation(spark, [os.path.join(src_root, "file_D")])
            .filter(
                F.col("o_orderkey") % _TLOG_CLN_DV_MOD == _TLOG_CLN_DV_RESIDUE
            )
            .select("o_orderkey")
        )
        doomed.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, "dv_file_D_v2")
        )
        _tlog_commit_rebase(
            root, add=[], remove=[], base_version=1, read_set=set(),
            dv={target: "dv_file_D_v2"},
        )
        if _tlog_latest_version(src_root) != src_latest:
            raise RuntimeError(
                "clone lifecycle mutated the SOURCE log — isolation broken"
            )

    built_once(root, "_CLONED", stamp, build)


@register(
    "table_log_clone_shallow",
    # Hash oracle: the clone's head = the source content, minus the
    # clone-local delete on borrowed file_D's residues, plus the
    # clone-local append — none of which exists in the source (whose
    # own oracle rows stay untouched in the same run).
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE NOT (o_orderkey % 4 IN (1, 3)
                     AND o_orderkey % {_TLOG_CLN_DV_MOD} = {_TLOG_CLN_DV_RESIDUE})
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CLN_ADD_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM t GROUP BY 1
    """,
    tags=("S9-cln", "lakehouse", "clone", "zero-copy"),
)
def table_log_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cln — ZERO-COPY SHALLOW CLONE: a new table whose bootstrap
    commit references the source snapshot's files by relative path —
    no data movement however large the table (the dev/test-sandbox
    and what-if-experiment primitive: clone prod, mutate freely,
    throw away). The clone carries the source's DV bindings and
    manifest stats at birth, then diverges independently: the
    lifecycle appends a LOCAL group and binds a LOCAL deletion vector
    to a BORROWED file (the clone deletes rows the source keeps)
    while the source log is asserted byte-untouched. The borrowed-
    file read path, local-DV-on-borrowed-file semantics, and
    clone-vs-source isolation are hash-checked; zero-copy (no
    borrowed bytes under the clone root) and the SOURCE-VACUUM hazard
    failing descriptively are pytest-pinned.

    Scale: clone cost is one commit file at any table size — the
    whole point. The known liability is retention: the source's
    vacuum cannot see clone references (true in Delta shallow clones
    too), so a vacuumed borrowed file turns the clone's read into an
    error — made DESCRIPTIVE here (``_tlog_clone_live_files`` names
    both tables and the remedy) instead of a mid-query parquet
    path-not-found.

    Engine divergence note: Delta CLONE records provenance in
    commitInfo and supports deep clones; here the bootstrap commit's
    relative-path entries ARE the provenance, and a deep clone is
    just the replica operator (``stream_table_log_replicate``)."""
    root = _tlog_clone_root(sf_dir)
    _tlog_apply_clone(spark, sf_dir, root)
    _tlog_clone_live_files(root)  # the source-vacuum hazard check
    return _tlog_fingerprint(spark, root)


# --- Time-clustering + timestamp-range pruned read (S9-tsp) ----------------

_TLOG_EV_WEEKS = 4  # cluster the ingested month into 8-day groups
_TLOG_EV_TSP_LO = "2024-01-09 00:00:00"  # the pruned query's range:
_TLOG_EV_TSP_HI = "2024-01-17 00:00:00"  # exactly week group 1


def _tlog_apply_ev_cluster(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Re-cluster the stream-ingested events table BY TIME: the ingest
    batches are arrival-ordered (hash-split here — the worst case:
    every batch spans the whole month), so a time-range query prunes
    nothing; one OPTIMIZE-style rewrite into 8-day groups gives every
    group a TIGHT ts bound in the manifest stats, each group sorted by
    time (:func:`_tlog_rewrite`). The commit carries
    ``dataChange: false`` — live content is identical, so change-feed
    consumers (the rollup, the stream feeds) skip it instead of
    netting a table-sized add/remove pair to zero (Delta's OPTIMIZE
    flag). Flock + stamp idempotent."""
    import json

    stamp = json.dumps(
        {"impl": 1, "weeks": _TLOG_EV_WEEKS, "src": _TLOG_EV_SPEC},
        sort_keys=True,
    )

    def build() -> None:
        base = _tlog_latest_version(root)
        live = [
            os.path.basename(p) for p in _tlog_live_files(root, base)
        ]
        week = F.floor((F.dayofmonth("ts") - 1) / 8).cast("int")
        _tlog_rewrite(
            spark, root, live,
            F.concat(F.lit("file_evw"), week.cast("string"), F.lit(f"_v{base + 1}")),
            [f"file_evw{w}_v{base + 1}" for w in range(_TLOG_EV_WEEKS)],
            ["ts", "event_id"],
        )

    built_once(root, "_CLUSTERED", stamp, build, resume=lambda: True)


def _tlog_ts_prune(
    root: str, version: int, lo_iso: str, hi_iso: str, col: str = "ts"
) -> tuple[list[str], list[str]]:
    """Driver-side timestamp-range pruning over the log's manifest
    stats: keep a live file iff its recorded [min, max] ISO-string
    bounds intersect [lo, hi) — lexicographic comparison of ISO-8601
    strings IS temporal comparison, which is why the staged-write
    kernel records temporal bounds in that form. Files without a
    bound for ``col`` are kept conservatively. Returns (kept,
    skipped) file-group names."""
    stats = _tlog_live_stats(root, version)
    kept, skipped = [], []
    for p in _tlog_live_files(root, version):
        g = os.path.basename(p)
        bounds = stats.get(g, {}).get(col)
        if bounds is None:
            kept.append(g)  # unknown: scan conservatively
            continue
        glo, ghi = str(bounds[0]), str(bounds[1])
        # ISO 'T' separator vs the spec's space: normalize both sides
        glo, ghi = glo.replace("T", " "), ghi.replace("T", " ")
        # a DATE-typed column serializes date-only bounds
        # ('YYYY-MM-DD'); against a 'YYYY-MM-DD HH:MM:SS' spec the
        # bare form compares LOW ('2024-01-09' < '2024-01-09
        # 00:00:00'), wrongly pruning a file whose max equals the
        # range's lo date — normalize to midnight, the instant a
        # date denotes (ADVICE r14)
        if len(glo) == 10:
            glo += " 00:00:00"
        if len(ghi) == 10:
            ghi += " 00:00:00"
        if ghi >= lo_iso and glo < hi_iso:
            kept.append(g)
        else:
            skipped.append(g)
    return kept, skipped


@register(
    "table_log_ts_pruned_read",
    # Hash oracle: the time-range query's result straight from the
    # source — pruning must be invisible to the answer.
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micros
        FROM events
        WHERE ts >= TIMESTAMP '{_TLOG_EV_TSP_LO}'
          AND ts <  TIMESTAMP '{_TLOG_EV_TSP_HI}'
        GROUP BY 1
    """,
    tags=("S9-tsp", "lakehouse", "pruning", "time-range", "optimize"),
)
def table_log_ts_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-tsp — TIMESTAMP-RANGE PRUNED READ over the stream-ingested
    events table, completing the ingest→OPTIMIZE→pruned-query
    pipeline: the arrival-ordered ingest batches (hash-split — the
    worst case for time queries) are re-clustered into 8-day groups
    by a ``dataChange: false`` rewrite (live content identical, so
    every change-feed consumer skips the commit — Delta's OPTIMIZE
    flag, pytest-pinned on the rollup consumer), whose manifest
    stats then give each group a TIGHT ts bound as ISO strings
    (lexicographic = temporal). An 8-day range query prunes to ONE
    group driver-side before any footer is read; at least one group
    provably skipped, and the skipped groups' files are never opened
    (poison-pinned). The answer is hash-checked against the source —
    pruning must be invisible to results.

    Scale: time-range pruning is THE dominant access pattern on
    event tables ("yesterday's events" on a year of history must
    read 1/365th of the bytes); it requires the layout to correlate
    time with files — which ingest order usually provides and this
    op's deliberately hash-split source denies — making the
    clustering rewrite the step that turns retention-shaped storage
    into query-shaped storage."""
    root = _tlog_ev_root(sf_dir)
    _tlog_apply_ev_ingest(spark, sf_dir, root)
    _tlog_apply_ev_cluster(spark, sf_dir, root)
    latest = _tlog_latest_version(root)
    kept, skipped = _tlog_ts_prune(
        root, latest, _TLOG_EV_TSP_LO, _TLOG_EV_TSP_HI
    )
    if not skipped:
        raise RuntimeError(
            "ts-range pruning skipped nothing on the clustered table — "
            "stats bounds are broken or the clustering did not run"
        )
    if not kept:
        # a range matching no file: the correct answer is empty, and
        # no scan at all is the correct plan
        return spark.createDataFrame(
            [], "event_type string, n_rows long, sum_micros long"
        )
    return (
        _tlog_relation(spark, [os.path.join(root, g) for g in kept])
        .filter(
            (F.col("ts") >= F.lit(_TLOG_EV_TSP_LO).cast("timestamp"))
            & (F.col("ts") < F.lit(_TLOG_EV_TSP_HI).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "sum_micros"
            ),
        )
        .select("event_type", "n_rows", "sum_micros")
    )


# --- CHECK constraints as table metadata (S9-chk) --------------------------

_TLOG_CHK_PRED = "o_totalprice > 0"   # the registered constraint
_TLOG_CHK_ADD_PRED = "o_orderkey % 10 = 1"  # the post-constraint append


def _tlog_chk_root(sf_dir: str) -> str:
    # own root: the constraint lifecycle commits on its table
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogchk_{corpus_tag(sf_dir)}"
    )


def _tlog_add_constraint(
    spark: SparkSession, root: str, name: str, pred: str
) -> int:
    """ADD CONSTRAINT: validate the EXISTING data first (Delta's rule
    — a constraint the table already violates must be rejected, or
    readers could never trust it), then commit the name -> predicate
    mapping as replayed log metadata. Validation is one agg over the
    live files, applying live DVs; the commit is metadata-sized."""

    base = _tlog_latest_version(root)
    rel = _tlog_rows(spark, root, base)
    bad = rel.filter(~F.coalesce(F.expr(pred), F.lit(True))).count()
    if bad:
        raise RuntimeError(
            f"cannot ADD CONSTRAINT {name}: {bad} existing rows violate "
            f"({pred}) — fix the data or the predicate first"
        )
    existing = _tlog_live_constraints(root, base)
    if existing.get(name) == pred:
        return base  # idempotent re-add
    return _tlog_commit_rebase(
        root, add=[], remove=[], base_version=base, read_set=set(),
        constraints={name: pred},
    )


_TLOG_CHK_SPEC = {
    "impl": 1,
    "constraint": _TLOG_CHK_PRED,
    "add": _TLOG_CHK_ADD_PRED,
}


def _tlog_apply_chk(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the constraint lifecycle once per dir (flock + stamp):
    v3 ADDs the CHECK (existing data validated); an unsatisfiable
    constraint and a violating append are both REJECTED (asserted);
    v4 is a clean append through the enforcing write path."""
    import json

    stamp = json.dumps(_TLOG_CHK_SPEC, sort_keys=True)

    def build() -> None:
        if _tlog_latest_version_safe(root) != 2:
            wipe_root(root)
            _tlog_build(spark, sf_dir, root)
        if _tlog_latest_version(root) == 2:
            # a constraint the data already violates must be rejected
            try:
                _tlog_add_constraint(spark, root, "tiny_keys", "o_orderkey < 100")
            except RuntimeError as e:
                if "existing rows violate" not in str(e):
                    raise
            else:
                raise RuntimeError("unsatisfiable constraint was accepted")
            _tlog_add_constraint(spark, root, "price_positive", _TLOG_CHK_PRED)
        if _tlog_latest_version(root) == 3:
            live_cons = _tlog_live_constraints(root, 3)
            slice_df = (
                load_table(spark, sf_dir, "orders")
                .filter(F.expr(_TLOG_CHK_ADD_PRED))
                .select("o_orderkey", "o_totalprice")
            )
            # a violating append must FAIL IN THE WRITE JOB, before
            # any group promotes or commits
            try:
                _tlog_staged_write_with_stats(
                    slice_df.withColumn("o_totalprice", -F.col("o_totalprice"))
                    .withColumn("tgt", F.lit("file_chk_bad")),
                    root,
                    ["file_chk_bad"],
                    constraints=live_cons,
                )
            except Exception as e:  # noqa: BLE001 — Spark wraps the error
                if "price_positive" not in str(e):
                    raise
            else:
                raise RuntimeError("constraint-violating append was written")
            if _tlog_latest_version(root) != 3:
                raise RuntimeError("rejected append mutated the log")
            _tlog_land(spark, root, slice_df, None, "file_chk_add")

    built_once(root, "_CHK", stamp, build)


@register(
    "table_log_check_constraint",
    # Hash oracle: head = source + the clean append; nothing from the
    # rejected candidates (whose negated prices would shift the sum).
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders WHERE {_TLOG_CHK_ADD_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM t GROUP BY 1
    """,
    tags=("S9-chk", "lakehouse", "constraints", "dql"),
)
def table_log_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-chk — CHECK CONSTRAINTS AS TABLE METADATA: a name -> SQL
    predicate map carried in commits and replayed like every other
    piece of log state (checkpoint-folded), so every future writer
    sees the live constraint set and enforces it IN ITS OWN WRITE JOB
    (``_tlog_constrained`` rides the staged-write choke point — a
    violating row fails the job before any group promotes; zero extra
    passes). ADD CONSTRAINT validates existing data first and rejects
    an already-violated predicate (Delta's rule). The lifecycle
    exercises every gate on the registry table: an unsatisfiable
    constraint rejected at ADD, a violating append rejected mid-job
    with the log untouched, a clean append landing — and the WAP
    operator's audit remains the STAGING-side twin of the same idea
    (gate at the branch) where this gates at the write.

    Scale: enforcement costs nothing extra — the predicate evaluates
    in the same codegen stage as the write; validation-at-ADD is one
    bounded agg. Constraints-as-log-state is what makes the guarantee
    durable: a new engine session, or another writer entirely,
    replays the same constraint set instead of trusting application
    code to remember it."""
    root = _tlog_build(spark, sf_dir, _tlog_chk_root(sf_dir))
    _tlog_apply_chk(spark, sf_dir, root)
    return _tlog_fingerprint(spark, root)


# --- Row lineage: stable row ids through key-changing rewrites (S9-rid) ----

_TLOG_RID_REKEY_PRED = "o_orderkey % 20 = 0"  # the key-changing update
_TLOG_RID_REKEY_SHIFT = 10_000_000
_TLOG_RID_REKEY_BUMP = 1.0


def _tlog_rid_root(sf_dir: str) -> str:
    # own root: the lineage lifecycle commits on its table
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogrid_{corpus_tag(sf_dir)}"
    )


_TLOG_RID_SPEC = {
    "impl": 2,  # 2: the rewrite commit records its manifest stats
    "rekey": [_TLOG_RID_REKEY_PRED, _TLOG_RID_REKEY_SHIFT, _TLOG_RID_REKEY_BUMP],
}


def _tlog_apply_rid(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Build the ROW-TRACKED table once per dir (flock + stamp): the
    base history mirrors the shared table's three commits, but every
    row carries ``_rid`` — a stable row id MINTED AT INSERT (here a
    deterministic hash of the insert-time key, per the repo's
    determinism discipline; production formats mint from (commit,
    file, position)) — and v3 is a KEY-CHANGING copy-on-write UPDATE
    of file_A (re-key + price bump) that CARRIES ``_rid`` through the
    rewrite. Carrying the id is the entire feature: it is what lets
    downstream consumers recognize the re-keyed row as the same row."""
    import json

    stamp = json.dumps(_TLOG_RID_SPEC, sort_keys=True)

    def build() -> None:
        wipe_root(root)
        os.makedirs(os.path.join(root, "_log"))
        rows = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.xxhash64(F.col("o_orderkey")).alias("_rid"),  # insert-time mint
        )
        for name, residues in _TLOG_SLICES.items():
            rows.filter((F.col("o_orderkey") % 4).isin(*residues)).write.parquet(
                os.path.join(root, f"file_{name}")
            )
            open(os.path.join(root, f"file_{name}", "_SUCCESS"), "a").close()
        for v, c in enumerate(_TLOG_COMMITS):
            _tlog_commit(
                root, add=c["add"], remove=c["remove"], base_version=v - 1
            )
        # v3: the key-changing UPDATE — CoW rewrite of file_A carrying
        # _rid; matched rows get a NEW business key and a price bump
        matched = F.expr(_TLOG_RID_REKEY_PRED)
        rewritten = (
            _tlog_relation(spark, [os.path.join(root, "file_A")])
            .select(
                F.when(
                    matched, F.col("o_orderkey") + _TLOG_RID_REKEY_SHIFT
                )
                .otherwise(F.col("o_orderkey"))
                .alias("o_orderkey"),
                F.when(
                    matched, F.col("o_totalprice") + _TLOG_RID_REKEY_BUMP
                )
                .otherwise(F.col("o_totalprice"))
                .alias("o_totalprice"),
                "_rid",
            )
            .withColumn("tgt", F.lit("file_A_rekeyed"))
        )
        promoted, stats = _tlog_staged_write_with_stats(
            rewritten, root, ["file_A_rekeyed"]
        )
        _tlog_commit_rebase(
            root, add=promoted, remove=["file_A"], base_version=2,
            read_set={"file_A"}, stats=stats or None,
        )

    built_once(root, "_RID", stamp, build)


def _tlog_cdc_images_by(
    spark: SparkSession, root: str, pair_key: str
) -> DataFrame:
    """CDC image derivation pairing on an arbitrary column — the
    row-lineage twin of ``_tlog_cdc_images``: pairing on ``_rid``
    recognizes a KEY-CHANGING update as one row's update pair (with
    the business key itself part of the change payload), where
    key-based pairing degrades to a spurious delete + insert. A row
    changes when its (key, cents) tuple differs between sides; both
    the key sums and the cents sums travel in the output so the
    oracle can verify the re-key itself. Same unique-per-side guard,
    same one-shuffle plan (keyed by (version, pair_key))."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    paired = (
        _tlog_change_rows_for(
            spark, root, _tlog_feed_units(root), pair_key,
            [pair_key, "o_orderkey", "o_totalprice"],
        )
        .select(
            "version", pair_key, "side",
            F.col("o_orderkey").alias("k"), cents.alias("cents"),
        )
        .groupBy("version", pair_key)
        .agg(
            F.sum(F.when(F.col("side") == "add", 1).otherwise(0)).alias("n_add"),
            F.sum(F.when(F.col("side") == "remove", 1).otherwise(0)).alias("n_rm"),
            F.max(F.when(F.col("side") == "add", F.col("cents"))).alias("add_cents"),
            F.max(F.when(F.col("side") == "remove", F.col("cents"))).alias("rm_cents"),
            F.max(F.when(F.col("side") == "add", F.col("k"))).alias("add_k"),
            F.max(F.when(F.col("side") == "remove", F.col("k"))).alias("rm_k"),
        )
    )

    def _one(kind: str, c, k) -> F.Column:
        return F.array(
            F.struct(
                F.lit(kind).alias("change_type"),
                c.alias("cents"),
                k.alias("k"),
            )
        )

    empty = "array<struct<change_type:string,cents:bigint,k:bigint>>"
    images = (
        F.when(
            (F.col("n_add") > 1) | (F.col("n_rm") > 1),
            F.raise_error(
                f"CDC image derivation requires a unique {pair_key} per "
                "commit side"
            ).cast(empty),
        )
        .when(
            (F.col("n_add") > 0) & (F.col("n_rm") == 0),
            _one("insert", F.col("add_cents"), F.col("add_k")),
        )
        .when(
            (F.col("n_rm") > 0) & (F.col("n_add") == 0),
            _one("delete", F.col("rm_cents"), F.col("rm_k")),
        )
        .when(
            (F.col("add_cents") != F.col("rm_cents"))
            | (F.col("add_k") != F.col("rm_k")),
            F.concat(
                _one("update_preimage", F.col("rm_cents"), F.col("rm_k")),
                _one("update_postimage", F.col("add_cents"), F.col("add_k")),
            ),
        )
        .otherwise(F.array().cast(empty))
    )
    return (
        paired.select("version", F.explode(images).alias("img"))
        .select("version", "img.change_type", "img.cents", "img.k")
        .groupBy("version", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.sum("k").alias("sum_keys"),
        )
        .select("version", "change_type", "n_rows", "sum_cents", "sum_keys")
    )


@register(
    "table_log_cdc_images_lineage",
    # Hash oracle: rid-paired images of the row-tracked lifecycle —
    # v1/v2 net inserts; v3's key-changing update emits ONE pre/post
    # pair per matched row, the pre side under the OLD keys and the
    # post side under the NEW keys (sum_keys proves the re-key
    # itself); unmatched carried rows cancel.
    oracle=f"""
        WITH img AS (
          SELECT 1 AS version, 'insert' AS change_type,
                 o_orderkey AS k, o_totalprice AS price
          FROM orders WHERE o_orderkey % 4 = 2
          UNION ALL
          SELECT 2, 'insert', o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 = 3
          UNION ALL
          SELECT 3, 'update_preimage', o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_RID_REKEY_PRED}
          UNION ALL
          SELECT 3, 'update_postimage',
                 o_orderkey + {_TLOG_RID_REKEY_SHIFT},
                 o_totalprice + {_TLOG_RID_REKEY_BUMP}
          FROM orders WHERE {_TLOG_RID_REKEY_PRED}
        )
        SELECT version, change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(SUM(k) AS BIGINT) AS sum_keys
        FROM img GROUP BY 1, 2
    """,
    tags=("S9-rid", "lakehouse", "row-lineage", "cdc", "images"),
)
def table_log_cdc_images_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-rid — ROW LINEAGE (r15 queue (e) pulled forward): stable row
    ids minted at insert and CARRIED through copy-on-write rewrites,
    Delta row tracking / Iceberg row lineage reduced to one column
    plus a writer rule. The payoff is CDC under KEY CHANGES: v3
    re-keys a slice of rows (business key += shift, price bump) in a
    CoW rewrite that preserves ``_rid``; pairing the change feed on
    ``_rid`` recognizes each re-keyed row as ONE update (pre-image
    under the old key, post-image under the new — the key sums are
    hash-checked), where business-key pairing degrades to a spurious
    delete + insert (pytest-pinned side by side). Unchanged carried
    rows cancel exactly as in the key-paired op.

    Scale: the id column costs 8 bytes/row and nothing at query time;
    the writer rule (rewrites SELECT the column through, never
    re-mint) is enforced by construction in every rewrite path built
    on the staged-write kernel. Deterministic mint note: this repo
    hashes the insert-time key (its determinism discipline bans
    nondeterministic ids); production formats mint from (commit,
    file, position) at commit time — consumers are agnostic either
    way, which is the point of the column."""
    root = _tlog_rid_root(sf_dir)
    _tlog_apply_rid(spark, sf_dir, root)
    return _tlog_cdc_images_by(spark, root, "_rid")


# --- Partition-spec evolution (S9-pev) -------------------------------------

_TLOG_PEV_Q_LO = "2024-01-05 00:00:00"  # the cross-layout range query:
_TLOG_PEV_Q_HI = "2024-01-21 00:00:00"  # day files 05-16 + week 17-24


def _tlog_pev_root(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogpev_{corpus_tag(sf_dir)}"
    )


_TLOG_PEV_SPEC = {"impl": 1, "q": [_TLOG_PEV_Q_LO, _TLOG_PEV_Q_HI]}


def _tlog_pev_write_under_spec(
    spark: SparkSession, root: str, df: DataFrame, base: int
) -> int:
    """Append a batch of event rows under the table's LIVE partition
    spec — the writer consults ``_tlog_live_partitioning`` and groups
    rows by the rule it names (day(ts) or week(ts)); per-column stats
    record in the same write either way, which is what keeps readers
    layout-agnostic."""

    spec = _tlog_live_partitioning(root, base) or {"spec_id": 0, "rule": "day(ts)"}
    if spec["rule"] == "day(ts)":
        tgt = F.concat(
            F.lit("file_d"),
            F.lpad(F.dayofmonth("ts").cast("string"), 2, "0"),
            F.lit(f"_v{base + 1}"),
        )
    elif spec["rule"] == "week(ts)":
        tgt = F.concat(
            F.lit("file_w"),
            F.floor((F.dayofmonth("ts") - 1) / 8).cast("string"),
            F.lit(f"_v{base + 1}"),
        )
    else:
        raise RuntimeError(f"unknown partition rule {spec['rule']!r}")
    staged = df.withColumn("tgt", tgt)
    expected = sorted(
        r["tgt"] for r in staged.select("tgt").distinct().collect()
    )
    promoted, stats = _tlog_staged_write_with_stats(staged, root, expected)
    return _tlog_commit_rebase(
        root, add=promoted, remove=[], base_version=base, read_set=set(),
        stats=stats,
    )


def _tlog_apply_pev(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the partition-evolution lifecycle once per dir (flock +
    stamp): v0 declares spec 0 = day(ts) and lands days 1-8 as day
    files; v1 appends days 9-16 under the same spec; v2 EVOLVES the
    spec to week(ts) — metadata only, not one data byte moves; v3
    appends days 17+ as week files. The table ends with BOTH layouts
    live at once."""
    import json

    stamp = json.dumps(_TLOG_PEV_SPEC, sort_keys=True)

    def build() -> None:
        wipe_root(root)
        os.makedirs(os.path.join(root, "_log"))
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        day = F.dayofmonth("ts")
        # v0: declare spec 0 and land days 1-8 (one commit: spec +
        # first data — a table is born partitioned)
        staged = events.filter(day <= 8).withColumn(
            "tgt",
            F.concat(
                F.lit("file_d"), F.lpad(day.cast("string"), 2, "0"), F.lit("_v0")
            ),
        )
        expected = sorted(
            r["tgt"] for r in staged.select("tgt").distinct().collect()
        )
        promoted, stats = _tlog_staged_write_with_stats(staged, root, expected)
        _tlog_commit(
            root, add=promoted, remove=[], base_version=-1, stats=stats,
            partitioning={"spec_id": 0, "rule": "day(ts)"},
        )
        # v1: append days 9-16 under the LIVE spec (still daily)
        _tlog_pev_write_under_spec(
            spark, root, events.filter((day >= 9) & (day <= 16)), 0
        )
        # v2: EVOLVE the spec — pure metadata, zero data movement
        _tlog_commit(
            root, add=[], remove=[], base_version=1,
            partitioning={"spec_id": 1, "rule": "week(ts)"},
        )
        if _tlog_live_partitioning(root, 2)["spec_id"] != 1:
            raise RuntimeError("spec change did not replay")
        # v3: append the rest under the NEW spec (week files)
        _tlog_pev_write_under_spec(spark, root, events.filter(day >= 17), 2)

    built_once(root, "_PEV", stamp, build)


@register(
    "table_log_partition_evolution",
    # Hash oracle: the cross-layout range query's answer straight
    # from the source — the spec change and the mixed layout must be
    # invisible to results.
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micros
        FROM events
        WHERE ts >= TIMESTAMP '{_TLOG_PEV_Q_LO}'
          AND ts <  TIMESTAMP '{_TLOG_PEV_Q_HI}'
        GROUP BY 1
    """,
    tags=("S9-pev", "lakehouse", "partition-evolution", "pruning"),
)
def table_log_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-pev — PARTITION-SPEC EVOLUTION (r15 queue (b) pulled
    forward): the layout rule is REPLAYED LOG METADATA
    ({{spec_id, rule}} in commits, checkpoint-folded) that writers
    consult at append time — the lifecycle lands 16 daily files under
    spec 0, evolves to week(ts) in a METADATA-ONLY commit (not one
    data byte moves, mtime-pinned), then lands week files under spec
    1, leaving BOTH layouts live in one table. A 16-day range query
    then prunes across both at once through per-file ts stats —
    day files 05-16 plus one week group open; days 1-4 and the last
    week skip — and the answer hash-matches the source.

    Scale: this design makes partition evolution FREE at read time —
    because pruning is per-file-STATS-based, not partition-VALUE-
    based, readers never branch on which spec wrote a file (Iceberg
    must version specs per file and plan per-spec residual
    expressions for exactly this reason; Delta cannot repartition
    without rewriting). Evolution cost = one metadata commit; the
    old layout compacts into the new one opportunistically
    (``table_log_compact_trigger``), not as a migration."""
    root = _tlog_pev_root(sf_dir)
    _tlog_apply_pev(spark, sf_dir, root)
    latest = _tlog_latest_version(root)
    kept, skipped = _tlog_ts_prune(root, latest, _TLOG_PEV_Q_LO, _TLOG_PEV_Q_HI)
    if not skipped:
        raise RuntimeError(
            "cross-layout pruning skipped nothing — stats bounds broken"
        )
    return (
        _tlog_relation(spark, [os.path.join(root, g) for g in kept])
        .filter(
            (F.col("ts") >= F.lit(_TLOG_PEV_Q_LO).cast("timestamp"))
            & (F.col("ts") < F.lit(_TLOG_PEV_Q_HI).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "sum_micros"
            ),
        )
        .select("event_type", "n_rows", "sum_micros")
    )


# --- Partition evolution x column mapping (S9-pev-cmap, r16) ---------------

_TLOG_PCM_LO = "2024-01-05T00:00:00"
_TLOG_PCM_HI = "2024-01-21T00:00:00"


def _tlog_pcm_root(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogpcm_{corpus_tag(sf_dir)}"
    )


_TLOG_PCM_SPEC = {"impl": 1, "q": [_TLOG_PCM_LO, _TLOG_PCM_HI]}


def _tlog_apply_pcm(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the two-axis metadata lifecycle once per dir (flock +
    stamp): the events table BORN MAPPED under spec 0 = day(ts);
    v0 lands days 1-8 as day files (original spellings bound);
    v1 appends days 9-16; v2 RENAMES ts -> event_ts (mapping axis,
    pure metadata); v3 EVOLVES the spec to week(ts) (layout axis,
    pure metadata); v4 lands days 17+ as WEEK files written
    physically under the NEW spelling — the table ends with both
    layouts AND both spellings live at once, the state a long-lived
    production table actually reaches."""
    import json

    stamp = json.dumps(_TLOG_PCM_SPEC, sort_keys=True)

    def build() -> None:
        wipe_root(root)
        os.makedirs(os.path.join(root, "_log"))
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        day = F.dayofmonth("ts")
        old_binding = {
            "1": "event_id", "2": "ts", "3": "event_type", "4": "value",
        }
        fields_v0 = [
            {"id": 1, "name": "event_id"},
            {"id": 2, "name": "ts"},
            {"id": 3, "name": "event_type"},
            {"id": 4, "name": "value"},
        ]

        def day_files(df: DataFrame, v: int) -> tuple[list[str], dict]:
            staged = df.withColumn(
                "tgt",
                F.concat(
                    F.lit("file_d"),
                    F.lpad(day.cast("string"), 2, "0"),
                    F.lit(f"_v{v}"),
                ),
            )
            expected = sorted(
                r["tgt"] for r in staged.select("tgt").distinct().collect()
            )
            return _tlog_staged_write_with_stats(staged, root, expected)

        # v0: born mapped + spec 0 + days 1-8
        promoted, stats = day_files(events.filter(day <= 8), 0)
        _tlog_commit(
            root, add=promoted, remove=[], base_version=-1, stats=stats,
            partitioning={"spec_id": 0, "rule": "day(ts)"},
            column_mapping={"fields": fields_v0},
            colphys={g: old_binding for g in promoted},
        )
        # v1: days 9-16 under the same spec and spelling
        promoted, stats = day_files(
            events.filter((day >= 9) & (day <= 16)), 1
        )
        _tlog_commit(
            root, add=promoted, remove=[], base_version=0, stats=stats,
            colphys={g: old_binding for g in promoted},
        )
        # v2: RENAME ts -> event_ts (mapping axis)
        _tlog_commit(
            root, add=[], remove=[], base_version=1,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "event_id"},
                    {"id": 2, "name": "event_ts"},
                    {"id": 3, "name": "event_type"},
                    {"id": 4, "name": "value"},
                ]
            },
        )
        # v3: EVOLVE the spec to week(ts) (layout axis)
        _tlog_commit(
            root, add=[], remove=[], base_version=2,
            partitioning={"spec_id": 1, "rule": "week(ts)"},
        )
        if _tlog_live_partitioning(root, 3)["spec_id"] != 1:
            raise RuntimeError("spec change did not replay")
        if _tlog_live_colmap(root, 3)["fields"][1]["name"] != "event_ts":
            raise RuntimeError("rename did not replay")
        # v4: days 17+ as WEEK files, physically under the NEW name
        staged = (
            events.filter(day >= 17)
            .withColumn(
                "tgt",
                F.concat(
                    F.lit("file_w"),
                    F.floor((day - 1) / 8).cast("string"),
                    F.lit("_v4"),
                ),
            )
            .select(
                "tgt", "event_id",
                F.col("ts").alias("event_ts"),
                "event_type", "value",
            )
        )
        expected = sorted(
            r["tgt"] for r in staged.select("tgt").distinct().collect()
        )
        promoted, stats = _tlog_staged_write_with_stats(staged, root, expected)
        new_binding = {
            "1": "event_id", "2": "event_ts", "3": "event_type", "4": "value",
        }
        _tlog_commit(
            root, add=promoted, remove=[], base_version=3, stats=stats,
            colphys={g: new_binding for g in promoted},
        )

    built_once(root, "_PCM", stamp, build)


@register(
    "table_log_colmap_partition_evolution",
    # Hash oracle: the cross-layout, cross-spelling range query's
    # answer straight from the source, with the live logical ts name
    # observed into the result — both metadata axes must be invisible
    # to values and visible only in names.
    oracle=f"""
        SELECT 'event_ts' AS ts_col,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micros
        FROM events
        WHERE ts >= TIMESTAMP '{_TLOG_PCM_LO.replace("T", " ")}'
          AND ts <  TIMESTAMP '{_TLOG_PCM_HI.replace("T", " ")}'
        GROUP BY 1, 2
    """,
    tags=("S9-pev-cmap", "lakehouse", "partition-evolution", "column-mapping"),
)
def table_log_colmap_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-pev-cmap — BOTH METADATA AXES ON ONE TABLE (r16, r17-queue
    (b) pulled forward): partition evolution (day(ts) -> week(ts))
    AND a rename of the partition column itself (ts -> event_ts) land
    on the same events table, so the head holds day files spelled
    ``ts`` and week files spelled ``event_ts`` at once. A range query
    on the LOGICAL ``event_ts`` then prunes across both axes in one
    mechanism: ``_tlog_colmap_prune`` translates the logical column
    to each file's own physical spelling and compares its ISO stats
    bounds — pre-rename day files prune on ``ts`` stats, post-rename
    week files on ``event_ts`` stats, with no reader branching on
    spec OR spelling (both pytest-pinned to actually skip). The kept
    cohorts re-spell through the mapping and the answer — with the
    live logical name observed into the result — hash-matches the
    source.

    Scale: this is the composition argument for stats-based pruning —
    layout rules and name indirection both collapse into per-file
    metadata, so their product costs nothing extra at read time;
    formats that branch on spec (partition-value pruning) or rewrite
    on rename pay each axis separately and their product combinatorially."""
    root = _tlog_pcm_root(sf_dir)
    _tlog_apply_pcm(spark, sf_dir, root)
    latest = _tlog_latest_version(root)
    kept, skipped = _tlog_colmap_prune(
        root, latest, "event_ts", _TLOG_PCM_LO, _TLOG_PCM_HI
    )
    if not any(g.startswith("file_d") for g in skipped) or not any(
        g.startswith("file_w") for g in skipped
    ):
        raise RuntimeError(
            f"two-axis pruning must skip in BOTH layouts; skipped={skipped}"
        )
    out = _tlog_rows(spark, root, latest, [os.path.join(root, g) for g in kept])
    return (
        out.filter(
            (F.col("event_ts") >= F.lit(_TLOG_PCM_LO.replace("T", " ")).cast("timestamp"))
            & (F.col("event_ts") < F.lit(_TLOG_PCM_HI.replace("T", " ")).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "sum_micros"
            ),
        )
        .select(
            F.lit("event_ts").alias("ts_col"),
            "event_type", "n_rows", "sum_micros",
        )
    )


# --- Multi-table transactions: all-or-nothing publish (S9-txn) -------------

_TLOG_TXN_A_PRED = "o_orderkey % 10 = 9"  # txn 1's table-A append
_TLOG_TXN_B_PRED = "o_orderkey % 10 = 4"  # txn 1's table-B append
_TLOG_TXN2_A_PRED = "o_orderkey % 10 = 6"  # txn 2's VALID A-side (must abort anyway)


def _tlog_txn_roots(sf_dir: str) -> tuple[str, str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogtxa_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogtxb_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogtxc_{tag}"),
    )


def _tlog_txn_prepare(coord_root: str, txn_id: str, legs: list[tuple[str, dict]]) -> str:
    """PREPARE: durably record the transaction's legs — (table root,
    staged branch payload) pairs — in ONE atomically-written
    coordinator file. From this point the transaction survives a
    coordinator crash: recovery replays the file and drives every leg
    to the same outcome (publish is idempotent per table)."""
    import json

    os.makedirs(coord_root, exist_ok=True)
    path = os.path.join(coord_root, f"{txn_id}.json")
    write_atomic(path, json.dumps([{"root": r, "payload": p} for r, p in legs]))
    return path


def _tlog_txn_commit(spark: SparkSession, coord_path: str) -> dict[str, int]:
    """COMMIT: audit EVERY leg first — one failed audit aborts the
    WHOLE transaction (all staged branches dropped, no table touched)
    — then publish leg by leg and retire the coordinator file. A
    crash mid-publish leaves the coordinator on disk; re-running
    this commit (recovery) is safe because each leg's publish is
    idempotent (live-set short-circuit + same-commit adoption), so
    every replay converges on all-legs-published.

    PRESUMED COMMIT (VERDICT r14 #1): the moment ANY leg is published,
    the transaction is committed — a recovery replay drives the
    remaining legs FORWARD (publishing under the transaction's own
    audit snapshot, ``audited=True``), never into the abort branch.
    Without this, table state that changed between crash and recovery
    (a CHECK constraint added to table B after table A's leg landed)
    could flip a re-audit and leave A-committed/B-aborted — the mixed
    outcome the coordinator exists to prevent. The abort branch is
    reachable only with ZERO published legs, and each leg's abort is
    individually shielded (ADVICE r14): a leg whose branch ref is
    already gone (a prior crashed abort got that far) is skipped, so
    one refusal can't strand the coordinator file in a re-drive
    livelock.

    Isolation caveat, stated honestly: this is atomicity of OUTCOME
    (all legs eventually commit, or none ever does), not of
    VISIBILITY — a reader can observe table A's new snapshot before
    table B's lands, because each table's log is its own consensus
    point. True cross-table snapshot isolation needs a shared log or
    a catalog-level pointer swap; consumers needing a consistent view
    read "every table as of instant T" (``table_log_multi_asof``)
    at a T before the transaction."""
    import json

    legs = [
        (leg["root"], leg["payload"]) for leg in json.load(open(coord_path))
    ]
    published, pending = [], []
    for root, payload in legs:
        live = set()
        try:
            live = {
                os.path.basename(p)
                for p in _tlog_live_files(root, _tlog_latest_version(root))
            }
        except (RuntimeError, OSError):
            pass
        (published if set(payload["add"]) <= live else pending).append(
            (root, payload)
        )
    failures: list[str] = []
    gone: list[str] = []
    for root, payload in pending:
        bpath = _tlog_branch_path(root, payload["branch"], payload["base"] + 1)
        if not os.path.exists(bpath) and not any(
            os.path.isdir(os.path.join(root, g)) for g in payload["add"]
        ):
            # a prior crashed ABORT already retired this leg (ref and
            # staged groups both gone) — auditing would crash on the
            # missing files; record it as a failure so the re-drive
            # finishes the abort instead of livelocking (ADVICE r14)
            gone.append(root)
            failures.append(
                f"{os.path.basename(root)}: leg already aborted "
                "(no branch ref, no staged data)"
            )
            continue
        failures += [
            f"{os.path.basename(root)}: {f}"
            for f in _tlog_wap_audit(spark, root, payload)
        ]
    if gone and published:
        # contradictory on-disk state (a pre-presumed-commit crash
        # aborted one leg after another published): publishing the
        # gone leg would commit references to missing bytes — refuse
        # loudly rather than corrupt the table; the coordinator file
        # stays for manual adjudication
        raise RuntimeError(
            "multi-table transaction is torn beyond recovery: legs "
            f"{sorted(os.path.basename(r) for r, _ in published)} "
            f"published but {sorted(os.path.basename(r) for r in gone)} "
            "already aborted — restore the published tables or re-stage "
            "the aborted legs, then retire the coordinator file by hand"
        )
    if failures and not published:
        # abort: no leg has published, so no table was touched. Shield
        # each leg — a missing branch ref means a prior crashed abort
        # already retired it (skip); any other refusal is recorded but
        # must not strand the coordinator (livelock otherwise).
        abort_notes = []
        for root, payload in legs:
            try:
                _tlog_wap_abort(root, payload)
            except RuntimeError as e:
                abort_notes.append(f"{os.path.basename(root)}: {e}")
        os.unlink(coord_path)
        raise RuntimeError(
            "multi-table transaction aborted — audit failures: "
            + "; ".join(failures)
            + ("; abort notes: " + "; ".join(abort_notes) if abort_notes else "")
        )
    # committed: either every pending leg audited clean (first run), or
    # a leg already published (recovery — the txn's audit point
    # governs; re-audit outcomes are advisory, publish proceeds)
    out = {}
    for root, payload in published:
        out[root] = _tlog_wap_publish(spark, root, payload)  # ref retire
    for root, payload in pending:
        out[root] = _tlog_wap_publish(spark, root, payload, audited=True)
    os.unlink(coord_path)
    return out


def _tlog_txn_recover(spark: SparkSession, coord_root: str) -> int:
    """Recovery sweep: re-drive every coordinator file left by a
    crashed commit. Returns the number of transactions completed."""
    import glob

    n = 0
    for path in sorted(glob.glob(os.path.join(coord_root, "*.json"))):
        _tlog_txn_commit(spark, path)
        n += 1
    return n


_TLOG_TXN_SPEC = {
    "impl": 1,
    "t1": [_TLOG_TXN_A_PRED, _TLOG_TXN_B_PRED],
    "t2": _TLOG_TXN2_A_PRED,
}


def _tlog_apply_txn(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the transaction lifecycle once (flock + stamp on the
    coordinator root): txn 1 stages appends on BOTH tables and
    commits all-or-nothing (both land); txn 2 stages a VALID append
    on A and a constraint-violating one on B — the whole transaction
    aborts and NEITHER table changes (A's staged branch is dropped
    despite auditing clean)."""
    import json
    import shutil

    root_a, root_b, coord = _tlog_txn_roots(sf_dir)
    stamp = json.dumps(_TLOG_TXN_SPEC, sort_keys=True)

    def build() -> None:
        wipe_root(coord)
        for r in (root_a, root_b):
            if os.path.isdir(r) and _tlog_latest_version_safe(r) != 2:
                shutil.rmtree(r)
        _tlog_build(spark, sf_dir, root_a)
        _tlog_build(spark, sf_dir, root_b)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        # txn 1: appends to BOTH tables, one outcome
        legs = [
            (
                root_a,
                _tlog_wap_stage(
                    orders.filter(F.expr(_TLOG_TXN_A_PRED)), root_a,
                    "file_txn1_a",
                ),
            ),
            (
                root_b,
                _tlog_wap_stage(
                    orders.filter(F.expr(_TLOG_TXN_B_PRED)), root_b,
                    "file_txn1_b",
                ),
            ),
        ]
        path = _tlog_txn_prepare(coord, "txn1", legs)
        _tlog_txn_commit(spark, path)
        # txn 2: B's leg violates the CHECK — the WHOLE txn aborts
        legs2 = [
            (
                root_a,
                _tlog_wap_stage(
                    orders.filter(F.expr(_TLOG_TXN2_A_PRED)), root_a,
                    "file_txn2_a",
                ),
            ),
            (
                root_b,
                _tlog_wap_stage(
                    orders.filter(F.expr(_TLOG_TXN_B_PRED)).withColumn(
                        "o_totalprice", -F.col("o_totalprice")
                    ),
                    root_b,
                    "file_txn2_b",
                ),
            ),
        ]
        path2 = _tlog_txn_prepare(coord, "txn2", legs2)
        try:
            _tlog_txn_commit(spark, path2)
        except RuntimeError as e:
            if "transaction aborted" not in str(e):
                raise
        else:
            raise RuntimeError("a violating transaction committed")
        for r, group in ((root_a, "file_txn2_a"), (root_b, "file_txn2_b")):
            if os.path.exists(os.path.join(r, group)):
                raise RuntimeError(f"aborted leg left data: {r}/{group}")

    built_once(coord, "_TXN", stamp, build)
    return root_a, root_b


@register(
    "table_log_multi_table_txn",
    # Hash oracle: both tables' heads after the lifecycle — table A =
    # source + txn 1's A-slice, table B = source + txn 1's B-slice,
    # and NOTHING from the aborted txn 2 on either table (its A-slice
    # or negated B-prices would shift the sums).
    oracle=f"""
        WITH two_tables AS (
          SELECT 'a' AS tbl, o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'a', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_TXN_A_PRED}
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_TXN_B_PRED}
        )
        SELECT tbl,
               CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM two_tables GROUP BY 1, 2
    """,
    tags=("S9-txn", "lakehouse", "multi-table", "transaction", "wap"),
)
def table_log_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-txn — MULTI-TABLE TRANSACTIONS (r15 queue (d) pulled
    forward): appends staged on TWO tables' branch refs publish
    all-or-nothing through a durable coordinator — PREPARE records
    every leg in one atomically-written file, COMMIT audits ALL legs
    before publishing ANY (one violating leg aborts the whole
    transaction, dropping even the legs that audited clean —
    exercised on the registry tables), and a crash mid-publish is
    driven to completion by a recovery sweep because each leg's
    publish is idempotent (crash-injection pytest). The isolation
    caveat is stated, not papered over: this is atomicity of OUTCOME,
    not of VISIBILITY — each table's log is its own consensus point,
    so a reader can see leg A before leg B lands; consumers needing a
    consistent cross-table view read "every table as of T"
    (``table_log_multi_asof``) at a pre-transaction instant. That is
    the same contract multi-statement transactions in lakehouse
    engines provide without a shared log.

    Scale: the coordinator file is legs-sized metadata; commit cost =
    the legs' own publish cost (one OCC commit each); recovery is a
    directory sweep. The audit-all-before-publish-any ordering is
    what bounds the abort path to metadata + staged bytes — no
    published work ever needs undoing."""
    root_a, root_b = _tlog_apply_txn(spark, sf_dir)
    parts = []
    for tbl, root in (("a", root_a), ("b", root_b)):
        parts.append(
            _tlog_fingerprint(spark, root)
            .withColumn("tbl", F.lit(tbl))
            .select("tbl", "bucket", "n_rows", "sum_cents")
        )
    return parts[0].unionByName(parts[1])


# --- Schema evolution THROUGH the streaming ingest (S9-sev) ----------------

_TLOG_SEV_PER_TRIGGER = 2


def _tlog_sev_dirs(sf_dir: str) -> tuple[str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_sevsrc_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogsev_{tag}"),
    )


_TLOG_SEV_SPEC = {"impl": 2, "per_trigger": _TLOG_SEV_PER_TRIGGER}
_TLOG_SEV_SCHEMA_V1 = "event_id long, ts timestamp, event_type string, value double"
_TLOG_SEV_SCHEMA_V2 = _TLOG_SEV_SCHEMA_V1 + ", quality double"


def _tlog_apply_sev(spark: SparkSession, sf_dir: str) -> str:
    """Run the mid-stream schema-widening lifecycle once (flock +
    stamp): phase 1 drains the even-keyed half of events through the
    file stream under the ORIGINAL 4-column schema; then the landing
    zone starts receiving 5-column files (a new ``quality`` field)
    and the stream RESTARTS with the WIDENED declared schema against
    the SAME checkpoint — it resumes at its recorded offset and
    processes only the new files (pinned). Batch commits land each
    phase's groups under their own physical schema; the table's
    manifest stats make the difference self-describing (phase-1
    groups simply record no ``quality`` bounds)."""
    import json

    src, root = _tlog_sev_dirs(sf_dir)
    stamp = json.dumps(_TLOG_SEV_SPEC, sort_keys=True)

    def build() -> None:
        for d in (root, src):
            wipe_root(d)
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        data = os.path.join(src, "data")
        _tlog_zone_write(
            events.filter(F.col("event_id") % 2 == 0), data, 4, "event_id"
        )

        def drain(schema: str) -> None:
            _tlog_drain(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", _TLOG_SEV_PER_TRIGGER)
                .parquet(data),
                lambda batch_df, batch_id: _tlog_land(
                    spark, root, batch_df, batch_id, f"file_sevb{batch_id}"
                ),
                root,
            )

        drain(_TLOG_SEV_SCHEMA_V1)
        phase1_latest = _tlog_latest_version(root)
        # the producer evolves: 5-column files land in the SAME zone
        _tlog_zone_write(
            events.filter(F.col("event_id") % 2 == 1).withColumn(
                "quality", F.col("value") * 2
            ),
            data, 4, "event_id", append=True,
        )
        # the consumer redeploys with the widened schema, SAME checkpoint
        drain(_TLOG_SEV_SCHEMA_V2)
        if _tlog_latest_version(root) <= phase1_latest:
            raise RuntimeError("widened drain processed no new files")
        got = (
            spark.read.option("mergeSchema", "true")
            .parquet(*_tlog_live_files(root, _tlog_latest_version(root)))
            .count()
        )
        want = events.count()
        if got != want:
            raise RuntimeError(
                f"schema-evolving ingest landed {got} rows, source has "
                f"{want} — a batch was lost, double-applied, or re-read"
            )

    built_once(root, "_SEV", stamp, build)
    return root


@register(
    "stream_ingest_schema_evolution",
    # Hash oracle: the merged read of both phases recomputed from the
    # source — even keys carry NULL quality (ingested pre-widening),
    # odd keys carry value*2 (exact in doubles).
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micros,
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_quality,
               CAST(SUM(CASE WHEN event_id % 2 = 1
                             THEN CAST(ROUND(value * 2 * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_quality_micros
        FROM events GROUP BY 1
    """,
    tags=("S9-sev", "stream", "lakehouse", "schema-evolution", "ingest"),
)
def stream_ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-sev — SCHEMA EVOLUTION THROUGH THE STREAMING INGEST (the
    r15 queue's remaining half of item (c)): a producer starts
    shipping a new ``quality`` column mid-stream; the consumer
    redeploys with the widened declared schema against the SAME
    checkpoint, resumes at its recorded offset, and processes only
    the new files (pinned — phase-1 batches are not re-read). Each
    phase's batch commits land under their own physical schema —
    additive evolution needs no rewrite of history — and the read
    side union-by-name null-fills the old groups (the
    ``table_log_schema_evolution`` mechanism, reached through a LIVE
    stream instead of a batch append). Phase-1 groups physically
    lacking the column, checkpoint-resumed second drain, and the
    merged fingerprint are all verified; manifest stats make the
    schema difference self-describing (no ``quality`` bounds on
    phase-1 groups).

    Scale: this is the normal life of a 100-TB event table — schemas
    widen while the firehose runs; the checkpoint surviving the
    redeploy is what makes evolution an operational non-event
    (offsets are schema-agnostic), and null-filled reads cost
    nothing (parquet reads missing columns as nulls from footer
    metadata)."""
    root = _tlog_apply_sev(spark, sf_dir)
    files = _tlog_live_files(root, _tlog_latest_version(root))
    merged = spark.read.option("mergeSchema", "true").parquet(*files)
    micros = F.round(F.col("value") * 1000000).cast("long")
    qmicros = F.round(F.col("quality") * 1000000).cast("long")
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(micros).alias("sum_micros"),
            F.count("quality").alias("n_quality"),
            F.coalesce(F.sum(qmicros), F.lit(0)).alias("sum_quality_micros"),
        )
        .select(
            "event_type", "n_rows", "sum_micros", "n_quality",
            "sum_quality_micros",
        )
    )


# --- DESCRIBE HISTORY: the log as a queryable DataFrame (S9-hist) ----------


@register(
    "table_log_history",
    # Hash oracle: the per-version metadata columns are the commit
    # spec itself (VALUES) and the visibility metrics recompute from
    # `orders` by residue set — the Spark side must derive BOTH from
    # the real log (commit JSON + time-travel reads), so the hash
    # proves log introspection agrees with ground truth.
    oracle="""
        SELECT v.version, v.n_added, v.n_removed,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM (VALUES (0, 2, 0), (1, 1, 0), (2, 1, 1))
             v(version, n_added, n_removed)
        JOIN orders o
          ON (v.version = 0 AND o.o_orderkey % 4 IN (0, 1))
          OR (v.version = 1 AND o.o_orderkey % 4 IN (0, 1, 2))
          OR (v.version = 2)
        GROUP BY 1, 2, 3
    """,
    tags=("S9-hist", "lakehouse", "introspection", "history"),
)
def table_log_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-hist — DESCRIBE HISTORY (r16 queue (d) pulled forward): the
    commit log surfaced as a queryable DataFrame — one row per
    version carrying the commit's file-churn metadata (files
    added/removed, read straight from the commit JSON) joined with
    each snapshot's CONTENT metrics (row count and cents sum via the
    shared one-pass multi-snapshot fingerprint — every live file
    scanned once, snapshots combined through a broadcast membership
    join). This is Delta's ``DESCRIBE HISTORY`` / Iceberg's
    ``snapshots`` metadata table: the observability surface every
    table format grows, because "what changed, when, and how big"
    is the first question any incident review asks of a table.

    Scale: the metadata half is log-sized driver work (bounded by
    checkpoint cadence in a deep log — here the log is 3 commits);
    the content half costs ONE scan of the distinct live files
    across all versions, not one scan per version — the same
    manifest-stats trick the time-travel reads share. In production
    the content metrics would come from the manifests themselves
    (zero data reads); recomputing them here is what lets the oracle
    hash-check introspection against ground truth."""
    import json

    root = _tlog_build(spark, sf_dir, _tlog_root(sf_dir))
    latest = _tlog_latest_version(root)
    meta = []
    for v in range(latest + 1):
        c = json.load(open(os.path.join(root, "_log", f"{v:06d}.json")))
        meta.append((v, len(c["add"]), len(c["remove"])))
    meta_df = spark.createDataFrame(
        meta, "version int, n_added int, n_removed int"
    )
    fps = _tlog_snapshot_fingerprints(
        spark, root, [(v, v) for v in range(latest + 1)]
    )
    return fps.join(F.broadcast(meta_df), "version").select(
        "version", "n_added", "n_removed", "n_rows", "sum_cents"
    )


# --- Catalog pointer swap: VISIBILITY-atomic multi-table txn (S9-txn'') ----

_TLOG_CTX_A_PRED = "o_orderkey % 10 = 8"  # catalog txn's table-A append
_TLOG_CTX_B_PRED = "o_orderkey % 10 = 2"  # catalog txn's table-B append


def _tlog_ctx_roots(sf_dir: str) -> tuple[str, str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogctxa_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogctxb_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogctxc_{tag}"),
    )


def _tlog_catalog_mint_check(tables: dict[str, dict], grace: int) -> None:
    """The PIN-MINTING half of the retention grace contract (the
    vacuum half is ``_tlog_vacuum_floor(grace=...)``): a catalog
    being CREATED may only pin versions whose commit stamp lies
    within the trailing ``grace`` ticks of their table's head
    instant. With both halves enforced, a catalog minted mid-vacuum
    can never dangle — whatever it is allowed to pin, the vacuum's
    grace clamp already spared. Raises descriptively on a pin older
    than the window; pins whose root carries no log (bootstrap
    placeholders) pass through."""

    for name, pin in sorted(tables.items()):
        logd = os.path.join(pin["root"], "_log")
        if not os.path.isdir(logd):
            continue
        latest = _tlog_latest_version(pin["root"])
        stamps = _tlog_ts_stamps(pin["root"], latest)
        pv = pin["version"]
        if not 0 <= pv <= latest:
            raise RuntimeError(
                f"catalog mint refused: pin {name}@v{pv} does not exist "
                f"(table head is v{latest})"
            )
        if stamps[pv] < stamps[latest] - grace:
            raise RuntimeError(
                f"catalog mint refused: pin {name}@v{pv} (ts {stamps[pv]}) "
                f"is older than the table's grace window "
                f"(head ts {stamps[latest]}, grace {grace}) — a vacuum "
                "running concurrently may already have reclaimed it; pin "
                "a fresher snapshot"
            )


def _tlog_catalog_commit(
    cat_root: str,
    tables: dict[str, dict],
    base: int,
    mint_grace: int | None = None,
) -> int:
    """Commit a new CATALOG version: one JSON file mapping table name
    -> {root, version} snapshot PINS, claimed by the same atomic
    hard-link put-if-absent as every table commit. The catalog is the
    single consensus point the per-table logs are not: a pointer map
    swaps in one filesystem op, so no reader can ever observe half a
    swap. ``mint_grace`` (creation commits only, base == -1) enforces
    the pin-minting half of the retention grace contract via
    ``_tlog_catalog_mint_check``; EXISTING catalogs only raise their
    pins through the merge-swap's max-version rule, which is
    vacuum-safe without a window."""
    import json
    import threading

    if mint_grace is not None and base == -1:
        _tlog_catalog_mint_check(tables, mint_grace)
    v = base + 1
    logd = os.path.join(cat_root, "_catalog")
    os.makedirs(logd, exist_ok=True)
    path = os.path.join(logd, f"{v:06d}.json")
    tmp = os.path.join(logd, f".cat.{os.getpid()}.{threading.get_ident()}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"tables": tables}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise TableLogConflictError(
            f"catalog commit v{v} lost the race: another writer swapped "
            "the catalog first; re-read the head and retry"
        ) from None
    finally:
        os.unlink(tmp)
    return v


def _tlog_catalog_latest(cat_root: str) -> int:
    import re

    logd = os.path.join(cat_root, "_catalog")
    vs = [
        int(m.group(1))
        for f in os.listdir(logd)
        if (m := re.fullmatch(r"(\d{6})\.json", f))
    ]
    if not vs:
        raise RuntimeError(f"catalog at {cat_root} holds no versions")
    return max(vs)


def _tlog_catalog_read(cat_root: str, version: int | None = None) -> dict[str, dict]:
    """Resolve a catalog snapshot: table name -> {root, version} pins.
    Reading the database THROUGH a catalog version is what makes
    cross-table visibility atomic — the pins only move in a swap."""
    import json

    if version is None:
        version = _tlog_catalog_latest(cat_root)
    path = os.path.join(cat_root, "_catalog", f"{version:06d}.json")
    return json.load(open(path))["tables"]


def _tlog_catalog_fingerprint(
    spark: SparkSession, tables: dict[str, dict]
) -> DataFrame:
    """Per-bucket fingerprint of every catalog table AT ITS PINNED
    VERSION (time-travel reads — the pin, not the table head, decides
    what a catalog reader sees)."""
    parts = []
    for name in sorted(tables):
        pin = tables[name]
        files = _tlog_live_files(pin["root"], pin["version"])
        parts.append(
            _tlog_relation(spark, files)
            .groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .select(F.lit(name).alias("tbl"), "bucket", "n_rows", "sum_cents")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _tlog_catalog_txn_prepare(
    coord_root: str,
    txn_id: str,
    cat_root: str,
    cat_base: int,
    legs: list[tuple[str, str, dict]],
) -> str:
    """PREPARE a catalog transaction: durably record the legs (table
    name, root, staged branch payload) AND the catalog swap intent
    (catalog root + the base version the swap must land on) in one
    atomically-written coordinator file. From here the transaction is
    recoverable to SWAP-OR-NOTHING: publishes are idempotent and the
    swap is OCC'd on ``cat_base``, so every replay converges."""
    import json

    os.makedirs(coord_root, exist_ok=True)
    path = os.path.join(coord_root, f"{txn_id}.json")
    write_atomic(
        path,
        json.dumps(
            {
                "cat": cat_root,
                "cat_base": cat_base,
                "legs": [
                    {"name": n, "root": r, "payload": p} for n, r, p in legs
                ],
            }
        ),
    )
    return path


def _tlog_catalog_txn_commit(spark: SparkSession, coord_path: str) -> int:
    """COMMIT a catalog transaction: audit every leg, publish every
    leg (presumed-commit rules inherited from the table coordinator:
    once any leg is published, remaining legs are driven forward
    under the transaction's own audit snapshot), then SWAP the
    catalog — one commit flipping every pin to the legs' landed
    versions, MERGED over the current head (``_tlog_catalog_swap_merge``:
    unrelated tables carry through, per-table conflicts resolve by
    max version, lost races re-merge and retry, an already-reflected
    head is adopted). A crash anywhere replays to the same outcome:
    publishes short-circuit when live and the merge-swap converges
    from ANY recorded base — the coordinator's ``cat_base`` is an
    audit record, not a livelock hazard. Visibility contract: catalog
    readers see NOTHING until the swap lands — swap-or-nothing, the
    catalog-level upgrade of the table coordinator's
    all-or-nothing."""
    import json

    c = json.load(open(coord_path))
    cat, cat_base = c["cat"], c["cat_base"]
    legs = [(leg["name"], leg["root"], leg["payload"]) for leg in c["legs"]]
    published, pending = [], []
    for name, root, payload in legs:
        live = set()
        try:
            live = {
                os.path.basename(p)
                for p in _tlog_live_files(root, _tlog_latest_version(root))
            }
        except (RuntimeError, OSError):
            pass
        (published if set(payload["add"]) <= live else pending).append(
            (name, root, payload)
        )
    failures = []
    gone: list[str] = []
    for name, root, payload in pending:
        bpath = _tlog_branch_path(root, payload["branch"], payload["base"] + 1)
        if not os.path.exists(bpath) and not any(
            os.path.isdir(os.path.join(root, g)) for g in payload["add"]
        ):
            # a prior crashed ABORT already retired this leg (ref and
            # staged groups both gone) — auditing missing parquet
            # paths raises an uncaught AnalysisException and strands
            # the coordinator in a re-drive livelock (ADVICE r15:
            # the same shield _tlog_txn_commit carries); record it as
            # a failure so the re-drive finishes the abort instead
            gone.append(name)
            failures.append(
                f"{name}: leg already aborted (no branch ref, no staged data)"
            )
            continue
        failures += [
            f"{name}: {f}" for f in _tlog_wap_audit(spark, root, payload)
        ]
    if gone and published:
        # contradictory on-disk state (a crash aborted one leg after
        # another published): publishing the gone leg would commit
        # references to missing bytes — refuse loudly; the
        # coordinator file stays for manual adjudication and the
        # catalog is NEVER swapped (swap-or-nothing holds)
        raise RuntimeError(
            "catalog transaction is torn beyond recovery: legs "
            f"{sorted(n for n, _, _ in published)} published but "
            f"{sorted(gone)} already aborted — restore the published "
            "tables or re-stage the aborted legs, then retire the "
            "coordinator file by hand"
        )
    if failures and not published:
        for name, root, payload in legs:
            try:
                _tlog_wap_abort(root, payload)
            except RuntimeError:
                pass  # already retired by a prior crashed abort
        os.unlink(coord_path)
        raise RuntimeError(
            "catalog transaction aborted — audit failures: "
            + "; ".join(failures)
        )
    versions = {}
    for name, root, payload in published:
        versions[name] = _tlog_wap_publish(spark, root, payload)
    for name, root, payload in pending:
        versions[name] = _tlog_wap_publish(spark, root, payload, audited=True)
    pins = {
        name: {"root": root, "version": versions[name]}
        for name, root, _ in legs
    }
    v = _tlog_catalog_swap_merge(cat, pins)
    os.unlink(coord_path)
    return v


def _tlog_catalog_swap_merge(
    cat: str, pins: dict[str, dict], max_rebases: int = 16
) -> int:
    """Swap OUR tables' pins into the catalog, MERGED over the
    current head: unrelated tables' pins are carried through
    untouched (a swap that wrote only its own legs as the whole map
    would silently DROP every other table from the catalog), and a
    per-table conflict resolves by MAX VERSION — each table's log is
    linear, so the higher pin is the later snapshot and, because
    concurrent committers rebase over each other, it contains both
    transactions' changes. Lost swap races re-read, re-merge, and
    retry; a head that already reflects the merge (twin recovery, or
    a newer foreign pin superseding ours) is adopted without a
    commit. This is the catalog-level analogue of the table commit's
    rebase loop — and it is what makes a recovery replay with a
    long-stale recorded base converge instead of livelock."""
    for _ in range(max_rebases):
        head = _tlog_catalog_latest(cat)
        cur = _tlog_catalog_read(cat, head)
        merged = dict(cur)
        for name, pin in pins.items():
            old = merged.get(name)
            if (
                old is None
                or old["root"] != pin["root"]
                or old["version"] < pin["version"]
            ):
                merged[name] = pin
        if merged == cur:
            return head  # already reflected: adopt
        try:
            return _tlog_catalog_commit(cat, merged, base=head)
        except TableLogConflictError:
            continue  # someone swapped first: re-read and re-merge
    raise TableLogConflictError(
        f"catalog swap gave up after {max_rebases} rebases — writer "
        "livelock; back off and retry the transaction's swap"
    )


def _tlog_catalog_txn_recover(spark: SparkSession, coord_root: str) -> int:
    """Recovery sweep for catalog transactions: re-drive every
    coordinator file to swap-or-nothing. Returns transactions
    completed."""
    import glob

    n = 0
    for path in sorted(glob.glob(os.path.join(coord_root, "*.json"))):
        _tlog_catalog_txn_commit(spark, path)
        n += 1
    return n


_TLOG_CTX_SPEC = {
    "impl": 2,  # 2: commits route through the durable coordinator
    "preds": [_TLOG_CTX_A_PRED, _TLOG_CTX_B_PRED],
}


def _tlog_apply_ctx(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Run the catalog-txn lifecycle once (flock + stamp on the
    catalog root): catalog v0 pins both tables at their build heads;
    the transaction stages AND PUBLISHES appends on both logs (table
    heads move — but catalog readers still resolve the old pins:
    published-yet-invisible, the catalog's WAP gap); ONE catalog swap
    commit then flips both pins together. Mid-swap invisibility and
    the never-mixed property are pytest-pinned."""
    import json
    import shutil

    root_a, root_b, cat = _tlog_ctx_roots(sf_dir)
    stamp = json.dumps(_TLOG_CTX_SPEC, sort_keys=True)

    def build() -> None:
        wipe_root(cat)
        for r in (root_a, root_b):
            if os.path.isdir(r) and _tlog_latest_version_safe(r) != 2:
                shutil.rmtree(r)
        _tlog_build(spark, sf_dir, root_a)
        _tlog_build(spark, sf_dir, root_b)
        # catalog v0: pin both tables at their current heads
        _tlog_catalog_commit(
            cat,
            {
                "a": {"root": root_a, "version": 2},
                "b": {"root": root_b, "version": 2},
            },
            base=-1,
        )
        # the transaction, through the DURABLE coordinator: stage both
        # legs, PREPARE (legs + swap intent in one atomic file), then
        # COMMIT — publish both logs and flip both pins in one swap.
        # A crash anywhere replays to swap-or-nothing (crash-injection
        # pytest drives recovery through the same entry point).
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        legs = [
            (
                name,
                r,
                _tlog_wap_stage(
                    orders.filter(F.expr(pred)), r, f"file_ctx_{name}"
                ),
            )
            for name, r, pred in (
                ("a", root_a, _TLOG_CTX_A_PRED),
                ("b", root_b, _TLOG_CTX_B_PRED),
            )
        ]
        path = _tlog_catalog_txn_prepare(cat, "ctx1", cat, 0, legs)
        _tlog_catalog_txn_commit(spark, path)

    built_once(cat, "_CTX", stamp, build)
    return root_a, root_b, cat


@register(
    "table_log_catalog_txn",
    # Hash oracle: both tables resolved through the catalog HEAD =
    # source + each table's published slice; the swap must be
    # invisible to values and atomic in visibility (the pytest pins
    # the mid-swap view).
    oracle=f"""
        WITH two_tables AS (
          SELECT 'a' AS tbl, o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'a', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CTX_A_PRED}
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CTX_B_PRED}
        )
        SELECT tbl,
               CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM two_tables GROUP BY 1, 2
    """,
    tags=("S9-txn''", "lakehouse", "catalog", "multi-table", "isolation"),
)
def table_log_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-txn'' — VISIBILITY-ATOMIC multi-table transactions via a
    CATALOG POINTER SWAP (the r15 fresh-queue item S9-txn's isolation
    caveat pointed at): the catalog is one versioned pointer map
    (table name -> {root, version} snapshot pins) committed through
    the same atomic put-if-absent protocol as table commits. Readers
    resolve "the database" through ONE catalog version, reading every
    table AT ITS PIN (time travel), so per-table publishes are
    PUBLISHED-YET-INVISIBLE until a single swap commit flips all the
    pins together — a reader sees both legs old or both legs new,
    NEVER mixed (pytest pins the mid-swap view on both sides of the
    swap). This upgrades S9-txn's atomicity of OUTCOME to atomicity
    of VISIBILITY, which is exactly what a catalog-level commit adds
    in production (Iceberg catalog multi-table commits / Unity's
    multi-statement transactions): the shared consensus point the
    per-table logs deliberately don't have. The lifecycle routes
    through a DURABLE coordinator (PREPARE records legs + swap intent
    atomically; COMMIT publishes then swaps), so a crash anywhere —
    including between the last publish and the swap — replays to
    SWAP-OR-NOTHING: publishes short-circuit, a twin recovery's
    winning swap with identical pins is adopted, and a foreign swap
    in the slot is a true conflict (crash-injection pytest).

    Scale: the catalog file is tables-sized metadata; the swap is one
    hard-link; reads add one JSON resolve before planning. Pinned
    versions mean catalog readers are immune to concurrent table
    churn — the same property that makes the multi-asof read
    (S9-masof) consistent, made transactional here."""
    root_a, root_b, cat = _tlog_apply_ctx(spark, sf_dir)
    tables = _tlog_catalog_read(cat)
    return _tlog_catalog_fingerprint(spark, tables)


@register(
    "table_log_catalog_asof",
    # Hash oracle: the DATABASE as of catalog v0 = both tables'
    # PRE-TRANSACTION content (plain orders), even though both logs
    # have long since advanced — the pins, not the heads, decide.
    oracle="""
        WITH two_tables AS (
          SELECT 'a' AS tbl, o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
        )
        SELECT tbl,
               CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM two_tables GROUP BY 1, 2
    """,
    tags=("S9-txn'''", "lakehouse", "catalog", "as-of", "reproducibility"),
)
def table_log_catalog_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-txn''' — DATABASE-LEVEL AS-OF through the catalog (r16
    queue (b) pulled forward): reading an OLD catalog version
    resolves EVERY table at the pin that version recorded — one
    number reproduces the whole database, not one table. Here the
    catalog transaction (S9-txn'') has long since advanced both
    tables and swapped the pins; reading catalog v0 still returns
    both tables' pre-transaction content, hash-checked. This is the
    reproducible-training-run primitive at the database level: "the
    corpus as of catalog v" pins every input table at once, closing
    the gap S9-masof's shared-clock instant closes per-table — the
    catalog version is coarser (it only moves on swaps) and
    therefore the better artifact to stamp into a training manifest:
    no clock skew, no per-table resolution, one integer.

    Scale: resolution cost is one JSON read regardless of table
    count or size; the pinned snapshots are immune to concurrent
    churn by the same immutability that powers per-table time
    travel. Retention interplay is the same contract as every
    snapshot: vacuum below a pin breaks it loudly (the vacuum
    machinery's descriptive error), so catalog pins define the
    retention floor a production deployment must keep."""
    root_a, root_b, cat = _tlog_apply_ctx(spark, sf_dir)
    if _tlog_catalog_latest(cat) < 1:
        raise RuntimeError("catalog txn lifecycle left no swap to look past")
    return _tlog_catalog_fingerprint(spark, _tlog_catalog_read(cat, 0))


# --- Consistent multi-table CDC through the catalog (S9-ccdf, r16) ---------


@register(
    "table_log_catalog_cdf",
    # Hash oracle: catalog swap v1 moved BOTH pins 2→3 in one commit,
    # so its consistent change set is exactly both tables' published
    # slices — recomputed from orders.
    oracle=f"""
        WITH chg AS (
          SELECT 1 AS cat_version, 'a' AS tbl, 'add' AS side,
                 o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CTX_A_PRED}
          UNION ALL
          SELECT 1, 'b', 'add', o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CTX_B_PRED}
        )
        SELECT cat_version, tbl, side,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM chg GROUP BY 1, 2, 3
    """,
    tags=("S9-ccdf", "lakehouse", "catalog", "cdc", "multi-table"),
)
def table_log_catalog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-ccdf — TRANSACTIONALLY CONSISTENT MULTI-TABLE CDC (r16):
    change feeds whose unit is a CATALOG SWAP, not a table commit.
    Per-table feeds expose torn cross-table state — a consumer can
    apply table A's leg of a transaction before B's exists, the
    visibility gap the catalog swap closes for READS (S9-txn'')
    reopened for CDC. Here the feed's offset is the catalog version:
    each increment diffs every table's PIN between consecutive
    catalog versions and expands the pinned version RANGE through the
    same DV-complete change units as the per-table feed — so one
    catalog swap that moved N tables' pins yields ONE change set
    containing all N tables' transitions, applied-or-nothing. On the
    catalog-txn lifecycle, swap v1 moved both pins 2→3 together; the
    feed emits both published slices under cat_version 1, never one
    without the other (pytest pins that no finer interleaving is
    observable). Table commits that happened between pins (none here;
    skew is normal) batch into the same swap unit — published-yet-
    unswapped work is invisible to CDC exactly as it is to readers.

    Scale: the diff is O(tables) metadata per swap; change expansion
    is the per-table feed's change-sized plan, one scan per distinct
    file; a downstream warehouse applying these batches transactionally
    (S9-repl's apply) holds cross-table consistency end-to-end."""
    root_a, root_b, cat = _tlog_apply_ctx(spark, sf_dir)
    latest = _tlog_catalog_latest(cat)
    parts: list[DataFrame] = []
    for cv in range(1, latest + 1):
        prev = _tlog_catalog_read(cat, cv - 1)
        cur = _tlog_catalog_read(cat, cv)
        for tbl in sorted(cur):
            vfrom = prev.get(tbl, {"version": -1})["version"]
            vto = cur[tbl]["version"]
            if vto <= vfrom:
                continue
            per_version = _tlog_changes_fingerprint(spark, cur[tbl]["root"])
            parts.append(
                per_version.filter(
                    (F.col("version") > vfrom) & (F.col("version") <= vto)
                )
                .groupBy("side")
                .agg(
                    F.sum("n_rows").alias("n_rows"),
                    F.sum("sum_cents").alias("sum_cents"),
                )
                .select(
                    F.lit(cv).alias("cat_version"),
                    F.lit(tbl).alias("tbl"),
                    "side",
                    "n_rows",
                    "sum_cents",
                )
            )
    if not parts:
        raise RuntimeError("catalog has no swaps to feed")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- The catalog feed AS A STREAM (S9-ccdf', r16) --------------------------


@register(
    "stream_catalog_cdf",
    # Same oracle as the batch catalog feed: stream and batch
    # consumption of the swap-atomic change set must agree exactly.
    oracle=f"""
        WITH chg AS (
          SELECT 1 AS cat_version, 'a' AS tbl, 'add' AS side,
                 o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CTX_A_PRED}
          UNION ALL
          SELECT 1, 'b', 'add', o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CTX_B_PRED}
        )
        SELECT cat_version, tbl, side,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM chg GROUP BY 1, 2, 3
    """,
    tags=("S9-ccdf'", "stream", "catalog", "cdc", "multi-table"),
)
def stream_catalog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-ccdf' — the consistent multi-table change feed consumed AS
    A STREAM (r17-queue (c) pulled forward; the readStream twin of
    ``table_log_catalog_cdf``): a custom streaming source whose
    OFFSETS ARE CATALOG VERSIONS — each micro-batch is one swap's
    complete cross-table change set, so a checkpointed consumer can
    never observe half a transaction: the swap-or-nothing visibility
    the catalog gives readers, carried through to streaming CDC.
    Published-yet-unswapped commits never reach the stream; a
    transaction over N tables arrives as ONE batch with all N legs.
    The bounded demo drains the catalog-txn lifecycle (one swap —
    one micro-batch carrying both tables' published slices), folds
    per-(cat_version, tbl, side) fingerprints in complete mode, and
    is hash-checked against the SAME oracle as the batch operator —
    stream and batch consumption provably agree.

    Scale: per micro-batch work is change-sized across the tables a
    swap touched (the per-table feed's plan, summed); offsets replay
    bit-identically because catalog files, logs, and data files are
    all immutable — exactly-once under checkpoint replay for free.
    A production consumer swaps the memory sink for a transactional
    apply (S9-repl's) and holds cross-warehouse consistency."""
    from hadoop_based_distributed_batch_processing_system_spark.sources.pyds import (
        register_catalog_feed_source,
    )

    _root_a, _root_b, cat = _tlog_apply_ctx(spark, sf_dir)
    register_catalog_feed_source(spark)
    raw = (
        spark.readStream.format("catalog_feed").option("catalog", cat).load()
    )
    agg = (
        raw.groupBy("cat_version", "tbl", "side")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("cat_version", "tbl", "side", "n_rows", "sum_cents")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        query = (
            agg.writeStream.format("memory")
            .queryName("hbdbps_stream_catalog_cdf")
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        query.processAllAvailable()
        query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("hbdbps_stream_catalog_cdf")


# --- Replicating a WAREHOUSE through the catalog feed (S9-ccdf'', r16) -----


def _tlog_ccr_roots(sf_dir: str) -> tuple[str, str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogccra_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogccrb_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogccrc_{tag}"),
    )


_TLOG_CCR_SPEC = {"impl": 1}


def _tlog_apply_ccr(spark: SparkSession, sf_dir: str) -> tuple[dict, str]:
    """Replicate the catalog-txn WAREHOUSE once (flock + stamp on the
    downstream catalog root): bootstrap each replica table from the
    upstream catalog v0's PINNED snapshot and pin them in a DOWNSTREAM
    catalog v0; then drain the upstream catalog feed — each micro-
    batch (one upstream swap, ALL tables' changes) applies per-table
    transactional commits and then ONE downstream catalog swap, so
    the downstream preserves the upstream's visibility atomicity:
    a reader of the downstream catalog sees each upstream transaction
    whole or not at all, one swap per swap."""
    import json

    from hadoop_based_distributed_batch_processing_system_spark.sources.pyds import (
        register_catalog_feed_source,
    )

    _ra, _rb, src_cat = _tlog_apply_ctx(spark, sf_dir)
    dst_a, dst_b, dst_cat = _tlog_ccr_roots(sf_dir)
    dst_roots = {"a": dst_a, "b": dst_b}
    stamp = json.dumps(_TLOG_CCR_SPEC, sort_keys=True)

    def build() -> None:
        for d in (dst_cat, dst_a, dst_b):
            wipe_root(d)
        # bootstrap: each replica = the upstream catalog v0's PINNED
        # snapshot (not the table head — published-yet-unswapped work
        # must not leak into the replica's base)
        pins0 = _tlog_catalog_read(src_cat, 0)
        for name, dst in dst_roots.items():
            os.makedirs(os.path.join(dst, "_log"), exist_ok=True)
            pin = pins0[name]
            _tlog_relation(
                spark, _tlog_live_files(pin["root"], pin["version"])
            ).write.mode("overwrite").parquet(os.path.join(dst, "file_boot"))
            _tlog_commit(dst, add=["file_boot"], remove=[], base_version=-1)
        _tlog_catalog_commit(
            dst_cat,
            {n: {"root": r, "version": 0} for n, r in dst_roots.items()},
            base=-1,
        )

        def apply_swap(batch_df: DataFrame, batch_id: int) -> None:
            groups, _ = _tlog_feed_groups(batch_df, ["tbl", "side"], "cat_version")
            if not groups:
                return
            pins = {
                tbl: {
                    "root": dst,
                    "version": _tlog_apply_changes(
                        spark, dst, batch_df.filter(F.col("tbl") == tbl),
                        {side for (t, side) in groups if t == tbl},
                        f"_s{batch_id}", f"file_swap_{batch_id}",
                    ),
                }
                for tbl, dst in sorted(dst_roots.items())
            }
            # ONE downstream swap per upstream swap: visibility
            # atomicity replicates with the data
            _tlog_catalog_commit(
                dst_cat, pins, base=_tlog_catalog_latest(dst_cat)
            )

        register_catalog_feed_source(spark)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            _tlog_drain(
                spark.readStream.format("catalog_feed")
                .option("catalog", src_cat)
                .load(),
                apply_swap,
                dst_cat,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if _tlog_catalog_latest(dst_cat) != _tlog_catalog_latest(src_cat):
            raise RuntimeError(
                "downstream catalog drifted: "
                f"{_tlog_catalog_latest(dst_cat)} swaps vs upstream "
                f"{_tlog_catalog_latest(src_cat)}"
            )

    built_once(dst_cat, "_CCR", stamp, build)
    return dst_roots, dst_cat


@register(
    "stream_catalog_replicate",
    # Hash oracle: both replicas resolved through the DOWNSTREAM
    # catalog head = the upstream transaction's full outcome — base
    # content plus each table's published slice.
    oracle=f"""
        WITH two_tables AS (
          SELECT 'a' AS tbl, o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'a', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CTX_A_PRED}
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'b', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CTX_B_PRED}
        )
        SELECT tbl,
               CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM two_tables GROUP BY 1, 2
    """,
    tags=("S9-ccdf''", "stream", "catalog", "cdc", "replication", "multi-table"),
)
def stream_catalog_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-ccdf'' — WAREHOUSE replication through the catalog feed
    (r16, fresh r17-queue (b) pulled forward — the 'production
    consumer' the feed docstrings promise): a downstream warehouse
    (two replica tables + its OWN catalog) drains the upstream
    catalog feed; each micro-batch — one upstream swap, all tables'
    changes — applies per-table transactional commits and then ONE
    downstream catalog swap, so the upstream's visibility atomicity
    REPLICATES with the data: a downstream catalog reader sees each
    upstream transaction whole or not at all, swap for swap
    (downstream swap count drift-checked against upstream). The
    bootstrap comes from the upstream catalog v0's PINNED snapshots —
    published-yet-unswapped work cannot leak into the replica's base.
    Both replicas are read through the downstream catalog head and
    hash-checked against the transaction's full outcome.

    Scale: per-batch work is change-sized across the swap's tables
    (the replica apply's broadcast anti-join per table); the
    downstream swap is one metadata commit — cross-warehouse
    consistency costs one hard-link per transaction, which is the
    whole point of making the feed's unit the swap."""
    dst_roots, dst_cat = _tlog_apply_ccr(spark, sf_dir)
    return _tlog_catalog_fingerprint(spark, _tlog_catalog_read(dst_cat))


# --- Vacuum under catalog pins: the retention floor (S9-vcf) ---------------

_TLOG_VCF_PRED = "o_orderkey % 10 = 6"  # the post-compact append slice


def _tlog_vcf_roots(sf_dir: str) -> tuple[str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogvcf_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogvcfcat_{tag}"),
    )


def _tlog_catalog_retention_floor(root: str, catalogs: list[str]) -> int | None:
    """The oldest version of ``root`` pinned by any catalog's CURRENT
    head — the retention floor a vacuum must respect. Current pins
    are the protection (Iceberg's branch/tag refs): historical
    catalog versions are themselves retention-bounded, so a database
    as-of below a vacuumed horizon fails with the standard
    descriptive snapshot error rather than holding bytes forever.
    None when no catalog pins this table."""
    rp = os.path.realpath(root)
    floor = None
    for cat in catalogs:
        for pin in _tlog_catalog_read(cat).values():
            if os.path.realpath(pin["root"]) == rp:
                v = pin["version"]
                floor = v if floor is None else min(floor, v)
    return floor


def _tlog_vacuum_floor(
    root: str,
    retain_version: int | None = None,
    catalogs: list[str] | None = None,
    retain_ts: int | None = None,
    grace: int | None = None,
) -> tuple[int, list[str]]:
    """VACUUM clamped to the catalog retention floor (the enforcement
    half of the promise the catalog docstrings make): the effective
    horizon is min(requested, oldest current catalog pin), so a
    retention policy tightened past a pinned version can never delete
    bytes a catalog reader resolves — the catalog, not the policy,
    wins. The horizon is a version or an INSTANT (``retain_ts``,
    resolved through the commit stamps — the production form: "retain
    7 days" is a timestamp rule, and the floor must clamp it the same
    way).

    The floor read and the deletion are not atomic. Existing catalogs
    only RAISE their pins (the merge-swap's max-version rule), which
    is vacuum-safe — but a catalog CREATED between the floor read and
    the deletion can pin below the floor (TOCTOU). Production formats
    close this with a RETENTION GRACE PERIOD, not with locking, and
    ``grace`` is that period in commit-stamp ticks: every version
    whose commit stamp lies within the trailing ``grace`` ticks of
    the head instant stays resolvable regardless of the requested
    horizon. Paired with the pin-minting contract — new catalogs pin
    snapshots inside the grace window (fresh heads, by construction
    of every catalog builder here) — a catalog minted mid-vacuum can
    never dangle: whatever it pins, the grace clamp already spared.
    A grace wider than the table's history clamps the horizon to 0
    (vacuum deletes nothing). Returns
    (effective horizon, deleted groups)."""

    if (retain_version is None) == (retain_ts is None):
        raise ValueError("pass exactly one of retain_version / retain_ts")
    if retain_ts is not None:
        retain_version = _tlog_version_as_of(root, retain_ts)
    floor = _tlog_catalog_retention_floor(root, catalogs or [])
    effective = retain_version if floor is None else min(retain_version, floor)
    if grace is not None:
        latest = _tlog_latest_version(root)
        stamps = _tlog_ts_stamps(root, latest)
        cutoff = stamps[latest] - grace
        eligible = [v for v, t in enumerate(stamps) if t <= cutoff]
        effective = min(effective, max(eligible) if eligible else 0)
    return effective, _tlog_vacuum(root, retain_version=effective)


_TLOG_VCF_SPEC = {"impl": 1, "pred": _TLOG_VCF_PRED}


def _tlog_apply_vcf(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the pinned-vacuum lifecycle once (flock + stamp on the
    table root): build (head v2) → catalog pins v2 → compaction
    rewrite (v3 — the base groups go DEAD at head but stay PINNED) →
    append (v4) → FLOORED vacuum at retain=head, which clamps to the
    pin and reclaims NOTHING (the base groups are the pinned
    snapshot's live set)."""
    import json
    import shutil

    root, cat = _tlog_vcf_roots(sf_dir)
    stamp = json.dumps(_TLOG_VCF_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_build(spark, sf_dir, root)
        if _tlog_latest_version_safe(root) != 2 or os.path.isdir(cat):
            shutil.rmtree(cat, ignore_errors=True)
            wipe_root(root)
            _tlog_build(spark, sf_dir, root)
        _tlog_catalog_commit(
            cat, {"t": {"root": root, "version": 2}}, base=-1
        )
        # v3: compaction — one sorted rewrite; base groups now dead at
        # head, live ONLY through the catalog pin
        _tlog_rewrite(
            spark, root,
            [os.path.basename(p) for p in _tlog_live_files(root, 2)],
            "file_vcf_c", cluster=["o_orderkey"],
        )
        # v4: an append so the head and the pin diverge in content too
        slice_df = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr(_TLOG_VCF_PRED))
            .select("o_orderkey", "o_totalprice")
        )
        _tlog_land(spark, root, slice_df, None, "file_vcf_a")
        # the FLOORED vacuum: retention says head, the pin says v2 —
        # the pin wins: everything the pinned snapshot references
        # survives (file_B, dead BEFORE the pin, is legitimately
        # reclaimed — the floor protects pinned state, not all history)
        effective, deleted = _tlog_vacuum_floor(root, 4, [cat])
        pinned = {os.path.basename(p) for p in _tlog_live_files(root, 2)}
        if effective != 2 or set(deleted) & pinned:
            raise RuntimeError(
                f"floored vacuum drifted: horizon {effective}, "
                f"deleted {deleted} — the catalog pin must clamp both"
            )

    built_once(root, "_VCF", stamp, build)
    return root, cat


@register(
    "table_log_vacuum_catalog_floor",
    # Hash oracle: after the floored vacuum, the catalog-pinned read
    # is STILL the pre-compaction base (plain orders) and the head is
    # the compacted content plus the append — retention tightened to
    # head must not break either view.
    oracle=f"""
        WITH s AS (
          SELECT 'pinned' AS view, o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'head', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 'head', o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_VCF_PRED}
        )
        SELECT view,
               CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM s GROUP BY 1, 2
    """,
    tags=("S9-vcf", "lakehouse", "catalog", "vacuum", "retention"),
)
def table_log_vacuum_catalog_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-vcf — VACUUM UNDER CATALOG PINS: the enforcement half of the
    promise the catalog operators document ("catalog pins define the
    retention floor"). A compaction kills the base file groups at
    head; a retention policy of "keep only head" would reclaim them —
    but the catalog's current pin still resolves the pre-compaction
    snapshot, so the floored vacuum clamps its horizon to the oldest
    current pin (min over catalogs referencing the table) and deletes
    NOTHING the pinned database view needs. Both views — the pinned
    read (pre-compaction content) and the head read (compacted +
    append) — are served after the vacuum and hash-checked. Current
    pins are the protection, like Iceberg branch/tag refs: historical
    catalog versions age out under the same retention as any
    snapshot, failing descriptively below the horizon (pytest pins
    the raw-vacuum counterfactual breaking the pin, and the floor
    MOVING when the catalog re-pins to head).

    Scale: the floor is one JSON read per catalog — metadata,
    O(catalogs × tables); vacuum itself never touches the data plane
    except to delete. This is the coordination that makes aggressive
    retention safe on a 100-TB lake: training manifests pin catalog
    versions, and storage reclaim can run hot everywhere those pins
    aren't."""
    root, cat = _tlog_apply_vcf(spark, sf_dir)
    pin = _tlog_catalog_read(cat)["t"]
    parts = []
    for view, version in (("pinned", pin["version"]), ("head", _tlog_latest_version(root))):
        parts.append(
            _tlog_relation(spark, _tlog_live_files(root, version))
            .groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .select(F.lit(view).alias("view"), "bucket", "n_rows", "sum_cents")
        )
    return parts[0].unionByName(parts[1])


# --- Catalog-ROUTED cross-table as-of (S9-masof', VERDICT r15 #4) ----------


def _tlog_cma_root(sf_dir: str) -> str:
    # own root for the CATALOG only — the pinned tables are the
    # shared base/dml tables, read-only through their pins
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcma_{corpus_tag(sf_dir)}"
    )


_TLOG_CMA_SPEC = {"impl": 1, "pins": 3}


def _tlog_apply_cma(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Build the catalog history the routed multi-asof resolves
    through (flock + stamp on the catalog root): three catalog
    versions pinning the shared base/dml tables at the same coherent
    moments the shared-clock operator reads — v0 mid-history (both
    tables at their v1), v1 after the DML table's DELETE (base v2,
    dml v3 — the skewed-version case), v2 after its UPDATE (dml v4).
    The tables themselves are the shared read-only builds; only the
    catalog lives on this root."""
    import json

    base_root = _tlog_build(spark, sf_dir, _tlog_root(sf_dir))
    dml_root = _tlog_build(spark, sf_dir, _tlog_dml_root(sf_dir))
    _tlog_apply_dml(spark, sf_dir, dml_root)
    cat = _tlog_cma_root(sf_dir)
    stamp = json.dumps(_TLOG_CMA_SPEC, sort_keys=True)

    def build() -> None:
        wipe_root(cat)
        pins = [
            {"base": 1, "dml": 1},  # mid-history
            {"base": 2, "dml": 3},  # after the DELETE (skewed versions)
            {"base": 2, "dml": 4},  # after the UPDATE
        ]
        for i, pin in enumerate(pins):
            _tlog_catalog_commit(
                cat,
                {
                    "base": {"root": base_root, "version": pin["base"]},
                    "dml": {"root": dml_root, "version": pin["dml"]},
                },
                base=i - 1,
            )

    built_once(cat, "_CMA", stamp, build)
    return base_root, dml_root, cat


@register(
    "table_log_catalog_multi_asof",
    # Hash oracle: both tables at each catalog version's pins,
    # recomputed from the source — identical content to the
    # shared-clock operator's three instants, resolved through
    # catalog versions 0/1/2 instead of timestamps.
    oracle=f"""
        WITH snap AS (
          SELECT 0 AS cat_version, 'base' AS tbl, o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
          UNION ALL
          SELECT 0, 'dml', o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
          UNION ALL
          SELECT 1, 'base', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 1, 'dml', o_orderkey, o_totalprice
          FROM orders WHERE NOT ({_TLOG_DELETE_PRED})
          UNION ALL
          SELECT 2, 'base', o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT 2, 'dml', o_orderkey,
                 CASE WHEN {_TLOG_UPDATE_PRED}
                      THEN o_totalprice + {_TLOG_UPDATE_BUMP}
                      ELSE o_totalprice END
          FROM orders WHERE NOT ({_TLOG_DELETE_PRED})
        )
        SELECT cat_version, tbl,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM snap GROUP BY 1, 2
    """,
    tags=("S9-masof'", "lakehouse", "catalog", "as-of", "multi-table"),
)
def table_log_catalog_multi_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-masof' — cross-table as-of reads ROUTED THROUGH THE CATALOG
    (VERDICT r15 #4 / SURVEY §7 r16 queue (b)): the shared-clock
    operator (``table_log_multi_asof``) resolves "every table as of
    instant T" through per-table timestamp lookups; this one resolves
    "every table as of CATALOG VERSION V" through one JSON read — the
    catalog version v recorded {table -> (root, version)} pins when
    it was committed, so the whole database reproduces from a single
    integer with no clock at all. Three catalog versions are read
    (mid-history; post-DELETE with skewed table versions; post-UPDATE)
    and all six pinned snapshots fingerprint through the same DV-aware
    two-half plan the shared-clock operator uses — one mechanism for
    both resolution modes, differing only in WHERE the version comes
    from.

    Why the catalog wins at scale: timestamp resolution is N metadata
    lookups against N logs and trusts the stamps to share a clock;
    catalog resolution is ONE lookup against one map, immune to clock
    skew, and only moves on swaps — the right artifact to stamp into
    a training manifest. The shared-clock mode remains for instants
    BETWEEN swaps, which a catalog cannot name.

    Scale: resolution is one JSON read regardless of table count; the
    fingerprint plan scans each distinct file once across all
    snapshots that share it; vacuum below a pinned version fails
    loudly through the snapshot machinery (pins define the retention
    floor)."""
    base_root, dml_root, cat = _tlog_apply_cma(spark, sf_dir)
    if _tlog_catalog_latest(cat) != 2:
        raise RuntimeError("catalog as-of lifecycle left the wrong history")
    by_table: dict[str, list[tuple[int, int]]] = {}
    roots: dict[str, str] = {}
    for cv in range(3):
        for tbl, pin in _tlog_catalog_read(cat, cv).items():
            by_table.setdefault(tbl, []).append((cv, pin["version"]))
            roots[tbl] = pin["root"]
    parts = [
        _tlog_snapshot_fingerprints(spark, roots[tbl], labeled).select(
            F.col("version").alias("instant"), F.lit(tbl).alias("tbl"),
            "n_rows", "sum_cents", "min_key", "max_key",
        )
        for tbl, labeled in sorted(by_table.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("instant").alias("cat_version"),
        "tbl", "n_rows", "sum_cents", "min_key", "max_key",
    )


# --- Deep-copy repair for shallow clones (S9-cln') -------------------------

_TLOG_CDEEP_ADD_PRED = "o_orderkey % 10 = 1"  # the clone's local append
_TLOG_CDEEP_DV_MOD, _TLOG_CDEEP_DV_RESIDUE = 9, 5  # local delete on file_D


def _tlog_cdeep_src_root(sf_dir: str) -> str:
    # PRIVATE source table: the lifecycle retires and vacuums one of
    # its files — doing that to the shared base table would break
    # every other operator reading it
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcdsrc_{corpus_tag(sf_dir)}"
    )


def _tlog_cdeep_root(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcdeep_{corpus_tag(sf_dir)}"
    )


def _tlog_clone_deepen(clone_root: str) -> int:
    """DEEPEN a shallow clone: materialize every still-retained
    borrowed file group into the clone as a local copy and commit the
    re-homing as ONE ``dataChange: false`` commit (live content is
    byte-identical — change-feed consumers skip it, like a
    compaction). This is the operator behind
    ``_tlog_clone_live_files``' vacuum-hazard error advice (VERDICT
    r14 next-round #5): run it while the source still retains the
    borrowed bytes and the clone's lifetime decouples from the
    source's retention policy forever. A borrowed group whose bytes
    are already gone fails DESCRIPTIVELY before anything is copied
    (all-or-nothing: a half-deepened clone would be strictly harder
    to reason about than a shallow one).

    DV bindings on borrowed files re-bind to the local name in the
    same commit (replay applies removes before updates, so the
    same-commit rebind is atomic); manifest stats key by basename and
    survive the re-homing untouched — pruning keeps working.

    Scale: the copy is the unavoidable cost (deep = bytes); here it
    is a driver-side directory copy because the table IS a POSIX dir
    — on an object store this is a parallel server-side copy, still
    content-identical, still one metadata commit. Returns the new
    head version (or the current one if already deep)."""
    import shutil

    latest = _tlog_latest_version(clone_root)
    files = _tlog_live_files(clone_root, latest)
    cr = os.path.normpath(clone_root)
    borrowed = [
        p for p in files if os.path.dirname(os.path.normpath(p)) != cr
    ]
    if not borrowed:
        return latest  # already deep — idempotent no-op
    gone = sorted(
        os.path.basename(p) for p in borrowed if not os.path.isdir(p)
    )
    if gone:
        raise RuntimeError(
            f"cannot deepen clone at {clone_root}: borrowed groups {gone} "
            "are already gone from their source (vacuumed below the "
            "clone's reference) — restore the source table or re-clone "
            "from a retained snapshot; nothing was copied"
        )
    add, remove = [], []
    for p in borrowed:
        name = os.path.basename(p)
        entry = os.path.relpath(p, clone_root)  # the log's entry name
        dst = os.path.join(clone_root, name)
        tmp = f"{dst}.deepen.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(p, tmp)
        shutil.rmtree(dst, ignore_errors=True)  # crashed prior attempt
        os.rename(tmp, dst)
        add.append(name)
        remove.append(entry)
    dv_rebind = {
        os.path.basename(f): s
        for f, s in _tlog_live_dvs(clone_root, latest).items()
        if f in set(remove)
    }
    return _tlog_commit_rebase(
        clone_root,
        add=add,
        remove=remove,
        base_version=latest,
        read_set=set(remove),
        dv=dv_rebind or None,
        data_change=False,
    )


_TLOG_CDEEP_SPEC = {
    "impl": 1,
    "add": _TLOG_CDEEP_ADD_PRED,
    "dv": [_TLOG_CDEEP_DV_MOD, _TLOG_CDEEP_DV_RESIDUE],
}


def _tlog_apply_cdeep(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the deepen lifecycle once per dir (flock + stamp): clone a
    PRIVATE source's head, diverge (local append + local DV on
    borrowed file_D), DEEPEN while the source still retains every
    borrowed byte — then the source retires file_D in a rewrite and
    VACUUMS it. The shallow clone would now be broken (the exact
    hazard ``_tlog_clone_live_files`` detects); the deepened clone
    reads on, byte-complete, from its own root."""
    import json
    import shutil

    stamp = json.dumps(_TLOG_CDEEP_SPEC, sort_keys=True)

    def build() -> None:
        src_root = _tlog_cdeep_src_root(sf_dir)
        # the source is retired-and-vacuumed by this lifecycle, so an
        # unstamped run rebuilds BOTH sides from scratch (serialized
        # by the clone lock — the source is private to this lifecycle)
        shutil.rmtree(src_root, ignore_errors=True)
        _tlog_build(spark, sf_dir, src_root)
        if os.path.isdir(os.path.join(root, "_log")):
            wipe_root(root)
        _tlog_clone_shallow(src_root, root, 2)
        # v1: local append
        slice_df = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr(_TLOG_CDEEP_ADD_PRED))
            .select("o_orderkey", "o_totalprice")
        )
        _tlog_land(spark, root, slice_df, None, "file_cd_add")
        # v2: local DV on the BORROWED file_D
        rel = os.path.relpath(src_root, root)
        doomed = (
            _tlog_relation(spark, [os.path.join(src_root, "file_D")])
            .filter(
                F.col("o_orderkey") % _TLOG_CDEEP_DV_MOD
                == _TLOG_CDEEP_DV_RESIDUE
            )
            .select("o_orderkey")
        )
        doomed.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, "dv_file_D_v2")
        )
        _tlog_commit_rebase(
            root, add=[], remove=[], base_version=1, read_set=set(),
            dv={os.path.join(rel, "file_D"): "dv_file_D_v2"},
        )
        # v3: DEEPEN while the source retains everything
        _tlog_clone_deepen(root)
        # now the source retires file_D (content-preserving rewrite)
        # and vacuums — the borrowed bytes are GONE from the source
        shutil.copytree(
            os.path.join(src_root, "file_D"), os.path.join(src_root, "file_D2")
        )
        _tlog_commit(
            src_root, add=["file_D2"], remove=["file_D"], base_version=2,
            data_change=False,
        )
        deleted = _tlog_vacuum(src_root, retain_version=3)
        if "file_D" not in deleted:
            raise RuntimeError(
                f"lifecycle expected the source vacuum to delete file_D, "
                f"got {deleted}"
            )

    built_once(root, "_CDEEP", stamp, build)


@register(
    "table_log_clone_deepen",
    # Hash oracle: the deepened clone's head = source content at
    # clone time, minus the clone-local delete on file_D's residues,
    # plus the clone-local append — unchanged by the deepen (it is
    # dataChange:false) and unchanged by the source's later
    # retire+vacuum of the borrowed bytes.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE NOT (o_orderkey % 4 IN (1, 3)
                     AND o_orderkey % {_TLOG_CDEEP_DV_MOD} = {_TLOG_CDEEP_DV_RESIDUE})
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CDEEP_ADD_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM t GROUP BY 1
    """,
    tags=("S9-cln'", "lakehouse", "clone", "deep-copy", "vacuum"),
)
def table_log_clone_deepen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cln' — DEEP-COPY REPAIR for shallow clones (VERDICT r14
    next-round #5: the vacuum-hazard error's advice now has an
    operator behind it): ``_tlog_clone_deepen`` materializes every
    still-retained borrowed file into the clone and commits the
    re-homing as one ``dataChange: false`` commit — DV bindings
    re-bind to the local names atomically, manifest stats survive by
    basename, and the clone's content is asserted byte-identical
    through the hash oracle. The lifecycle then plays out the full
    hazard: the source retires the borrowed file_D in a rewrite and
    VACUUMS it — the shallow clone would now fail its read
    (``_tlog_clone_live_files``' descriptive error, pytest-pinned on
    a second, deliberately un-deepened clone), while the deepened
    clone reads on. A deepen attempted AFTER the bytes are gone
    fails all-or-nothing with the restore/re-clone remedy
    (pytest-pinned).

    Scale: deepen costs the borrowed bytes once — the price of
    decoupling the clone's lifetime from the source's retention; the
    commit is metadata-sized and change-feed-invisible. The
    production shape is Delta's shallow-to-deep CLONE conversion /
    Iceberg's rewrite_table_path."""
    root = _tlog_cdeep_root(sf_dir)
    _tlog_apply_cdeep(spark, sf_dir, root)
    files = _tlog_clone_live_files(root)  # hazard check must PASS now
    cr = os.path.normpath(root)
    still_borrowed = [
        p for p in files if os.path.dirname(os.path.normpath(p)) != cr
    ]
    if still_borrowed:
        raise RuntimeError(
            f"deepened clone still borrows {still_borrowed}"
        )
    return _tlog_fingerprint(spark, root)


# --- Column mapping: RENAME/DROP COLUMN as pure metadata (S9-cmap) --------

_TLOG_CMAP_PRED = "o_orderkey % 10 = 7"  # the post-rename append's slice


def _tlog_cmap_root(sf_dir: str) -> str:
    # own root: the mapping lifecycle commits onto its table's log
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmap_{corpus_tag(sf_dir)}"
    )


def _tlog_colmap_prune(
    root: str, version: int, logical: str, lo, hi
) -> tuple[list[str], list[str]]:
    """Manifest-stats pruning THROUGH the column mapping: a predicate
    on a LOGICAL column translates per file group to that group's
    PHYSICAL name (stats are recorded under physical names at write
    time — they cannot be renamed retroactively, and don't need to
    be). Keep a group iff its physical bounds intersect [lo, hi];
    unknown binding or missing stats keeps conservatively. Returns
    (kept, skipped) group names — the property that makes rename
    free: pre-rename files keep pruning on their old spelling."""

    cmap = _tlog_live_colmap(root, version) or {"fields": []}
    fid = next(
        (str(f["id"]) for f in cmap["fields"] if f["name"] == logical), None
    )
    stats = _tlog_live_stats(root, version)
    phys = _tlog_replay_map(root, version, "colphys")
    kept, skipped = [], []
    for p in _tlog_live_files(root, version):
        g = os.path.basename(p)
        pname = (phys.get(g) or {}).get(fid) if fid is not None else None
        st = stats.get(g, {}).get(pname) if pname else None
        if st is None or (st[0] <= hi and st[1] >= lo):
            kept.append(g)
        else:
            skipped.append(g)
    return kept, skipped


_TLOG_CMAP_SPEC = {"impl": 1, "pred": _TLOG_CMAP_PRED}


def _tlog_apply_cmap(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the column-mapping lifecycle once per dir (flock + stamp)
    on top of the standard 3-commit base table:
    v3 ENABLES mapping — assigns field ids 1/2 to the existing
    physical columns and binds every base group (pure metadata);
    v4 RENAMES o_totalprice -> price_usd (pure metadata — field 2's
    logical name changes, no file rewritten);
    v5 APPENDS file_F written physically under the NEW names plus a
    new ``channel`` column (field 3) — the mixed-spelling state every
    renamed production table lives in;
    v6 DROPS ``channel`` (pure metadata — field 3 leaves the logical
    schema; file_F keeps the bytes, unreachable)."""
    import json

    stamp = json.dumps(_TLOG_CMAP_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_build(spark, sf_dir, root)
        if _tlog_latest_version_safe(root) != 2:
            # mutations from a superseded spec on this root: wipe and
            # rebuild the base (the WAP recovery discipline)
            wipe_root(root)
            _tlog_build(spark, sf_dir, root)
        fields_v3 = [
            {"id": 1, "name": "o_orderkey"},
            {"id": 2, "name": "o_totalprice"},
        ]
        base_binding = {"1": "o_orderkey", "2": "o_totalprice"}
        # v3: ENABLE mapping — bind every group the log has ever
        # referenced (removed groups keep bindings for time travel)
        _tlog_commit(
            root, add=[], remove=[], base_version=2,
            column_mapping={"fields": fields_v3},
            colphys={f"file_{s}": base_binding for s in ("A", "B", "C", "D")},
        )
        # v4: RENAME o_totalprice -> price_usd — METADATA ONLY
        _tlog_commit(
            root, add=[], remove=[], base_version=3,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "price_usd"},
                ]
            },
        )
        # v5: append under the NEW spelling + a new channel column
        slice_df = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr(_TLOG_CMAP_PRED))
            .select(
                "o_orderkey",
                F.col("o_totalprice").alias("price_usd"),
                (F.col("o_orderkey") % 3).cast("int").alias("channel"),
            )
        )
        promoted, stats = _tlog_staged_write_with_stats(
            slice_df.withColumn("tgt", F.lit("file_F")), root, ["file_F"]
        )
        _tlog_commit(
            root, add=promoted, remove=[], base_version=4,
            stats=stats or None,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "price_usd"},
                    {"id": 3, "name": "channel"},
                ]
            },
            colphys={
                "file_F": {"1": "o_orderkey", "2": "price_usd", "3": "channel"}
            },
        )
        # v6: DROP channel — METADATA ONLY (file_F bytes untouched)
        _tlog_commit(
            root, add=[], remove=[], base_version=5,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "price_usd"},
                ]
            },
        )
        if [f["name"] for f in _tlog_live_colmap(root, 6)["fields"]] != [
            "o_orderkey", "price_usd",
        ]:
            raise RuntimeError("column mapping did not replay to the head")

    built_once(root, "_CMAP", stamp, build)


@register(
    "table_log_column_mapping",
    # Hash oracle: the head read under the LOGICAL schema = base
    # orders plus the appended slice, prices under the renamed
    # column, the dropped channel invisible — the mapping must be
    # invisible to values and visible only in names.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM t GROUP BY 1
    """,
    tags=("S9-cmap", "lakehouse", "schema-evolution", "column-mapping"),
)
def table_log_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap — COLUMN MAPPING: RENAME and DROP COLUMN as pure
    metadata (VERDICT r14 next-round #3 — the documented NON-feature
    of ``table_log_schema_evolution`` becomes a feature). Columns get
    stable FIELD IDS; the log replays a name->id mapping
    (``column_mapping``, replace-folded) plus per-file-group physical
    bindings (``colphys``, merge-folded like stats); a RENAME updates
    the field's logical name and a DROP removes the field — zero data
    bytes move either way (mtime-pinned in pytest). Readers cohort
    live files by binding signature and alias physical->logical per
    cohort, so pre-rename files (physical ``o_totalprice``) and
    post-rename files (physical ``price_usd``) serve one logical
    column; stats pruning translates logical predicates to each
    file's physical spelling (``_tlog_colmap_prune``), so pre-rename
    manifest stats keep pruning. Time travel resolves the mapping AT
    the read version: v3 reads show the old names, head reads the
    new, the dropped ``channel`` is gone from the head read — all
    pytest-pinned. This is Iceberg's field-id indirection / Delta's
    column mapping reduced to the package's POSIX log.

    Scale: rename/drop on a 100-TB table is one metadata-sized
    commit; the alternative (rewrite every file) is a full-table I/O
    job. Binding resolution is O(live groups) driver-side; the read
    plan is one scan per distinct binding signature — bounded by
    schema-change count, not file count."""
    root = _tlog_cmap_root(sf_dir)
    _tlog_apply_cmap(spark, sf_dir, root)
    rel = _tlog_rows(spark, root, _tlog_latest_version(root))
    if "channel" in rel.columns:
        raise RuntimeError("dropped column still reachable at head")
    return (
        rel.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- DML under column mapping: logical-name DELETE (S9-cmap'') -------------

# delete band on the RENAMED column, exact-integer so both engines
# agree bit-for-bit on membership
_TLOG_CMD_PRED = "CAST(ROUND(price_usd * 100) AS BIGINT) % 11 = 3"


def _tlog_cmd_root(sf_dir: str) -> str:
    # own root: the delete mutates its table's log (own-root rule);
    # the shared cmap table stays read-only for its operator
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmd_{corpus_tag(sf_dir)}"
    )


def _tlog_colmap_translate(pred: str, fields: list[dict], binding: dict) -> str:
    """Rewrite a LOGICAL-name predicate into one writer's PHYSICAL
    spelling (readers filter logical names above ``_tlog_rows``
    instead; a writer enforces the table's constraints on the frame
    it writes) in ONE alternation pass: every identifier in
    the predicate is rewritten at most once, so swap renames (a→b
    while b's physical spelling is a) and chained renames can never
    re-substitute an earlier substitution's output — the sequential
    re.sub loop this replaces silently doomed the wrong rows on such
    cohorts (ADVICE r15). Single-quoted SQL string literals (with
    ``''`` escapes) are matched FIRST by the alternation and passed
    through untouched, so an identifier-shaped token inside a literal
    (``note = 'price_usd'``) is never respelled (ADVICE r16 #4).
    Only identifier renames are handled — exactly the indirection
    column mapping introduces; the predicate's structure is
    untouched."""
    import re

    table = {
        f["name"]: phys
        for f in fields
        if (phys := binding.get(str(f["id"]))) is not None
        and phys != f["name"]
    }
    if not table:
        return pred
    # longest-first so a logical name that prefixes another can't
    # shadow it inside the alternation
    alt = "|".join(re.escape(n) for n in sorted(table, key=len, reverse=True))
    # literal spans win the alternation race at their opening quote,
    # so \b(identifier)\b can only fire OUTSIDE quoted literals
    pattern = rf"'(?:[^']|'')*'|\b(?:{alt})\b"
    return re.sub(
        pattern,
        lambda m: m.group(0) if m.group(0).startswith("'") else table[m.group(0)],
        pred,
    )


_TLOG_CMD_SPEC = {"impl": 1, "pred": _TLOG_CMD_PRED}


def _tlog_apply_cmd(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the mapped-DELETE lifecycle once per dir (flock + stamp):
    the full column-mapping lifecycle on a private root, then ONE
    logical-name DELETE whose predicate spells the RENAMED column —
    hitting pre-rename files (physical o_totalprice) and post-rename
    files (physical price_usd) in the same statement."""
    import json

    stamp = json.dumps(_TLOG_CMD_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmap(spark, sf_dir, root)
        if _tlog_latest_version(root) != 6:
            # a stale/crashed delete on this root: rebuild the base
            # lifecycle from scratch (WAP discipline)
            wipe_root(root)
            _tlog_apply_cmap(spark, sf_dir, root)
        _tlog_delete(spark, root, _TLOG_CMD_PRED)

    built_once(root, "_CMD", stamp, build)


@register(
    "table_log_colmap_delete",
    # Hash oracle: the mapped table's content (base + post-rename
    # append) minus the logical delete band, recomputed from orders —
    # the per-cohort respelling must be invisible to values.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM t
        WHERE NOT (CAST(ROUND(o_totalprice * 100) AS BIGINT) % 11 = 3)
        GROUP BY 1
    """,
    tags=("S9-cmap''", "lakehouse", "column-mapping", "dml", "delete"),
)
def table_log_colmap_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap'' — DELETE WHERE under COLUMN MAPPING: the write side
    of the mapping story (S9-cmap proved reads; a mapping that breaks
    DML would be a read-only trick). The user's predicate spells the
    RENAMED column (``price_usd``); the engine filters the snapshot
    read, which respells every file cohort to the logical names — the
    same statement dooms rows in pre-rename files (physical
    ``o_totalprice``) and post-rename files (physical ``price_usd``) —
    and commits every
    sidecar binding in ONE OCC commit (statement-atomic across
    cohorts). The mechanism is merge-on-read BY DESIGN under mapping:
    sidecars reference rows by key, never column spellings, so
    deletes are immune to physical-schema divergence (why production
    formats pair column mapping with deletion vectors); not one data
    byte moves (mtime-pinned), and the DV-aware mapped read serves
    the post-delete state under the logical schema, hash-checked.

    Scale: cost = one discovery/doom pass per binding signature
    (bounded by schema-change count, not file count) + sidecar bytes;
    the alternative — rewriting files to normalize spellings before
    deleting — is the full-table I/O the mapping exists to avoid."""
    root = _tlog_cmd_root(sf_dir)
    _tlog_apply_cmd(spark, sf_dir, root)
    out = _tlog_rows(spark, root, _tlog_latest_version(root))
    return (
        out.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- OPTIMIZE under column mapping (S9-cmap''', VERDICT r15 #3) ------------

# the post-DELETE append slice (file_G): written under the HEAD
# spelling with no DV, so compaction must leave it untouched
_TLOG_CMC_PRED = "o_orderkey % 10 = 4"


def _tlog_cmc_root(sf_dir: str) -> str:
    # own root: compaction rewrites its table's files (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmc_{corpus_tag(sf_dir)}"
    )


def _tlog_colmap_compact(spark: SparkSession, root: str) -> tuple[int, list[str], list[str]]:
    """OPTIMIZE on a COLUMN-MAPPED table — the rewrite side of the
    mapping story (VERDICT r15 #3; reads and DML landed in r15, but
    without this a renamed table could never compact again: small
    files and DV debt accumulate forever on exactly the tables the
    mapping feature targets). A file group needs rewriting iff it
    carries a deletion-vector binding (the merge-on-read debt mapped
    DML defers by design) or its physical spelling differs from the
    HEAD logical schema's. The doomed groups go through ONE
    :func:`_tlog_rewrite`: read DV-applied under the head spelling,
    rewritten as key-ranged sorted groups bound to the head spelling,
    one ``dataChange: false`` commit removing every rewritten group
    (dropping their DV bindings and stale bindings on replay) — the
    rows were already logically deleted, so change-feed consumers skip
    the rewrite entirely. Groups already spelled at head with no DVs
    are NOT touched (their mtimes survive — the incremental-OPTIMIZE
    property). Returns (version, rewritten group names, kept group
    names).

    Scale: cost = one scan per doomed binding signature (bounded by
    schema-change count) + the rewrite bytes; the commit is O(groups)
    metadata. Post-compact the table is single-spelling and DV-free,
    so readers drop both the per-cohort union and the anti-join."""

    base = _tlog_latest_version(root)
    cmap = _tlog_live_colmap(root, base)
    if cmap is None:
        raise RuntimeError("mapped compaction requires an active mapping")
    head_binding = {str(f["id"]): f["name"] for f in cmap["fields"]}
    phys = _tlog_replay_map(root, base, "colphys")
    dvs = _tlog_live_dvs(root, base)
    stats_all = _tlog_live_stats(root, base)
    kept: list[str] = []
    doomed: list[str] = []
    for p in _tlog_live_files(root, base):
        g = os.path.basename(p)
        binding = _tlog_colmap_binding(phys, g)
        # compare only the LIVE fields' spellings: a dropped column's
        # stale binding alone doesn't force a rewrite (its bytes are
        # unreachable either way) — but a DV does, and compaction of a
        # differently-spelled group garbage-collects dropped columns
        live_spelling = {fid: binding.get(fid) for fid in head_binding}
        if g in dvs or live_spelling != head_binding:
            doomed.append(g)
        else:
            kept.append(g)
    if not doomed:
        return base, [], kept
    key_lo, key_hi = None, None
    key_fid = str(cmap["fields"][0]["id"])  # cluster on the lead field
    for g in doomed:
        # range split point from MANIFEST stats under each group's own
        # physical spelling — metadata, no extra job
        pkey = phys[g].get(key_fid)
        st = stats_all.get(g, {}).get(pkey) if pkey else None
        if st is not None:
            key_lo = st[0] if key_lo is None else min(key_lo, st[0])
            key_hi = st[1] if key_hi is None else max(key_hi, st[1])
    v = base + 1
    key_name = head_binding[key_fid]
    if key_lo is not None and key_lo < key_hi:
        groups = [f"file_cmc{v}_lo", f"file_cmc{v}_hi"]
        cut = F.when(
            F.col(key_name) <= F.lit((key_lo + key_hi) // 2), groups[0]
        ).otherwise(groups[1])
    else:
        groups, cut = None, f"file_cmc{v}_all"
    version = _tlog_rewrite(spark, root, doomed, cut, groups, [key_name])
    return version, doomed, kept


_TLOG_CMC_SPEC = {"impl": 1, "pred": _TLOG_CMC_PRED}


def _tlog_apply_cmc(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the mapped-OPTIMIZE lifecycle once per dir (flock + stamp):
    the full mapping + logical-DELETE lifecycle (v0-v7), then v8
    APPENDS file_G under the head spelling (no DV — the group
    compaction must NOT touch), then v9 COMPACTS: the mixed-spelling
    DV-bound cohorts (file_A/C/D physical o_totalprice; file_F
    physical price_usd) rewrite under the head spelling with their
    DVs materialized, while file_G survives byte-identical."""
    import json

    stamp = json.dumps(_TLOG_CMC_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmd(spark, sf_dir, root)
        if _tlog_latest_version(root) != 7:
            # stale/crashed state on this root: rebuild the whole
            # lifecycle from scratch (WAP discipline)
            wipe_root(root)
            _tlog_apply_cmd(spark, sf_dir, root)
        # v8: append under the HEAD spelling, post-delete (keeps its
        # delete-band rows — the delete was a statement, not a rule)
        slice_df = (
            load_table(spark, sf_dir, "orders")
            .filter(F.expr(_TLOG_CMC_PRED))
            .select("o_orderkey", F.col("o_totalprice").alias("price_usd"))
        )
        _tlog_land(
            spark, root, slice_df, None, "file_G",
            colphys={"1": "o_orderkey", "2": "price_usd"},
        )
        # v9: OPTIMIZE under the mapping
        _tlog_colmap_compact(spark, root)

    built_once(root, "_CMC", stamp, build)


@register(
    "table_log_colmap_compact",
    # Hash oracle: the head read AFTER the mapped compaction must
    # equal the pre-compact head read — base + renamed-append slice,
    # minus the logical delete band, plus the post-delete append
    # (whose band rows survive: the delete was a statement) — i.e.
    # compaction under mapping is logically a no-op, recomputed here
    # from orders directly.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        ),
        kept AS (
          SELECT * FROM t
          WHERE NOT (CAST(ROUND(o_totalprice * 100) AS BIGINT) % 11 = 3)
        ),
        u AS (
          SELECT * FROM kept
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMC_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM u GROUP BY 1
    """,
    tags=("S9-cmap'''", "lakehouse", "column-mapping", "compaction"),
)
def table_log_colmap_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap''' — OPTIMIZE under COLUMN MAPPING (VERDICT r15 #3):
    compaction on a renamed table must rewrite each stale-spelling or
    DV-bound cohort under the HEAD physical spelling, re-bind the new
    groups in ``colphys``, and materialize the deletion vectors — all
    in one commit — while cohorts already at head with no DV debt
    survive byte-identical (mtime-pinned). Lifecycle on a private
    root: mapping enable → RENAME → mixed-spelling append → DROP →
    logical-name DELETE (DVs on both spellings) → head-spelling
    append → COMPACT. The post-compact mapped read is hash-checked
    against the pre-compact logical content recomputed from orders;
    single-binding-signature, zero-DV, and new-binding pruning
    properties are pytest-pinned.

    Scale: this closes the mapped table's maintenance loop — without
    it, rename debt is permanent (every read pays the per-cohort
    union and anti-join forever). Cost is one scan per doomed binding
    signature, bounded by schema-change count, not file count; the
    untouched-cohort rule makes repeated OPTIMIZE incremental."""
    root = _tlog_cmc_root(sf_dir)
    _tlog_apply_cmc(spark, sf_dir, root)
    latest = _tlog_latest_version(root)
    out = _tlog_rows(spark, root, latest)
    return (
        out.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- UPDATE under column mapping (S9-cmap''''', r16) -----------------------

# predicate spells the RENAMED column; file_C (%4=2) provably misses
_TLOG_CMU_PRED = "price_usd > 0 AND o_orderkey % 4 IN (0, 3)"
_TLOG_CMU_BUMP = 2.5  # exact in IEEE: both engines add the same double


def _tlog_cmu_root(sf_dir: str) -> str:
    # own root: the update rewrites its table's files (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmu_{corpus_tag(sf_dir)}"
    )


_TLOG_CMU_SPEC = {"impl": 1, "pred": _TLOG_CMU_PRED, "bump": _TLOG_CMU_BUMP}
_TLOG_CMU_ASSIGN = {"price_usd": f"price_usd + {_TLOG_CMU_BUMP}"}


def _tlog_apply_cmu(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the mapped-UPDATE lifecycle once per dir (flock + stamp):
    the column-mapping lifecycle (v0-6), then ONE logical-name UPDATE
    whose predicate spells the RENAMED column — matching rows in
    pre-rename cohorts (file_A %4=0, file_D's %4=3 half) and the
    post-rename file_F, while file_C (%4=2) provably misses and is
    never rewritten."""
    import json

    stamp = json.dumps(_TLOG_CMU_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmap(spark, sf_dir, root)
        if _tlog_latest_version(root) != 6:
            wipe_root(root)
            _tlog_apply_cmap(spark, sf_dir, root)
        w = _tlog_update(spark, root, _TLOG_CMU_PRED, _TLOG_CMU_ASSIGN)
        if "file_C" not in w.untouched:
            raise RuntimeError(
                f"mapped UPDATE rewrote file_C (rewrote {w.remove}) — "
                "CoW discovery must skip groups with no matched rows"
            )

    built_once(root, "_CMU", stamp, build)


@register(
    "table_log_colmap_update",
    # Hash oracle: the mapped table's content (base + post-rename
    # append) with the bump applied to rows matching the logical
    # predicate, recomputed from orders — respell-then-update must be
    # invisible to values.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(
                 (CASE WHEN o_totalprice > 0 AND o_orderkey % 4 IN (0, 3)
                       THEN o_totalprice + {_TLOG_CMU_BUMP}
                       ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM t GROUP BY 1
    """,
    tags=("S9-cmap'''''", "lakehouse", "column-mapping", "dml", "update", "cow"),
)
def table_log_colmap_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap''''' — UPDATE SET under COLUMN MAPPING (r16 —
    completes the mapped DML story: read S9-cmap, DELETE S9-cmap'',
    OPTIMIZE S9-cmap''', UPDATE here). The logical predicate spells
    the RENAMED column; discovery filters the snapshot read (every
    cohort respelled to the head names, so pre-rename files match on
    their physical ``o_totalprice``) and finds the matched groups in
    one job; the CoW rewrite re-reads the matched groups through the
    same reader and applies the logical predicate directly — no
    predicate is ever translated, and the rewrite normalizes spelling
    opportunistically (rewrite work already paid for re-binds for
    free, the compact operator's rule). file_C contains no matched
    rows and survives unrewritten (lifecycle-asserted, live-set
    pytest); ONE OCC commit publishes new head-spelled groups with
    their ``colphys`` bindings.

    Scale: UPDATE cost stays proportional to MATCHED files exactly as
    on the unmapped table — the mapping adds one respell projection
    per binding signature and zero extra scans; every rewritten byte also pays down rename debt, so a
    write-hot mapped table converges to single-spelling without ever
    running a dedicated rewrite."""
    root = _tlog_cmu_root(sf_dir)
    _tlog_apply_cmu(spark, sf_dir, root)
    out = _tlog_rows(spark, root, _tlog_latest_version(root))
    return (
        out.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- RESTORE across a rename boundary (S9-cmap-rst, r16) -------------------


def _tlog_cmr_root(sf_dir: str) -> str:
    # own root: restore mutates its table's log (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmr_{corpus_tag(sf_dir)}"
    )


def _tlog_colmap_restore(spark: SparkSession, root: str, to_version: int) -> int:
    """RESTORE a COLUMN-MAPPED table to a historical snapshot as ONE
    metadata commit: the plain restore's minimal file diff, PLUS the
    target's ``column_mapping`` (replace-folded, so the restored head
    serves the TARGET's logical schema — a rollback across a RENAME
    boundary brings the old names back), PLUS ``colphys`` bindings
    for every re-added file (a file removed by an earlier commit
    loses its binding from the live replay; re-referencing it without
    re-binding would strand the mapped read on the bootstrap error).
    Bindings come from the immutable cross-version union — the same
    resolution the mapped change feed uses (``_tlog_bindings_ever``)."""

    head = _tlog_latest_version(root)
    target_files = {
        os.path.basename(p) for p in _tlog_live_files(root, to_version)
    }
    head_files = {os.path.basename(p) for p in _tlog_live_files(root, head)}
    dv_t, dv_h = _tlog_live_dvs(root, to_version), _tlog_live_dvs(root, head)
    st_t, st_h = _tlog_live_stats(root, to_version), _tlog_live_stats(root, head)
    add = target_files - head_files
    remove = head_files - target_files
    touch = {
        f for f in target_files & head_files
        if dv_t.get(f) != dv_h.get(f) or st_t.get(f) != st_h.get(f)
    }
    add, remove = add | touch, remove | touch
    phys = _tlog_bindings_ever(root, head)
    colphys = {f: _tlog_colmap_binding(phys, f) for f in sorted(add)}
    return _tlog_commit_rebase(
        root,
        add=sorted(add),
        remove=sorted(remove),
        base_version=head,
        read_set=add | remove,
        dv={f: dv_t[f] for f in sorted(add) if f in dv_t} or None,
        stats={f: st_t[f] for f in sorted(add) if f in st_t} or None,
        colphys=colphys or None,
        column_mapping=_tlog_live_colmap(root, to_version),
    )


_TLOG_CMR_SPEC = {"impl": 1}


def _tlog_apply_cmr(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the rename-rollback lifecycle once per dir (flock +
    stamp): the mapping lifecycle (v0-6: enable, RENAME, append
    file_F, DROP), then v7 RESTOREs to v3 (pre-rename: the OLD names
    come back, file_F leaves), then v8 RESTOREs to v6 (the rename AND
    file_F return — re-binding the re-added file)."""
    import json

    stamp = json.dumps(_TLOG_CMR_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmap(spark, sf_dir, root)
        if _tlog_latest_version(root) != 6:
            wipe_root(root)
            _tlog_apply_cmap(spark, sf_dir, root)
        _tlog_colmap_restore(spark, root, 3)   # roll back across the rename
        _tlog_colmap_restore(spark, root, 6)   # roll forward again

    built_once(root, "_CMR", stamp, build)


@register(
    "table_log_colmap_restore",
    # Hash oracle: BOTH restored states — v7 (rolled back past the
    # rename: base content under the OLD name) and v8 (rolled forward:
    # base + appended slice under the NEW name) — with the live
    # field-2 logical name observed INTO the result, so the hash pins
    # the restored schema, not just the values.
    oracle=f"""
        WITH s AS (
          SELECT 'rolled_back' AS phase, 'o_totalprice' AS price_col,
                 o_orderkey, o_totalprice
          FROM orders
          UNION ALL
          SELECT 'rolled_forward', 'price_usd', o_orderkey, o_totalprice
          FROM orders
          UNION ALL
          SELECT 'rolled_forward', 'price_usd', o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CMAP_PRED}
        )
        SELECT phase, price_col,
               CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM s GROUP BY 1, 2, 3
    """,
    tags=("S9-cmap-rst", "lakehouse", "column-mapping", "restore"),
)
def table_log_colmap_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap-rst — RESTORE ACROSS A RENAME BOUNDARY (r16, r17-queue
    (e) pulled forward): rolling a mapped table back to a pre-rename
    snapshot must bring back the OLD logical schema, not just the old
    rows — the restore commit replace-folds the target's
    ``column_mapping`` beside the file diff, and rolling FORWARD
    again re-binds the re-added post-rename file in ``colphys`` (its
    binding left the live replay when the rollback removed it; the
    cross-version binding union restores it — without this, the
    mapped read strands on the bootstrap error, the failure a plain
    file-diff restore would silently plant). Both restored heads are
    read through the mapping with the LIVE field-2 name observed into
    the result, so the driver's hash pins schema AND values through
    both rollbacks.

    Scale: both restores are pure metadata (one commit each, zero
    bytes moved — the historical files are what retention keeps);
    the binding resolution is O(versions) checkpoint-bounded
    metadata, and production formats carry it per manifest entry."""
    root = _tlog_cmr_root(sf_dir)
    _tlog_apply_cmr(spark, sf_dir, root)

    parts = []
    for phase, v in (("rolled_back", 7), ("rolled_forward", 8)):
        cmap = _tlog_live_colmap(root, v)
        price_col = {str(f["id"]): f["name"] for f in cmap["fields"]}["2"]
        out = _tlog_rows(spark, root, v)
        parts.append(
            out.groupBy(
                (F.col("o_orderkey") % 4).cast("int").alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.round(F.col(price_col) * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
            .select(
                F.lit(phase).alias("phase"),
                F.lit(price_col).alias("price_col"),
                "bucket", "n_rows", "sum_cents",
            )
        )
    return parts[0].unionByName(parts[1])


# --- MERGE INTO under column mapping (S9-cmap-mrg, r16) --------------------

_TLOG_CMM_MOD, _TLOG_CMM_RES = 9, 4  # the merge source's key band
_TLOG_CMM_UPD_BUMP = 3.25  # matched rows: price += (exact in IEEE)
_TLOG_CMM_INS_BUMP = 0.25  # inserted rows' price offset (exact)


def _tlog_cmm_root(sf_dir: str) -> str:
    # own root: the merge rewrites its table's files (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmm_{corpus_tag(sf_dir)}"
    )


_TLOG_CMM_SPEC = {
    "impl": 1, "mod": _TLOG_CMM_MOD, "res": _TLOG_CMM_RES,
    "upd": _TLOG_CMM_UPD_BUMP, "ins": _TLOG_CMM_INS_BUMP,
}


def _tlog_cmm_source(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The mapped MERGE's (updates, inserts): the key band's prices
    bumped, and the band re-keyed negative as not-matched inserts."""
    band = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % _TLOG_CMM_MOD == _TLOG_CMM_RES
    )
    return (
        band.select(
            "o_orderkey",
            (F.col("o_totalprice") + _TLOG_CMM_UPD_BUMP).alias("price_usd"),
        ),
        band.select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            (F.col("o_totalprice") + _TLOG_CMM_INS_BUMP).alias("price_usd"),
        ),
    )


def _tlog_apply_cmm(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the mapped-MERGE lifecycle once per dir (flock + stamp):
    the column-mapping lifecycle (v0-6), then ONE MERGE whose source
    carries the %{_TLOG_CMM_MOD}={_TLOG_CMM_RES} key band twice —
    positive keys as matched updates (every copy of the key in both
    spellings' cohorts takes the bump), negated keys as not-matched
    inserts (landing head-spelled)."""
    import json

    stamp = json.dumps(_TLOG_CMM_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmap(spark, sf_dir, root)
        if _tlog_latest_version(root) != 6:
            wipe_root(root)
            _tlog_apply_cmap(spark, sf_dir, root)
        _tlog_merge(spark, root, *_tlog_cmm_source(spark, sf_dir))

    built_once(root, "_CMM", stamp, build)


@register(
    "table_log_colmap_merge",
    # Hash oracle: the mapped table's content with the merge applied —
    # matched band keys bumped in BOTH spellings' copies, inserted
    # negated keys present once — recomputed from orders.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        ),
        u AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % {_TLOG_CMM_MOD} = {_TLOG_CMM_RES}
                      THEN o_totalprice + {_TLOG_CMM_UPD_BUMP}
                      ELSE o_totalprice END AS o_totalprice
          FROM t
          UNION ALL
          SELECT -o_orderkey, o_totalprice + {_TLOG_CMM_INS_BUMP}
          FROM orders WHERE o_orderkey % {_TLOG_CMM_MOD} = {_TLOG_CMM_RES}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM u GROUP BY 1
    """,
    tags=("S9-cmap-mrg", "lakehouse", "column-mapping", "dml", "merge"),
)
def table_log_colmap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap-mrg — MERGE INTO under COLUMN MAPPING (r16 — the last
    DML verb on the mapped table: read, DELETE, UPDATE, OPTIMIZE,
    CDF, replicate, and now upsert). Discovery joins the source's
    match keys under each cohort's own key spelling; matched groups
    rewrite re-spelled to the head names with the update applied
    (WHEN MATCHED: price takes the source's value — each target copy
    of a matched key updates, the SQL MERGE rule); not-matched source
    rows land in one head-spelled insert group; ONE OCC commit
    publishes rewrites + inserts with their bindings. The mapped read
    after the merge is hash-checked against orders with the band
    bumped and the negated-key inserts present.

    Scale: identical cost shape to the unmapped MERGE — discovery is
    one broadcast join per binding signature (manifest-stats pruning
    applies first on real layouts), the rewrite touches only matched
    files, and every rewritten byte pays down rename debt (the
    respell-then-apply rule shared with UPDATE and OPTIMIZE)."""
    root = _tlog_cmm_root(sf_dir)
    _tlog_apply_cmm(spark, sf_dir, root)
    out = _tlog_rows(spark, root, _tlog_latest_version(root))
    return (
        out.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- CHECK constraints under column mapping (S9-cmap-chk, r16) -------------

_TLOG_CMK_PRED = "price_usd > 0"          # the LOGICAL constraint
_TLOG_CMK_ADD_PRED = "o_orderkey % 10 = 2"  # the clean append's slice


def _tlog_cmk_root(sf_dir: str) -> str:
    # own root: ADD CONSTRAINT + appends mutate this table
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmk_{corpus_tag(sf_dir)}"
    )


def _tlog_colmap_add_constraint(
    spark: SparkSession, root: str, name: str, logical_pred: str
) -> int:
    """ADD CONSTRAINT on a COLUMN-MAPPED table: the predicate spells
    LOGICAL names, so existing-data validation reads through the
    mapping (one snapshot read per binding signature — the plain
    validator's raw multi-cohort scan would crash on the spelling a
    cohort lacks), and the LOGICAL predicate is what commits: each
    WRITER translates it to its own spelling at enforcement time."""

    base = _tlog_latest_version(root)
    snap = _tlog_rows(spark, root, base)
    bad = snap.filter(~F.coalesce(F.expr(logical_pred), F.lit(True))).count()
    if bad:
        raise RuntimeError(
            f"cannot ADD CONSTRAINT {name}: {bad} existing rows violate "
            f"({logical_pred}) — fix the data or the predicate first"
        )
    existing = _tlog_live_constraints(root, base)
    if existing.get(name) == logical_pred:
        return base  # idempotent re-add
    return _tlog_commit_rebase(
        root, add=[], remove=[], base_version=base, read_set=set(),
        constraints={name: logical_pred},
    )


def _tlog_colmap_append(
    spark: SparkSession, root: str, df: DataFrame, group: str, binding: dict
) -> int:
    """APPEND a physically-spelled frame to a mapped table through the
    constraint choke point: the table's live LOGICAL constraints
    translate into THIS WRITER's spelling (``_tlog_colmap_translate``
    over its binding) before riding the staged write — a pre-rename
    producer is held to the renamed constraint without ever learning
    the rename. One staged write, one OCC commit binding the group."""

    base = _tlog_latest_version(root)
    cmap = _tlog_live_colmap(root, base)
    if cmap is None:
        raise RuntimeError("mapped append requires an active mapping")
    translated = {
        name: _tlog_colmap_translate(pred, cmap["fields"], binding)
        for name, pred in _tlog_live_constraints(root, base).items()
    }
    promoted, stats = _tlog_staged_write_with_stats(
        df.withColumn("tgt", F.lit(group)), root, [group],
        constraints=translated,
    )
    return _tlog_commit_rebase(
        root, add=promoted, remove=[], base_version=base, read_set=set(),
        stats=stats or None, colphys={group: binding},
    )


_TLOG_CMK_SPEC = {
    "impl": 1, "check": _TLOG_CMK_PRED, "add": _TLOG_CMK_ADD_PRED,
}


def _tlog_apply_cmk(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the mapped-constraint lifecycle once per dir (flock +
    stamp): the mapping lifecycle (v0-6), then v7 ADDs a CHECK that
    spells the RENAMED column (existing data validated THROUGH the
    mapping, across both spellings' cohorts); an unsatisfiable mapped
    ADD and a violating OLD-SPELLED append are both REJECTED
    (asserted — the enforcement failure happens under the TRANSLATED
    predicate); v8 is a clean old-spelled append through the
    translating choke point."""
    import json

    stamp = json.dumps(_TLOG_CMK_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmap(spark, sf_dir, root)
        if _tlog_latest_version(root) != 6:
            wipe_root(root)
            _tlog_apply_cmap(spark, sf_dir, root)
        # an unsatisfiable mapped ADD is rejected after validating
        # THROUGH the mapping (both spellings' cohorts scanned)
        try:
            _tlog_colmap_add_constraint(spark, root, "impossible", "price_usd < 0")
            raise AssertionError("unsatisfiable mapped ADD was accepted")
        except RuntimeError as e:
            if "existing rows violate" not in str(e):
                raise
        # v7: the real CHECK, spelling the RENAMED column
        v7 = _tlog_colmap_add_constraint(spark, root, "positive", _TLOG_CMK_PRED)
        if v7 != 7:
            raise RuntimeError(f"mapped ADD CONSTRAINT landed at v{v7}")
        old_binding = {"1": "o_orderkey", "2": "o_totalprice"}
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        # a violating append under the OLD spelling must FAIL under
        # the TRANSLATED predicate, leaving the log untouched
        bad = orders.limit(25).select(
            "o_orderkey", (F.col("o_totalprice") * 0 - 5.0).alias("o_totalprice")
        )
        try:
            _tlog_colmap_append(spark, root, bad, "file_cmk_bad", old_binding)
            raise AssertionError("violating mapped append was accepted")
        except Exception as e:  # Spark wraps the raise_error
            if "positive" not in str(e):
                raise
        if _tlog_latest_version(root) != 7:
            raise RuntimeError("rejected append advanced the log")
        # v8: the clean append, still OLD-spelled, lands through the
        # same translating choke point
        _tlog_colmap_append(
            spark, root,
            orders.filter(F.expr(_TLOG_CMK_ADD_PRED)),
            "file_cmk_ok", old_binding,
        )

    built_once(root, "_CMK", stamp, build)


@register(
    "table_log_colmap_check",
    # Hash oracle: head = base + the renamed append + the clean
    # old-spelled append — nothing from the rejected candidates; the
    # constraint machinery must be invisible to surviving values.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMK_ADD_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM t GROUP BY 1
    """,
    tags=("S9-cmap-chk", "lakehouse", "column-mapping", "constraints"),
)
def table_log_colmap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap-chk — CHECK CONSTRAINTS UNDER COLUMN MAPPING (r16,
    fresh r17-queue (a) pulled forward): a constraint whose predicate
    spells a LOGICAL name composes with mapping at both ends. ADD
    validates existing data THROUGH the mapping (one read per binding
    signature — pre-rename cohorts are checked under their own
    spelling; a raw scan would crash on the missing column) and
    commits the LOGICAL predicate; every WRITER then translates it to
    its own spelling at the staged-write choke point — a pre-rename
    producer is held to the renamed constraint without ever learning
    the rename (the violating old-spelled append fails under the
    TRANSLATED predicate and leaves the log untouched; lifecycle-
    asserted and pytest-pinned). The clean old-spelled append lands
    and the head read is hash-checked.

    Scale: enforcement stays zero-extra-pass (the guard rides the
    write job); translation is driver-side string work per writer
    binding; validation is the mapped read's cohort-bounded plan.
    Without this composition, a rename would silently sever every
    constraint referencing the renamed column — the failure mode
    production formats handle by resolving constraints against field
    IDS, which is exactly what translating through the binding
    implements."""
    root = _tlog_cmk_root(sf_dir)
    _tlog_apply_cmk(spark, sf_dir, root)
    out = _tlog_rows(spark, root, _tlog_latest_version(root))
    return (
        out.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- The mapped DML chain: DELETE -> UPDATE -> MERGE (S9-cmap-chain, r16) --


def _tlog_cmx_root(sf_dir: str) -> str:
    # own root: three DML statements mutate this table (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogcmx_{corpus_tag(sf_dir)}"
    )


_TLOG_CMX_SPEC = {
    "impl": 1,
    "del": _TLOG_CMD_PRED,
    "upd": [_TLOG_CMU_PRED, _TLOG_CMU_BUMP],
    "mrg": [_TLOG_CMM_MOD, _TLOG_CMM_RES, _TLOG_CMM_UPD_BUMP, _TLOG_CMM_INS_BUMP],
}


def _tlog_apply_cmx(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Run the composed mapped-DML lifecycle once per dir (flock +
    stamp): the mapping lifecycle (v0-6), then THREE statements on
    the SAME root — v7 logical-name DELETE (merge-on-read DVs on both
    spellings), v8 UPDATE (CoW over the DV'd state: rewritten groups
    materialize their DVs, untouched groups keep theirs), v9 MERGE
    (source-driven CoW + inserts over the composed state). The order
    is the hostile one: every later statement must compose with the
    earlier statements' sidecar debt and binding churn."""
    import json

    stamp = json.dumps(_TLOG_CMX_SPEC, sort_keys=True)

    def build() -> None:
        _tlog_apply_cmap(spark, sf_dir, root)
        if _tlog_latest_version(root) != 6:
            wipe_root(root)
            _tlog_apply_cmap(spark, sf_dir, root)
        _tlog_delete(spark, root, _TLOG_CMD_PRED)
        _tlog_update(spark, root, _TLOG_CMU_PRED, _TLOG_CMU_ASSIGN)
        _tlog_merge(spark, root, *_tlog_cmm_source(spark, sf_dir))

    built_once(root, "_CMX", stamp, build)


@register(
    "table_log_colmap_dml_chain",
    # Hash oracle: the serial composition DELETE -> UPDATE -> MERGE
    # recomputed from orders. MERGE's set wins over UPDATE's bump on
    # band keys (SET assigns the source's value); the update bump
    # applies only to surviving matched rows; inserts carry negated
    # keys and never interact with the statements before them.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        ),
        kept AS (
          SELECT * FROM t
          WHERE NOT (CAST(ROUND(o_totalprice * 100) AS BIGINT) % 11 = 3)
        ),
        final AS (
          SELECT o_orderkey,
                 CASE
                   WHEN o_orderkey % {_TLOG_CMM_MOD} = {_TLOG_CMM_RES}
                     THEN o_totalprice + {_TLOG_CMM_UPD_BUMP}
                   WHEN o_totalprice > 0 AND o_orderkey % 4 IN (0, 3)
                     THEN o_totalprice + {_TLOG_CMU_BUMP}
                   ELSE o_totalprice
                 END AS o_totalprice
          FROM kept
          UNION ALL
          SELECT -o_orderkey, o_totalprice + {_TLOG_CMM_INS_BUMP}
          FROM orders WHERE o_orderkey % {_TLOG_CMM_MOD} = {_TLOG_CMM_RES}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM final GROUP BY 1
    """,
    tags=("S9-cmap-chain", "lakehouse", "column-mapping", "dml", "composition"),
)
def table_log_colmap_dml_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap-chain — STATEMENT COMPOSITION on one mapped table
    (r16, r17-queue (a) pulled forward): DELETE (merge-on-read DVs on
    both spellings) → UPDATE (CoW that must anti-join the DELETE's
    sidecars while rewriting — materializing them on rewritten
    groups, keeping them on untouched ones) → MERGE (source-driven
    CoW + inserts over the composed state, whose SET wins over the
    UPDATE's bump on band keys). Each verb is individually hash-green
    on its own root; this lifecycle pins what none of them can alone:
    the ORDER-DEPENDENT interaction of sidecar debt, rewrite-time DV
    materialization, and binding churn across three statements — the
    state a real mapped table actually lives in. The final mapped
    read is hash-checked against the serial composition recomputed
    from orders; DV accounting across the chain is pytest-pinned.

    Scale: nothing new beyond the verbs' own costs — the point is
    that NO statement pays for a predecessor beyond its sidecar
    anti-join, and compaction debt accrues per-group, not per-
    statement."""
    root = _tlog_cmx_root(sf_dir)
    _tlog_apply_cmx(spark, sf_dir, root)
    out = _tlog_rows(spark, root, _tlog_latest_version(root))
    return (
        out.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- Change feed under column mapping (S9-cmap-cdf, r16) -------------------


@register(
    "table_log_colmap_cdf",
    # Hash oracle: the mapped table's full change feed recomputed
    # from orders — post-bootstrap base file churn (v1-2), the
    # post-rename append (v5), and the UPDATE's CoW pair (v7: remove at original
    # prices, add with the bump on matched rows). Metadata-only
    # commits (enable/rename/drop) emit nothing.
    oracle=f"""
        WITH chg AS (
          SELECT 1 AS version, 'add' AS side, o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 = 2
          UNION ALL
          SELECT 2, 'add', o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (1, 3)
          UNION ALL
          SELECT 2, 'remove', o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 = 1
          UNION ALL
          SELECT 5, 'add', o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CMAP_PRED}
          UNION ALL
          SELECT 7, 'remove', o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 3)
          UNION ALL
          SELECT 7, 'remove', o_orderkey, o_totalprice
          FROM orders WHERE {_TLOG_CMAP_PRED}
          UNION ALL
          SELECT 7, 'add', o_orderkey,
                 CASE WHEN o_totalprice > 0 AND o_orderkey % 4 IN (0, 3)
                      THEN o_totalprice + {_TLOG_CMU_BUMP}
                      ELSE o_totalprice END
          FROM orders WHERE o_orderkey % 4 IN (0, 1, 3)
          UNION ALL
          SELECT 7, 'add', o_orderkey,
                 CASE WHEN o_totalprice > 0 AND o_orderkey % 4 IN (0, 3)
                      THEN o_totalprice + {_TLOG_CMU_BUMP}
                      ELSE o_totalprice END
          FROM orders WHERE {_TLOG_CMAP_PRED}
        )
        SELECT version, side,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM chg GROUP BY 1, 2
    """,
    tags=("S9-cmap-cdf", "lakehouse", "column-mapping", "cdc"),
)
def table_log_colmap_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap-cdf — the CHANGE FEED OF A MAPPED TABLE (r16): CDC and
    column mapping compose only if the feed re-spells each unit file
    through ITS OWN physical binding — one relation over every unit
    file breaks (or worse, silently mis-columns) the moment
    pre-rename and post-rename files land in the same feed. Here the
    UPDATE's CoW pair (S9-cmap''''' on this root) removes files
    spelled ``o_totalprice`` AND ``price_usd`` in one commit and adds
    head-spelled rewrites; the one feed (``_tlog_changes_fingerprint``)
    groups unit files by binding signature, re-spells each cohort to
    the field-id view and unions them under the same change-sized
    two-path plan as an unmapped table (partial aggregates +
    broadcast membership; broadcast sidecar include/exclude).
    Metadata-only commits (mapping enable, RENAME, DROP)
    emit nothing — renames are invisible to row transitions, exactly
    the property consumers need. Every (version, side) is
    hash-checked against the change sets recomputed from orders.

    Scale: one scan per binding signature per path — the feed stays
    change-proportional and bounded by schema-change count; a
    replica consuming this feed applies row transitions and never
    learns the source ever renamed anything."""
    root = _tlog_cmu_root(sf_dir)
    _tlog_apply_cmu(spark, sf_dir, root)
    return _tlog_changes_fingerprint(spark, root)


# --- Replication THROUGH the mapped feed (S9-repl'', r16) ------------------


def _tlog_rcm_root(sf_dir: str) -> str:
    # own root: the replica of the mapped table (own-root rule)
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_tlogrcm_{corpus_tag(sf_dir)}"
    )


@register(
    "stream_table_log_replicate_colmap",
    # Hash oracle: the replica's final snapshot = the mapped source's
    # head content (base + renamed append, UPDATE bump on matched
    # rows), reached purely through the change feed — the replica
    # must never see a physical spelling.
    oracle=f"""
        WITH t AS (
          SELECT o_orderkey, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE {_TLOG_CMAP_PRED}
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(
                 (CASE WHEN o_totalprice > 0 AND o_orderkey % 4 IN (0, 3)
                       THEN o_totalprice + {_TLOG_CMU_BUMP}
                       ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM t GROUP BY 1
    """,
    tags=("S9-repl''", "stream", "cdc", "column-mapping", "replication"),
)
def stream_table_log_replicate_colmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-repl'' — REPLICATION OF A COLUMN-MAPPED TABLE (r16): the
    feed source resolves each change file's PHYSICAL spelling through
    its ``colphys`` binding and emits under the feed's canonical
    schema, so the streaming replica — the same foreachBatch
    transactional apply as S9-repl' — drains a source that renamed a
    column mid-history WITHOUT EVER LEARNING IT: pre-rename files,
    post-rename files, and the UPDATE's head-spelled rewrites all
    arrive as identical row transitions. Metadata-only commits
    (mapping enable, RENAME, DROP) emit empty batches and produce no
    replica commits — the replica's log is exactly the source's
    change-bearing history (drift-checked). The replica's final
    snapshot is hash-checked against the mapped head recomputed from
    orders.

    Scale: this is the property that makes mapping deployable —
    every downstream CDC consumer (replicas, rollups, search
    indexes) survives a rename with zero redeploys because the feed
    normalizes spelling at the source boundary, once, per file
    binding (one metadata lookup per change unit)."""
    import json

    src = _tlog_cmu_root(sf_dir)
    _tlog_apply_cmu(spark, sf_dir, src)
    dst = _tlog_rcm_root(sf_dir)

    _tlog_replicate(
        spark, sf_dir, src, dst,
        extra_stamp=json.dumps(_TLOG_CMU_SPEC, sort_keys=True),
    )
    return _tlog_fingerprint(spark, dst)


# --- RENAME lands mid-stream: column mapping x streaming (S9-cmap') --------

_TLOG_SCM_PER_TRIGGER = 2


def _tlog_scm_dirs(sf_dir: str) -> tuple[str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_scmsrc_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogscm_{tag}"),
    )


_TLOG_SCM_SPEC = {"impl": 2, "per_trigger": _TLOG_SCM_PER_TRIGGER}
_TLOG_SCM_SCHEMA = "o_orderkey long, o_totalprice double"


def _tlog_apply_scm(spark: SparkSession, sf_dir: str) -> str:
    """Run the rename-mid-stream lifecycle once (flock + stamp): a
    file-source stream drains the even-keyed half of orders into a
    MAPPED table (every batch commit binds its group's physical
    names); a RENAME commit lands between micro-batches — the stream
    is not restarted, not redeployed, not even reconfigured (the
    producer still ships the OLD physical spelling; the declared
    stream schema never changes); the odd-keyed half then drains
    through the SAME checkpoint. Post-rename batches still land
    physical ``o_totalprice`` — the mapping, not a rewrite, serves
    them under ``price_usd``."""
    import json

    src, root = _tlog_scm_dirs(sf_dir)
    stamp = json.dumps(_TLOG_SCM_SPEC, sort_keys=True)

    def build() -> None:
        for d in (root, src):
            wipe_root(d)
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        data = os.path.join(src, "data")
        _tlog_zone_write(
            orders.filter(F.col("o_orderkey") % 2 == 0), data, 4, "o_orderkey"
        )
        # v0: the table is BORN MAPPED — fields get ids before any data
        _tlog_commit(
            root, add=[], remove=[], base_version=-1,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "o_totalprice"},
                ]
            },
        )

        def drain() -> None:
            # the WRITER records its physical binding per field id —
            # whatever the logical names say at commit time, the bytes
            # spell o_totalprice (the producer never heard of renames)
            _tlog_drain(
                spark.readStream.schema(_TLOG_SCM_SCHEMA)
                .option("maxFilesPerTrigger", _TLOG_SCM_PER_TRIGGER)
                .parquet(data),
                lambda batch_df, batch_id: _tlog_land(
                    spark, root, batch_df, batch_id, f"file_scmb{batch_id}",
                    colphys={"1": "o_orderkey", "2": "o_totalprice"},
                ),
                root,
            )

        drain()
        phase1_latest = _tlog_latest_version(root)
        # RENAME between micro-batches: one metadata commit, the
        # pipeline untouched
        _tlog_commit(
            root, add=[], remove=[], base_version=phase1_latest,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "price_usd"},
                ]
            },
        )
        _tlog_zone_write(
            orders.filter(F.col("o_orderkey") % 2 == 1), data, 4, "o_orderkey",
            append=True,
        )
        drain()  # same checkpoint, same declared schema, same code
        if _tlog_latest_version(root) <= phase1_latest + 1:
            raise RuntimeError("post-rename drain processed no new files")
        got = _tlog_rows(spark, root, _tlog_latest_version(root)).count()
        want = orders.count()
        if got != want:
            raise RuntimeError(
                f"rename-mid-stream ingest landed {got} rows, source has "
                f"{want} — a batch was lost, double-applied, or re-read"
            )

    built_once(root, "_SCM", stamp, build)
    return root


@register(
    "stream_ingest_column_mapping",
    # Hash oracle: the full drained table read under the RENAMED
    # logical schema = all of orders with prices under price_usd —
    # the rename and the phase split must be invisible to values.
    oracle="""
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM orders GROUP BY 1
    """,
    tags=("S9-cmap'", "stream", "lakehouse", "column-mapping", "rename"),
)
def stream_ingest_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap' — RENAME LANDS MID-STREAM (r16 queue (c) pulled into
    r15): the composition S9-cmap and S9-sev each prove half of.
    A file-source stream drains into a mapped table; a RENAME commit
    lands between micro-batches — and NOTHING about the pipeline
    changes: not the declared stream schema, not the checkpoint, not
    the producer (which keeps shipping the old physical spelling),
    not even a redeploy (S9-sev needed one for widening; a rename
    needs zero). Post-rename batch groups record the same physical
    binding their bytes carry; the mapping serves every batch — both
    phases — under the new logical name. Batch-id idempotence and
    row conservation are asserted in the lifecycle; the head read is
    hash-checked against the source.

    Scale: this is why production formats made rename METADATA — on
    a table fed by a 24/7 firehose there is no moment to stop the
    world for a rewrite, and with field-id mapping there is nothing
    to stop: the rename is one commit racing the ingest commits
    under ordinary OCC, and every reader and writer stays correct
    through it."""
    root = _tlog_apply_scm(spark, sf_dir)
    rel = _tlog_rows(spark, root, _tlog_latest_version(root))
    if "o_totalprice" in rel.columns:
        raise RuntimeError("rename did not reach the read path")
    return (
        rel.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("price_usd") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


# --- DROP COLUMN lands mid-stream (S9-cmap'''', VERDICT r15 #5) ------------

_TLOG_SDP_PER_TRIGGER = 2


def _tlog_sdp_dirs(sf_dir: str) -> tuple[str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_sdpsrc_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogsdp_{tag}"),
    )


_TLOG_SDP_SPEC = {"impl": 2, "per_trigger": _TLOG_SDP_PER_TRIGGER}
_TLOG_SDP_SCHEMA = "o_orderkey long, o_totalprice double, channel int"


def _tlog_apply_sdp(spark: SparkSession, sf_dir: str) -> str:
    """Run the drop-mid-stream lifecycle once (flock + stamp): a
    file-source stream drains the even-keyed half of orders — THREE
    columns, ``channel`` included — into a mapped table whose batch
    commits bind field ids 1/2/3; a DROP COLUMN commit (field 3
    leaves the logical schema) lands between micro-batches; the
    odd-keyed half then drains through the SAME checkpoint, the
    producer still shipping channel bytes it never stopped writing —
    but the writer resolves the LIVE mapping at commit time, so
    post-drop commits bind ONLY ids 1/2: the channel bytes land
    physically and are unreachable from birth."""
    import json

    src, root = _tlog_sdp_dirs(sf_dir)
    stamp = json.dumps(_TLOG_SDP_SPEC, sort_keys=True)

    def build() -> None:
        for d in (root, src):
            wipe_root(d)
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 3).cast("int").alias("channel"),
        )
        data = os.path.join(src, "data")
        _tlog_zone_write(
            orders.filter(F.col("o_orderkey") % 2 == 0), data, 4, "o_orderkey"
        )
        # v0: born mapped, three fields
        _tlog_commit(
            root, add=[], remove=[], base_version=-1,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "o_totalprice"},
                    {"id": 3, "name": "channel"},
                ]
            },
        )
        # the producer's physical spellings, fixed at field birth —
        # renames/drops are the TABLE's business, never the producer's
        phys_by_id = {"1": "o_orderkey", "2": "o_totalprice", "3": "channel"}

        def land(batch_df: DataFrame, batch_id: int) -> None:
            # resolve the LIVE mapping at commit time: only live field
            # ids get a binding — a dropped field's bytes still land
            # (the producer never heard of the drop) but are
            # unreachable from birth (VERDICT r15 #5)
            live = _tlog_live_colmap(root, _tlog_latest_version(root))["fields"]
            _tlog_land(
                spark, root, batch_df, batch_id, f"file_sdpb{batch_id}",
                colphys={str(f["id"]): phys_by_id[str(f["id"])] for f in live},
            )

        def drain() -> None:
            _tlog_drain(
                spark.readStream.schema(_TLOG_SDP_SCHEMA)
                .option("maxFilesPerTrigger", _TLOG_SDP_PER_TRIGGER)
                .parquet(data),
                land,
                root,
            )

        drain()
        phase1_latest = _tlog_latest_version(root)
        # DROP COLUMN between micro-batches: one metadata commit, the
        # pipeline untouched
        _tlog_commit(
            root, add=[], remove=[], base_version=phase1_latest,
            column_mapping={
                "fields": [
                    {"id": 1, "name": "o_orderkey"},
                    {"id": 2, "name": "o_totalprice"},
                ]
            },
        )
        _tlog_zone_write(
            orders.filter(F.col("o_orderkey") % 2 == 1), data, 4, "o_orderkey",
            append=True,
        )
        drain()  # same checkpoint, same declared schema, same code
        if _tlog_latest_version(root) <= phase1_latest + 1:
            raise RuntimeError("post-drop drain processed no new files")
        got = _tlog_rows(spark, root, _tlog_latest_version(root)).count()
        want = orders.count()
        if got != want:
            raise RuntimeError(
                f"drop-mid-stream ingest landed {got} rows, source has "
                f"{want} — a batch was lost, double-applied, or re-read"
            )

    built_once(root, "_SDP", stamp, build)
    return root


@register(
    "stream_ingest_colmap_drop",
    # Hash oracle: the full drained table under the post-drop logical
    # schema = all of orders, two columns — the drop and the phase
    # split must be invisible to surviving values and the dropped
    # channel must not leak into the output (schema part of the
    # driver's check).
    oracle="""
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key
        FROM orders GROUP BY 1
    """,
    tags=("S9-cmap''''", "stream", "lakehouse", "column-mapping", "drop"),
)
def stream_ingest_colmap_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9-cmap'''' — DROP COLUMN LANDS MID-STREAM (VERDICT r15 #5),
    completing the mid-stream schema lifecycle (widen: S9-sev;
    rename: S9-cmap'; drop: here). A file-source stream drains a
    3-column frame into a mapped table; a DROP commit (field 3
    leaves the logical schema) lands between micro-batches — the
    pipeline is not restarted, not reconfigured, and the PRODUCER
    keeps shipping the dropped column's bytes (a firehose can't be
    redeployed in lockstep with DDL). The WRITER resolves the live
    mapping at each commit: post-drop batch commits carry NO binding
    for field 3 (pytest-pinned), so the still-arriving channel bytes
    are unreachable from birth — metadata, not a rewrite and not a
    producer change, enforces the drop. Batch-id idempotence and row
    conservation are asserted in the lifecycle; the head read is
    hash-checked against the source with the dropped column absent
    (schema check).

    Scale: the drop is one metadata commit racing ingest commits
    under ordinary OCC; the lag window between DDL and producer
    redeploy — hours on a real firehose — costs only dead bytes in
    new files (reclaimed by the next compaction), never correctness,
    and no reader anywhere can observe the dropped field after the
    commit."""
    root = _tlog_apply_sdp(spark, sf_dir)
    rel = _tlog_rows(spark, root, _tlog_latest_version(root))
    if "channel" in rel.columns:
        raise RuntimeError("the drop did not reach the read path")
    return (
        rel.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.min("o_orderkey").cast("long").alias("min_key"),
        )
        .select("bucket", "n_rows", "sum_cents", "min_key")
    )


# --- Bucketed LAYOUT as replayed table metadata (S9-bkt, r17) --------------

# The Iceberg view of bucketing: bucket(key, N) is a PARTITION
# TRANSFORM, so the spec rides the log's existing ``partitioning``
# metadata (replace semantics via _tlog_live_partitioning) — writers
# consult it, the commit gate enforces it, readers co-locate on it.

_TLOG_BKT_N = 8


def _tlog_bkt_roots(sf_dir: str) -> tuple[str, str]:
    tag = corpus_tag(sf_dir)
    return (
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogbkto_{tag}"),
        os.path.join(tempfile.gettempdir(), f"hbdbps_tlogbktl_{tag}"),
    )


def _tlog_bucketed_commit(
    root: str, add: list[str], base_version: int,
    declared: tuple[str, int] | None,
    partitioning: dict | None = None,
    colphys: dict[str, dict] | None = None,
    column_mapping: dict | None = None,
) -> int:
    """COMMIT gate for a bucketed table — the refusal the spec entry
    exists for: a table whose live layout is bucket(key, N) accepts a
    new file group only when (a) the writer DECLARED exactly that
    spec (a stale-spec or spec-ignorant writer is refused before any
    log mutation — Iceberg's spec-id validation), and (b) every data
    file in the group physically carries a bucket tag < N (a plain
    parquet write has no tag; a wrong-N write either declares wrongly
    or tags out of range). Bootstrap commits (base -1) validate
    against the ``partitioning`` rule they are about to establish."""
    if partitioning is not None:
        live = _tlog_bucket_rule(partitioning)
    else:
        live = _tlog_bucket_spec(root, base_version)
    if live is not None:
        _tlog_bucketed_commit_validate(root, add, declared, live)
    return _tlog_commit_rebase(
        root, add=add, remove=[], base_version=base_version,
        read_set=set(), partitioning=partitioning, colphys=colphys,
        column_mapping=column_mapping,
    )


def _tlog_bucketed_serve(
    spark: SparkSession, root: str, alias: str, ddl: str
) -> DataFrame:
    """READ half: materialize the head snapshot as session-catalog
    BUCKETED tables so the engine's planner sees the layout. Spark's
    bucketed scan resolves bucket ids from FILE NAMES under a catalog
    table with bucket metadata — production table formats hand the
    same information to the planner through their manifest; this
    adapter bridges log -> catalog with one HARD LINK per live data
    file (zero bytes copied, O(files) metadata) into a per-version
    serve directory, then a CLUSTERED BY external table over it.

    One table per COHORT (:func:`_tlog_bucket_cohorts`: one physical
    binding, one written spec), declared with the key spelling and
    bucket count its files were WRITTEN under, never the head's — a
    table declared with the head's N after a spec evolution sends
    lookups and co-partitioned joins to the wrong buckets. ``ddl``
    spells the head's names; a mapped cohort is declared in its own
    physical spelling and respelled by field id (an unbound field reads
    as a NULL of its DDL type). The cohorts union: equal-N cohorts stay
    co-partitioned (zero Exchange), a bucket-COUNT mix pays one until
    :func:`_tlog_bucket_rebucket` folds it. One cohort serves from
    ``_serve_v{head}`` as ``{alias}_v{head}``; more add ``_c{i}``.

    Point lookups: an equality filter on the bucket key prunes to
    ONE bucket (``SelectedBucketsCount: 1 out of N`` — reading 1/N of
    the table), but only while the scan is actually bucketed —
    Spark's DisableUnnecessaryBucketedScan rule considers only
    distribution requirements, not pruning opportunity, so a bare
    lookup (no join/agg above it) gets its bucketed scan auto-
    disabled and the pruning forfeited. Scope
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``
    around lookup-shaped queries to keep it (pinned by
    ``test_bucketed_serve_point_lookup_prunes_buckets``).
    Snapshot immutability makes both idempotent and race-safe: a
    serve dir is built under a temp name and renamed in (first
    builder wins), and the catalog entries are version-keyed."""
    import glob
    import re
    import shutil

    head = _tlog_latest_version(root)
    snap, cohorts = _tlog_bucket_cohorts(root, head)
    spec = _tlog_bucket_rule(snap["partitioning"])
    if spec is None:
        raise RuntimeError(f"table at {root} has no bucket layout to serve")
    cmap = snap["column_mapping"]
    head_binding = None
    if cmap:
        fid = {f["name"]: str(f["id"]) for f in cmap["fields"]}
        head_binding = {i: name for name, i in fid.items()}
        cols = [c.strip().split(None, 1) for c in ddl.split(",")]
    # drop SUPERSEDED serve dirs: their hard links would otherwise
    # keep group bytes alive past a vacuum (link count > 1 defeats
    # byte reclamation) — the serve bridge must never extend a
    # file's lifetime beyond the log's own retention decisions
    for entry in os.listdir(root):
        m = re.fullmatch(r"_serve_v(\d+)(?:_\w+)?", entry)
        if m and int(m.group(1)) < head:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    parts = []
    # an empty snapshot serves as one empty cohort under the head layout
    for i, (binding, (key, n), paths) in enumerate(
        cohorts or [(head_binding, spec, [])]
    ):
        suffix = f"_c{i}" if len(cohorts) > 1 else ""
        serve = os.path.join(root, f"_serve_v{head}{suffix}")
        if not os.path.isdir(serve):
            tmp = f"{serve}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for p in paths:
                for f in sorted(glob.glob(os.path.join(p, "*.parquet"))):
                    os.link(f, os.path.join(tmp, os.path.basename(f)))
            try:
                os.rename(tmp, serve)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # another builder won
        decl = ddl
        if cmap:  # (logical name, type, this cohort's physical name)
            phys = [(name, typ, binding.get(fid[name])) for name, typ in cols]
            decl = ", ".join(f"{pn} {typ}" for _n, typ, pn in phys if pn)
        tname = f"{alias}_v{head}{suffix}"
        if not spark.catalog.tableExists(tname):
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {tname} ({decl}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n} BUCKETS "
                f"LOCATION '{serve}'"
            )
        part = spark.table(tname)
        if cmap:
            part = part.select(*(
                F.col(pn).alias(name) if pn else F.lit(None).cast(typ).alias(name)
                for name, typ, pn in phys
            ))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_TLOG_BKT_SPEC = {"impl": 1, "n": _TLOG_BKT_N, "split_mod": 5}


def _tlog_apply_bkt(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build the two same-bucketed LOG tables once per corpus (flock +
    stamp each): an orders projection bucketed on o_orderkey and a
    lineitem projection bucketed on l_orderkey, both bucket(key, 8).
    Each table: v0 establishes the spec AND lands the first routed
    group (the %5 != 0 slice); v1 is an APPEND whose writer CONSULTS
    the live spec (reads bucket(key, N) from the log, not from
    convention) — the mixed-commit state that proves co-location
    survives appends."""
    import json

    o_root, l_root = _tlog_bkt_roots(sf_dir)
    jobs = [
        (o_root, "orders", "o_orderkey",
         ["o_orderkey", "o_orderpriority"]),
        (l_root, "lineitem", "l_orderkey",
         ["l_orderkey", "l_extendedprice", "l_discount"]),
    ]
    stamp = json.dumps(_TLOG_BKT_SPEC, sort_keys=True)
    for root, src, key, cols in jobs:

        def build() -> None:
            os.makedirs(os.path.join(root, "_log"), exist_ok=True)
            if _tlog_latest_version_safe(root) >= 0:
                # commits without a matching stamp: stale partial
                # lifecycle — wipe and rebuild
                wipe_root(root)
                os.makedirs(os.path.join(root, "_log"), exist_ok=True)
            df = load_table(spark, sf_dir, src).select(*cols)
            spec = (key, _TLOG_BKT_N)
            rule = {"spec_id": 0, "rule": f"bucket({key}, {_TLOG_BKT_N})"}
            mod = _TLOG_BKT_SPEC["split_mod"]
            _tlog_bucketed_stage(
                spark, df.filter(F.col(key) % mod != 0), root,
                "file_bkt0", spec,
            )
            _tlog_bucketed_commit(
                root, ["file_bkt0"], -1, spec, partitioning=rule,
            )
            # the APPEND lands under the LIVE spec, read from the log
            _tlog_land(spark, root, df.filter(F.col(key) % mod == 0), None, "file_bkt1")

        built_once(root, "_BKT", stamp, build)
    return o_root, l_root


@register(
    "table_log_bucketed_join",
    # Oracle: the PLAIN join+aggregate over the raw tables — the
    # bucketed layout, the two-commit lifecycle, the hard-link serve
    # bridge, and the exchange-free plan must all be invisible to
    # values (exact-integer revenue per house rule).
    oracle="""
        SELECT l.l_orderkey AS orderkey,
               o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """,
    tags=("S9-bkt", "lakehouse", "bucketing", "layout", "colocated-join", "J1"),
)
def table_log_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED LAYOUT AS TABLE-LOG METADATA (VERDICT r16 #3 — the
    SURVEY §7 r17 queue's one carried item, completing
    ``join_bucketed_colocated``'s Spark-side half with the format
    half): bucket(key, 8) lives in the log's replayed partitioning
    spec; every writer consults it and hash-routes rows into
    bucket-tagged files inside its file group; the commit gate
    REFUSES a group whose writer declared a different spec or whose
    files carry no conforming bucket tags (pytest-pinned); and two
    same-bucketed LOG tables join + aggregate on the bucketed key
    with ZERO Exchange nodes (plan-pinned) — the shuffle is paid once
    at write time and amortized over every subsequent join, carried
    through the table format instead of the session catalog.

    Scale: at 100 TB this is the repeatedly-joined fact-pair answer —
    co-location survives appends (v1 routes under the same spec), the
    serve bridge is one hard link per live file (zero bytes), and the
    join reads stream bucket-aligned with no network phase. The merge
    hint forces SortMergeJoin so the plan proves the co-location
    (broadcast at test scale would hide it)."""
    tag = corpus_tag(sf_dir)
    o_root, l_root = _tlog_apply_bkt(spark, sf_dir)
    o = _tlog_bucketed_serve(
        spark, o_root, f"hbdbps_bkto_{tag}",
        "o_orderkey BIGINT, o_orderpriority STRING",
    )
    li = _tlog_bucketed_serve(
        spark, l_root, f"hbdbps_bktl_{tag}",
        "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
    )
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy(
            li.l_orderkey.alias("orderkey"),
            o.o_orderpriority.alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


# --- Bucket SPEC EVOLUTION + layout compaction (r18 queue (a), -------------
# machinery pre-built in r17; the registry entry lands with the r18
# window). Evolution is a partitioning REPLACE (Iceberg spec
# evolution): pre-evolution groups keep the layout they were written
# under, the commit gate holds NEW writers to the NEW spec, mixed
# snapshots serve per-cohort (the co-located join degrades to one
# Exchange on the evolved side), and a dataChange:false layout
# compaction restores single-spec zero-Exchange plans.


def _tlog_bucket_group_specs(
    root: str, version: int
) -> dict[str, tuple[str, int] | None]:
    """The bucket layout each LIVE group was WRITTEN under: replay
    commits 0..version tracking the live partitioning rule; a commit
    that both replaces the spec and adds groups (the bootstrap shape)
    binds its adds to the NEW spec. This is Iceberg's per-data-file
    spec_id, derived from commit order instead of stored per file —
    equivalent here because spec changes are themselves commits."""
    import json

    logd = os.path.join(root, "_log")
    cur: tuple[str, int] | None = None
    specs: dict[str, tuple[str, int] | None] = {}
    for v in range(version + 1):
        c = json.load(open(os.path.join(logd, f"{v:06d}.json")))
        if c.get("partitioning"):
            cur = _tlog_bucket_rule(c["partitioning"])
        for f in c["remove"]:
            specs.pop(f, None)
        for f in c["add"]:
            specs[f] = cur
    return specs


def _tlog_bucket_cohorts(
    root: str, version: int
) -> tuple[dict, list[tuple[dict | None, tuple[str, int], list[str]]]]:
    """The snapshot at ``version`` and its live groups split into
    COHORTS by (physical binding, written spec): :func:`_tlog_cohorts`
    splits by binding (one cohort, binding None, on an unmapped table)
    and :func:`_tlog_bucket_group_specs` by the spec each group was
    written under. Sorted by binding, then spec; a live group with no
    written bucket spec raises — a bucketed reader cannot place it."""
    snap = _tlog_snapshot(root, version)
    specs = _tlog_bucket_group_specs(root, version)
    live = _tlog_unvacuumed(root, version, snap["live"])
    phys = snap["colphys"] if snap["column_mapping"] else None
    out = []
    for binding, paths in _tlog_cohorts(live, phys):
        by_spec: dict[tuple[str, int], list[str]] = {}
        for p in paths:
            written = specs.get(os.path.basename(p))
            if written is None:
                raise RuntimeError(
                    f"group {os.path.basename(p)} at {root} has no bucket "
                    "layout — a bucketed reader cannot place it"
                )
            by_spec.setdefault(written, []).append(p)
        out += [(binding, w, ps) for w, ps in sorted(by_spec.items())]
    return snap, out


def _tlog_bucket_evolve(root: str, key: str, n_new: int) -> int:
    """EVOLVE the bucket spec: one metadata-only commit replacing the
    partitioning rule with bucket(key, n_new). Zero files move —
    existing groups keep their written layout (readable forever, the
    spec-evolution contract); only writers feel the change, at the
    commit gate. Spec ids only grow (this is the one writer that
    raises one), so the live rule's id is the table's largest."""
    base = _tlog_latest_version(root)
    live = _tlog_live_partitioning(root, base)
    spec_id = int(live.get("spec_id", 0)) if _tlog_bucket_rule(live) else 0
    return _tlog_commit_rebase(
        root, add=[], remove=[], base_version=base, read_set=set(),
        data_change=False,
        partitioning={"spec_id": spec_id + 1, "rule": f"bucket({key}, {n_new})"},
    )


def _tlog_bucket_rebucket(spark: SparkSession, root: str) -> int:
    """LAYOUT COMPACTION: fold every group whose cohort (binding and
    written spec, :func:`_tlog_bucket_cohorts`) differs from the
    head's into ONE head-spelled, head-spec group through
    :func:`_tlog_rewrite` (DVs applied, dataChange:false — the OPTIMIZE
    discipline). It restores single-spec serves and their zero-Exchange
    plans after a spec evolution, and leaves one binding signature
    after a key rename. The group is ``file_rsp{v}`` on a mapped table,
    ``file_rbk{v}`` otherwise; no stale group -> no commit."""
    head = _tlog_latest_version(root)
    snap, cohorts = _tlog_bucket_cohorts(root, head)
    spec = _tlog_bucket_rule(snap["partitioning"])
    if spec is None:
        raise RuntimeError(f"table at {root} has no bucket layout")
    cmap = snap["column_mapping"]
    want = ({str(f["id"]): f["name"] for f in cmap["fields"]} if cmap else None, spec)
    stale = sorted(
        os.path.basename(p)
        for binding, written, paths in cohorts
        if (binding, written) != want
        for p in paths
    )
    if not stale:
        return head
    group = f"file_{'rsp' if cmap else 'rbk'}{head + 1}"
    return _tlog_rewrite(spark, root, stale, group)


# --- Streaming ingest INTO a bucketed table (r18 queue (c), ----------------
# machinery pre-built in r17; the registry entry lands with the r18
# window). Each micro-batch WRITER CONSULTS THE LIVE SPEC at landing
# time — so a bucket-spec evolution between batches re-routes the
# very next batch with zero disruption — and publishes through the
# bucket gate with batch-id idempotence (the stream_table_log_ingest
# exactly-once contract, carried through the layout gate).

_TLOG_BKTIN_ROWS = 600
_TLOG_BKTIN_BATCH = 100
_TLOG_BKTIN_EVOLVE_AT = 3  # batch id that triggers mid-stream evolution
_TLOG_BKTIN_SPEC = {
    "impl": 1,
    "rows": _TLOG_BKTIN_ROWS,
    "batch": _TLOG_BKTIN_BATCH,
    "evolve_at": _TLOG_BKTIN_EVOLVE_AT,
    "source": "zone",  # the checkpoint's source (_tlog_synthetic_stream)
}


def _tlog_apply_bkt_ingest(spark: SparkSession, root: str) -> None:
    """Drain the bounded synthetic stream into a BUCKETED log table
    (flock + stamp): v0 establishes bucket(event_id, 8) as pure
    metadata; each micro-batch reads the LIVE spec from the log,
    hash-routes its rows through the bucketed stage, validates at
    the gate, and commits with its batch id (re-delivered batches
    write nothing). Batch {evolve_at} first EVOLVES the spec to
    bucket(event_id, 16) — so the drain itself proves writers track
    the spec per batch, not per query: pre-evolution batch groups
    carry 8-way tags, post-evolution groups 16-way, and the mixed
    snapshot reads whole."""
    import json

    stamp = json.dumps(_TLOG_BKTIN_SPEC, sort_keys=True)

    def build() -> None:
        if _tlog_latest_version_safe(root) < 0:
            # v0: the spec entry alone — metadata bootstrap
            _tlog_commit(
                root, add=[], remove=[], base_version=-1,
                data_change=False,
                partitioning={"spec_id": 0, "rule": "bucket(event_id, 8)"},
            )

        def land(batch_df: DataFrame, batch_id: int) -> None:
            # idempotent: a re-delivered batch finds the spec evolved
            if batch_id == _TLOG_BKTIN_EVOLVE_AT and _tlog_bucket_spec(
                root, _tlog_latest_version(root)
            ) == ("event_id", 8):
                _tlog_bucket_evolve(root, "event_id", 16)
            _tlog_land(
                spark, root, batch_df.select("event_id", "bucket", "value"),
                batch_id, f"file_bktin_b{batch_id}",
            )

        _tlog_drain(
            _tlog_synthetic_stream(spark, _TLOG_BKTIN_ROWS, _TLOG_BKTIN_BATCH),
            land,
            root,
        )
        n_commits = _tlog_latest_version(root) + 1
        want = 1 + _TLOG_BKTIN_ROWS // _TLOG_BKTIN_BATCH + 1  # boot+batches+evolve
        if n_commits != want:
            raise RuntimeError(
                f"bucketed ingest drained {n_commits} commits, expected "
                f"{want} — a batch was lost, double-applied, or the "
                "mid-stream evolution did not land"
            )

    _tlog_drain_once(root, "_BKTIN", stamp, "_BKTIN_SPEC", build)


# --- Bucket key RENAME under COLUMN MAPPING (r19 queue candidate ----------
# (b), machinery pre-built in r17 surplus; unregistered). The
# partitioning rule spells the bucket key LOGICALLY; a rename of that
# column therefore commits the column_mapping update and the rule
# re-spelling in ONE atomic commit — same spec_id, because a rename
# is a re-spelling of the same source field, not spec evolution
# (Iceberg binds specs by field id; the rule's display name follows
# the rename). Zero rows move: murmur3 routing is value-based, so
# every pre-rename file keeps serving its buckets. The serve declares
# each (binding, written spec) cohort CLUSTERED BY its OWN physical
# spelling and aliases physical -> logical by field id — Spark's
# alias-aware output partitioning carries the bucketed distribution
# through the rename projection, so zero-Exchange plans hold ON THE
# NEW NAME over the OLD bytes (probed and pinned) — and stronger: a
# MIXED-spelling snapshot stays exchange-free too, because murmur3
# routing is value-based and Spark unions same-N bucketed scans
# co-partitioned (verified against overlapping keys across cohorts:
# no duplicate groups in the final AQE plan, no Exchange). The
# spelling axis is free where the bucket-COUNT axis (spec evolution)
# degrades; the layout compaction (dataChange:false) still folds
# rename debt — one binding signature for future schema ops — not to
# restore a plan.


def _tlog_bucket_key_rename(root: str, new_name: str) -> int:
    """Rename the bucket key column: ONE metadata commit carrying the
    mapping update AND the partitioning re-spelling (atomic by
    construction — both live in the same commit JSON) under the live
    rule's spec id. Requires an active column mapping (a spelling
    without field ids under it cannot be renamed safely)."""
    base = _tlog_latest_version(root)
    live = _tlog_live_partitioning(root, base)
    spec = _tlog_bucket_rule(live)
    if spec is None:
        raise RuntimeError(f"table at {root} has no bucket layout")
    cmap = _tlog_live_colmap(root, base)
    if cmap is None:
        raise RuntimeError(
            f"table at {root} has no column mapping — enable mapping "
            "before renaming the bucket key"
        )
    key, n = spec
    fields = [dict(f) for f in cmap["fields"]]
    fld = next((f for f in fields if f["name"] == key), None)
    if fld is None:
        raise RuntimeError(
            f"bucket key {key} is not a mapped field at {root}"
        )
    fld["name"] = new_name
    return _tlog_commit_rebase(
        root, add=[], remove=[], base_version=base, read_set=set(),
        data_change=False,
        column_mapping={"fields": fields},
        partitioning={
            "spec_id": int(live.get("spec_id", 0)),
            "rule": f"bucket({new_name}, {n})",
        },
    )


# --- Streaming ingest into a MAPPED bucketed table with a ------------------
# MID-STREAM KEY RENAME (r19 pre-build; unregistered): the fourth
# axis. Each micro-batch consults BOTH live contracts at landing time
# — the bucket spec for routing and the column mapping for spelling —
# and commits its group with the head binding; batch {rename_at}
# first renames the bucket key (the atomic mapping+rule commit), so
# the drain itself proves writers track the spelling per batch:
# pre-rename groups bind event_id, post-rename groups evt_id, and
# the mixed snapshot reads whole (and, same-N, still exchange-free).

_TLOG_BKCMS_ROWS = 500
_TLOG_BKCMS_BATCH = 100
_TLOG_BKCMS_RENAME_AT = 3  # batch id that triggers the mid-stream rename
_TLOG_BKCMS_SPEC = {
    "impl": 1,
    "rows": _TLOG_BKCMS_ROWS,
    "batch": _TLOG_BKCMS_BATCH,
    "rename_at": _TLOG_BKCMS_RENAME_AT,
    "source": "zone",  # the checkpoint's source (_tlog_synthetic_stream)
}


def _tlog_apply_bktcm_ingest(spark: SparkSession, root: str) -> None:
    """Drain the bounded synthetic stream into a MAPPED bucketed log
    table (flock + stamp): v0 establishes bucket(event_id, 8) AND the
    column mapping as pure metadata; each batch reads the LIVE spec
    and the LIVE mapping, spells its columns by field id, routes
    through the bucketed stage, and commits group + binding with its
    batch id (re-delivered batches write nothing). Batch {rename_at}
    first RENAMES event_id -> evt_id — one atomic metadata commit —
    so pre-rename groups bind the old spelling and post-rename groups
    the new, the per-batch spelling-tracking proof."""
    import json

    stamp = json.dumps(_TLOG_BKCMS_SPEC, sort_keys=True)

    def build() -> None:
        if _tlog_latest_version_safe(root) < 0:
            # v0: bucket spec + column mapping — metadata bootstrap
            _tlog_commit(
                root, add=[], remove=[], base_version=-1,
                data_change=False,
                partitioning={"spec_id": 0, "rule": "bucket(event_id, 8)"},
                column_mapping={
                    "fields": [
                        {"id": 1, "name": "event_id"},
                        {"id": 2, "name": "bucket"},
                        {"id": 3, "name": "value"},
                    ]
                },
            )

        def land(batch_df: DataFrame, batch_id: int) -> None:
            # idempotent: a re-delivered batch finds the key renamed
            if batch_id == _TLOG_BKCMS_RENAME_AT and _tlog_bucket_spec(
                root, _tlog_latest_version(root)
            ) == ("event_id", 8):
                _tlog_bucket_key_rename(root, "evt_id")
            # the writer speaks the LIVE logical schema: source
            # columns map positionally onto field ids 1/2/3
            fields = _tlog_live_colmap(root, _tlog_latest_version(root))["fields"]
            _tlog_land(
                spark, root,
                batch_df.select(
                    *(
                        F.col(src).alias(f["name"])
                        for src, f in zip(("event_id", "bucket", "value"), fields)
                    )
                ),
                batch_id, f"file_bkcms_b{batch_id}",
                colphys={str(f["id"]): f["name"] for f in fields},
            )

        _tlog_drain(
            _tlog_synthetic_stream(spark, _TLOG_BKCMS_ROWS, _TLOG_BKCMS_BATCH),
            land,
            root,
        )
        n_commits = _tlog_latest_version(root) + 1
        want = 1 + _TLOG_BKCMS_ROWS // _TLOG_BKCMS_BATCH + 1  # boot+batches+rename
        if n_commits != want:
            raise RuntimeError(
                f"mapped bucketed ingest drained {n_commits} commits, "
                f"expected {want} — a batch was lost, double-applied, or "
                "the mid-stream rename did not land"
            )

    _tlog_drain_once(root, "_BKCMS", stamp, "_BKCMS_SPEC", build)


interpolate_docstrings(globals())
