"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource`` API).

The reference system's extensible-input surface is the InputFormat:
users plug arbitrary record readers into the scan layer (SURVEY.md
§2.1). Spark 4's Python Data Source API is that surface on this
engine: a pure-Python ``DataSource`` declares its schema and a
partitioned ``DataSourceReader``, and the scan parallelizes like any
built-in source — each ``InputPartition`` becomes one task, rows
arrive Arrow-batched, and downstream Catalyst treats it as a normal
relation (filters/projections compose on top).

At 100 TB this is how a proprietary feed (REST cursor pages, an
internal message queue, a bespoke binary format) joins the lakehouse
without a JVM connector: partition the keyspace in ``partitions()``,
read one shard per task in ``read()``.

The demo source generates a deterministic synthetic event table —
every cell a closed-form function of ``event_id`` — so the whole
custom-source path (registration → partition planning → per-task
reads → Arrow transfer) is hash-checkable against a DuckDB
``generate_series`` oracle, not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

_DEFAULT_ROWS = 10_000
_DEFAULT_PARTITIONS = 8
SYNTHETIC_EVENTS_SCHEMA = "event_id BIGINT, bucket INT, value DOUBLE"


def synthetic_event(event_id: int) -> tuple[int, int, float]:
    """The synthetic event table's closed form: every cell a function of
    ``event_id``. The batch source, the stream source and the table-log
    landing zone all emit rows through it."""
    import math

    return (event_id, event_id % 10, round(math.sqrt(event_id + 1.0), 6))


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events").option("rows", N)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SYNTHETIC_EVENTS_SCHEMA

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("rows", _DEFAULT_ROWS))
        self.num_parts = int(options.get("partitions", _DEFAULT_PARTITIONS))

    def partitions(self):
        # Round-robin keyspace split: partition i owns ids {i, i+P, ...}.
        # Each becomes one Spark task — this list is the custom source's
        # split planning, the InputFormat.getSplits() equivalent.
        return [InputPartition(i) for i in range(self.num_parts)]

    def read(self, partition):
        i = partition.value
        for eid in range(i, self.n, self.num_parts):
            # closed-form cells: deterministic, partition-independent
            yield synthetic_event(eid)


def register_synthetic_source(spark: SparkSession) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(SyntheticEventsDataSource)


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Bounded deterministic micro-batch stream: offset = next row id;
    each ``read`` emits up to ``batch`` rows until ``rows`` are out.
    ``readBetweenOffsets`` replays any committed range exactly —
    that determinism is what gives the source exactly-once semantics
    under checkpoint replay (same contract a Kafka offset range
    gives a JVM source)."""

    def __init__(self, options):
        self.n = int(options.get("rows", _DEFAULT_ROWS))
        self.batch = int(options.get("batch", 1000))

    def initialOffset(self):
        return {"next": 0}

    def _rows(self, start: int, end: int):
        return [synthetic_event(i) for i in range(start, end)]

    def read(self, start):
        lo = start["next"]
        hi = min(lo + self.batch, self.n)
        return iter(self._rows(lo, hi)), {"next": hi}

    def readBetweenOffsets(self, start, end):
        return iter(self._rows(start["next"], end["next"]))


class SyntheticEventsStreamSource(DataSource):
    """``spark.readStream.format("synthetic_events_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream"

    def schema(self) -> str:
        return SYNTHETIC_EVENTS_SCHEMA

    def simpleStreamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def register_synthetic_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(SyntheticEventsStreamSource)


class JsonlWriterCommit(WriterCommitMessage):
    """One per task: the temp file the task wrote and its row count."""

    def __init__(self, tmp_path: str, n_rows: int):
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class JsonlDataSourceWriter(DataSourceWriter):
    """Task-side half of the OutputFormat-style commit protocol: each
    task writes a private temp file (never visible to readers), and
    only the driver-side ``commit`` — which runs once, after ALL
    tasks succeeded — atomically renames the temp files into the
    output directory and drops a ``_SUCCESS`` marker. A failed or
    speculative duplicate task leaves at most an orphan temp file
    that ``abort`` removes; readers keyed on ``_SUCCESS`` never see a
    partial write. This is exactly the contract FileOutputCommitter
    gives JVM sinks."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_sink requires .option('path', ...)")

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return JsonlWriterCommit(tmp, n)

    def commit(self, messages):
        import os

        for i, m in enumerate(messages):
            final = os.path.join(self.path, f"part-{i:05d}.jsonl")
            os.replace(m.tmp_path, final)
        open(os.path.join(self.path, "_SUCCESS"), "w").close()

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", dir).save()``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> "JsonlDataSourceWriter":
        return JsonlDataSourceWriter(self.options)


def register_jsonl_sink(spark: SparkSession) -> None:
    spark.dataSource.register(JsonlSinkDataSource)



_FEED_COLMAP_CACHE: dict[tuple[str, int], tuple[list, dict]] = {}


def _tlog_feed_colmap(root: str) -> tuple[list, dict]:
    """Merged cross-version ``colphys`` bindings plus the column-
    mapping enable/disable transition list, built ONCE per (root,
    latest commit) and memoized: the previous per-unit-file reverse
    scan paid O(commits × unit files) directory/JSON reads per
    micro-batch, multiplied across tables by the catalog feed
    (ADVICE r16 #3). Bindings are immutable per file, so an
    ascending ``update()`` fold computes the same newest-wins union
    the reverse scan did; unlike the live replay, removed files KEEP
    their binding — change feeds span history. Returns
    ``(transitions, merged)`` where transitions is
    ``[(version, active_bool), ...]`` ascending. Executor-safe:
    os/json/re only; the memo is a plain process-local dict that
    simply repopulates wherever it runs (keyed by latest version, so
    new commits invalidate it for free)."""
    import json
    import os
    import re

    logd = os.path.join(root, "_log")
    try:
        names = sorted(
            f for f in os.listdir(logd) if re.fullmatch(r"\d{6}\.json", f)
        )
    except OSError:
        names = []
    latest = int(names[-1][:6]) if names else -1
    key = (root, latest)
    hit = _FEED_COLMAP_CACHE.get(key)
    if hit is not None:
        return hit
    merged: dict = {}
    transitions: list = []
    for n in names:
        try:
            c = json.load(open(os.path.join(logd, n)))
        except (OSError, ValueError):
            continue
        merged.update(c.get("colphys") or {})
        if "column_mapping" in c:
            transitions.append((int(n[:6]), c["column_mapping"] is not None))
    out = (transitions, merged)
    if len(_FEED_COLMAP_CACHE) > 64:
        _FEED_COLMAP_CACHE.clear()
    _FEED_COLMAP_CACHE[key] = out
    return out


def _tlog_feed_columns(root: str, fname: str, version: int) -> tuple[str, str]:
    """The PHYSICAL (key, price) column names of one change-unit
    file: field ids 1/2 resolved through the log's ``colphys``
    bindings (a COLUMN-MAPPED table spells fields per cohort — a
    feed that hardcoded canonical names would error on, or worse
    silently mis-column, post-rename files). Resolution goes through
    the memoized cross-version union (``_tlog_feed_colmap``). An
    unbound file on an UNMAPPED-at-``version`` table (including
    pre-enable history of a later-mapped table) uses the canonical
    spelling; an unbound file while mapping is active at ``version``
    is the bootstrap violation the batch readers refuse
    (``_tlog_colmap_binding``) — fail loud with the same descriptive
    error instead of guessing a spelling that would surface as a
    pyarrow missing-column error or a silent mis-column
    (ADVICE r16 #2)."""
    transitions, merged = _tlog_feed_colmap(root)
    b = merged.get(fname)
    if b and "1" in b and "2" in b:
        return b["1"], b["2"]
    active = False
    for tv, flag in transitions:
        if tv > version:
            break
        active = flag
    if active:
        raise RuntimeError(
            f"column mapping is active at version {version} but change-unit "
            f"file {fname} has no physical binding — the mapping bootstrap "
            "must bind every live group; the feed refuses to fall back to "
            "the canonical spelling (silent mis-column risk)"
        )
    return "o_orderkey", "o_totalprice"


class TableLogFeedStreamReader(SimpleDataSourceStreamReader):
    """CHANGE-DATA-FEED stream reader over the commit-log table format
    (S9''' — the readStream twin of
    ``operators.scans.table_log_incremental_read``): offsets are
    COMMIT VERSIONS. ``initialOffset`` is version 1 (commit 0
    bootstraps the table — a CDC consumer has no prior state to
    delta against), each micro-batch emits exactly one commit's
    change rows tagged ``side = 'add' | 'remove'`` (deletes are
    first-class, as in any lakehouse change feed), and
    ``readBetweenOffsets`` replays any committed version range
    bit-identically — the log and its data files are immutable, so
    replay determinism (hence checkpoint exactly-once) is free.

    This SIMPLE reader reads change files driver-side with pyarrow —
    right-sized for change sets, which are change-sized, not
    table-sized. The scale path is the partitioned
    ``DataSourceStreamReader``: map each (commit, file) to an
    ``InputPartition`` so change files are read executor-side in
    parallel; offsets and semantics are unchanged."""

    def __init__(self, options):
        self.root = options.get("root")
        if not self.root:
            raise ValueError("table_log_feed requires .option('root', <table dir>)")

    def _latest(self) -> int:
        import os
        import re

        logd = os.path.join(self.root, "_log")
        return max(
            (
                int(m.group(1))
                for f in os.listdir(logd)
                if (m := re.fullmatch(r"(\d{6})\.json", f))
            ),
            default=-1,
        )

    def _commit_rows(self, v: int):
        import glob
        import os

        import pyarrow.parquet as pq

        # DV-complete change contract (VERDICT r13 item 1): commits
        # are expanded to live-row transitions by the shared unit
        # helper, so a DV-only commit emits its newly doomed keys as
        # remove rows and a removed file's already-doomed rows are
        # not re-removed
        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_change_units,
        )

        def sidecar_keys(name):
            if not name:
                return None
            ks: set = set()
            for part in sorted(
                glob.glob(os.path.join(self.root, name, "*.parquet"))
            ):
                ks.update(
                    pq.read_table(part, columns=["o_orderkey"])
                    .column("o_orderkey")
                    .to_pylist()
                )
            return ks

        rows = []  # materialized: the simple-reader prefetch cache pickles
        for side, fname, incl, excl in _tlog_change_units(self.root, v):
            incl_keys = sidecar_keys(incl)
            excl_keys = sidecar_keys(excl) or set()
            # column-mapping aware: read each file under ITS physical
            # spelling, emit under the feed's canonical schema
            key_col, price_col = _tlog_feed_columns(self.root, fname, v)
            for part in sorted(
                glob.glob(os.path.join(self.root, fname, "*.parquet"))
            ):
                t = pq.read_table(part, columns=[key_col, price_col])
                rows.extend(
                    (v, side, k, p)
                    for k, p in zip(
                        t.column(key_col).to_pylist(),
                        t.column(price_col).to_pylist(),
                    )
                    if (incl_keys is None or k in incl_keys)
                    and k not in excl_keys
                )
        return rows

    def initialOffset(self):
        return {"next": 1}

    def read(self, start):
        v = start["next"]
        if v > self._latest():
            return iter([]), start
        return iter(self._commit_rows(v)), {"next": v + 1}

    def readBetweenOffsets(self, start, end):
        return iter(
            [
                row
                for v in range(start["next"], end["next"])
                for row in self._commit_rows(v)
            ]
        )


class TableLogFeedStreamSource(DataSource):
    """``spark.readStream.format("table_log_feed").option("root", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "table_log_feed"

    def schema(self) -> str:
        return "version INT, side STRING, o_orderkey BIGINT, o_totalprice DOUBLE"

    def simpleStreamReader(self, schema) -> "TableLogFeedStreamReader":
        return TableLogFeedStreamReader(self.options)


def register_table_log_feed_source(spark: SparkSession) -> None:
    spark.dataSource.register(TableLogFeedStreamSource)


class CatalogFeedStreamReader(SimpleDataSourceStreamReader):
    """CONSISTENT MULTI-TABLE change-feed stream reader: offsets are
    CATALOG VERSIONS — each micro-batch is one catalog SWAP's change
    set, i.e. every pinned table's row transitions between the pins
    of consecutive catalog versions, expanded through the same
    DV-complete change units (and the same per-file physical-binding
    resolution) as the per-table feed. A transaction that moved N
    tables' pins in one swap arrives as ONE batch carrying all N
    tables — a checkpointed consumer can never observe half a
    transaction, the streaming form of the catalog's swap-or-nothing
    visibility. Published-yet-unswapped table commits are invisible
    (they are to catalog readers too) until a swap pins past them,
    at which point they batch into that swap's unit. Replaying a
    committed offset range re-reads identical rows (catalog files,
    logs, and data files are all immutable) — exactly-once under
    checkpoint replay for free."""

    def __init__(self, options):
        self.cat = options.get("catalog")
        if not self.cat:
            raise ValueError(
                "catalog_feed requires .option('catalog', <catalog dir>)"
            )

    def _latest(self) -> int:
        import os
        import re

        logd = os.path.join(self.cat, "_catalog")
        return max(
            (
                int(m.group(1))
                for f in os.listdir(logd)
                if (m := re.fullmatch(r"(\d{6})\.json", f))
            ),
            default=-1,
        )

    def _pins(self, cv: int) -> dict:
        import json
        import os

        path = os.path.join(self.cat, "_catalog", f"{cv:06d}.json")
        return json.load(open(path))["tables"]

    def _swap_rows(self, cv: int):
        import glob
        import os

        import pyarrow.parquet as pq

        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_change_units,
        )

        prev = self._pins(cv - 1) if cv > 0 else {}
        cur = self._pins(cv)
        # The feed iterates the CURRENT pin set: a table pinned in the
        # previous catalog version but absent from this one would emit
        # no removals and strand its rows in every downstream replica.
        # _tlog_catalog_swap_merge never drops pins today, but nothing
        # upstream enforces that — fail loud here so a future catalog
        # table-drop surfaces at the feed boundary instead of as
        # silent replica drift (ADVICE r16 #5).
        dropped = sorted(set(prev) - set(cur))
        if dropped:
            raise RuntimeError(
                f"catalog swap {cv} dropped table pins {dropped} — the "
                "catalog feed has no removal semantics for a table-drop; "
                "downstream replicas would silently retain its rows"
            )
        rows = []
        for tbl in sorted(cur):
            root, vto = cur[tbl]["root"], cur[tbl]["version"]
            vfrom = prev.get(tbl, {"version": -1})["version"]

            def sidecar_keys(name):
                if not name:
                    return None
                ks: set = set()
                for part in sorted(
                    glob.glob(os.path.join(root, name, "*.parquet"))
                ):
                    ks.update(
                        pq.read_table(part, columns=["o_orderkey"])
                        .column("o_orderkey")
                        .to_pylist()
                    )
                return ks

            for v in range(vfrom + 1, vto + 1):
                for side, fname, incl, excl in _tlog_change_units(root, v):
                    incl_keys = sidecar_keys(incl)
                    excl_keys = sidecar_keys(excl) or set()
                    key_col, price_col = _tlog_feed_columns(root, fname, v)
                    for part in sorted(
                        glob.glob(os.path.join(root, fname, "*.parquet"))
                    ):
                        t = pq.read_table(part, columns=[key_col, price_col])
                        rows.extend(
                            (cv, tbl, side, k, p)
                            for k, p in zip(
                                t.column(key_col).to_pylist(),
                                t.column(price_col).to_pylist(),
                            )
                            if (incl_keys is None or k in incl_keys)
                            and k not in excl_keys
                        )
        return rows

    def initialOffset(self):
        return {"next": 1}  # catalog v0 is the bootstrap pin set

    def read(self, start):
        v = start["next"]
        if v > self._latest():
            return iter([]), start
        return iter(self._swap_rows(v)), {"next": v + 1}

    def readBetweenOffsets(self, start, end):
        return iter(
            [
                row
                for v in range(start["next"], end["next"])
                for row in self._swap_rows(v)
            ]
        )


class CatalogFeedStreamSource(DataSource):
    """``spark.readStream.format("catalog_feed").option("catalog", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "catalog_feed"

    def schema(self) -> str:
        return (
            "cat_version INT, tbl STRING, side STRING, "
            "o_orderkey BIGINT, o_totalprice DOUBLE"
        )

    def simpleStreamReader(self, schema) -> "CatalogFeedStreamReader":
        return CatalogFeedStreamReader(self.options)


def register_catalog_feed_source(spark: SparkSession) -> None:
    spark.dataSource.register(CatalogFeedStreamSource)


class TableLogFeedPartition(InputPartition):
    """One (commit version, side, file group) of the change feed —
    the getSplits() unit: each becomes one executor task. DV-aware
    (VERDICT r13 item 1): ``incl``/``excl`` carry sidecar paths whose
    doomed-key sets gate the file's rows (include = a DV delta's
    newly doomed keys; exclude = the file's prior binding, so
    already-deleted rows are never re-emitted). Sidecars are
    doomed-keys-sized, read executor-side beside the data file."""

    def __init__(
        self,
        version: int,
        side: str,
        path: str,
        incl: str | None = None,
        excl: str | None = None,
    ):
        self.version = version
        self.side = side
        self.path = path
        self.incl = incl
        self.excl = excl


class TableLogFeedPartitionedReader(DataSourceStreamReader):
    """The SCALE-PATH twin of ``TableLogFeedStreamReader``: a full
    ``DataSourceStreamReader`` whose micro-batch is planned as one
    ``InputPartition`` per (commit, side, file group), so change
    files are read EXECUTOR-SIDE in parallel with pyarrow — the
    driver only lists the log (metadata-sized), exactly the
    driver/executor split a production lakehouse streaming source
    uses. Offsets are commit versions, as in the simple reader;
    ``latestOffset`` re-lists the log each trigger (a live table
    grows), and replaying any committed range re-plans identical
    partitions over immutable files — exactly-once under checkpoint
    replay for free."""

    def __init__(self, options):
        self.root = options.get("root")
        if not self.root:
            raise ValueError("table_log_feed_partitioned requires .option('root', ...)")

    def _latest_commit(self) -> int:
        import os
        import re

        logd = os.path.join(self.root, "_log")
        return max(
            (
                int(m.group(1))
                for f in os.listdir(logd)
                if (m := re.fullmatch(r"(\d{6})\.json", f))
            ),
            default=-1,
        )

    def initialOffset(self):
        return {"next": 1}

    def latestOffset(self):
        return {"next": self._latest_commit() + 1}

    def partitions(self, start, end):
        import os

        from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
            _tlog_change_units,
        )

        parts = []
        for v in range(start["next"], end["next"]):
            for side, fname, incl, excl in _tlog_change_units(self.root, v):
                parts.append(
                    TableLogFeedPartition(
                        v,
                        side,
                        os.path.join(self.root, fname),
                        os.path.join(self.root, incl) if incl else None,
                        os.path.join(self.root, excl) if excl else None,
                    )
                )
        # an empty micro-batch still needs >= 1 partition in the API;
        # a sentinel with no path reads zero rows
        return parts or [TableLogFeedPartition(-1, "none", "")]

    def read(self, partition):
        if not partition.path:
            return
        import glob

        import pyarrow.parquet as pq

        def sidecar_keys(path):
            if not path:
                return None
            ks = set()
            for part in sorted(glob.glob(path + "/*.parquet")):
                ks.update(
                    pq.read_table(part, columns=["o_orderkey"])
                    .column("o_orderkey")
                    .to_pylist()
                )
            return ks

        incl_keys = sidecar_keys(getattr(partition, "incl", None))
        excl_keys = sidecar_keys(getattr(partition, "excl", None)) or set()
        import os as _os

        key_col, price_col = _tlog_feed_columns(
            _os.path.dirname(partition.path),
            _os.path.basename(partition.path),
            partition.version,
        )
        for part in sorted(glob.glob(partition.path + "/*.parquet")):
            t = pq.read_table(part, columns=[key_col, price_col])
            for k, p in zip(
                t.column(key_col).to_pylist(),
                t.column(price_col).to_pylist(),
            ):
                if (incl_keys is None or k in incl_keys) and k not in excl_keys:
                    yield (partition.version, partition.side, k, p)

    def commit(self, end):
        # offsets are durable in the log itself; nothing to persist
        pass


class TableLogFeedPartitionedSource(DataSource):
    """``spark.readStream.format("table_log_feed_partitioned")``."""

    @classmethod
    def name(cls) -> str:
        return "table_log_feed_partitioned"

    def schema(self) -> str:
        return "version INT, side STRING, o_orderkey BIGINT, o_totalprice DOUBLE"

    def streamReader(self, schema) -> "TableLogFeedPartitionedReader":
        return TableLogFeedPartitionedReader(self.options)


def register_table_log_feed_partitioned_source(spark: SparkSession) -> None:
    spark.dataSource.register(TableLogFeedPartitionedSource)
