"""SparkSession construction with engine defaults.

The engine never *requires* its own session — every operator accepts
an externally built ``SparkSession`` (the verify driver passes one in)
and any session-level requirement (the nanos-timestamp parquet legacy
flag) is applied at runtime inside the load path. ``get_spark`` exists
for tests, bench, and standalone use.

Scale notes (100 TB discipline):
- ``spark.sql.adaptive.enabled`` — AQE re-plans at shuffle
  boundaries: coalesces post-shuffle partitions, converts
  sort-merge→broadcast when runtime stats allow, splits skewed
  partitions. This is the single most important knob for a
  1000-executor cluster and costs nothing locally.
- ``spark.sql.shuffle.partitions`` — locally 2×cores; on a real
  cluster this should be ~2-3× total executor cores (or left to AQE
  with a high initial value). Exposed via env for the bench driver.
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) regardless of host timezone.
- Python workers: ``spark.python.daemon.module`` runs
  :mod:`.pyworker`, so a reused worker stops re-reading Spark's zip
  archives before every task, and ``spark.executorEnv.PYTHONPATH``
  holds this package's parent directory, so workers import the daemon
  and kernels pickled by reference from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hadoop-mr-capabilities-on-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", 2 * int(cpus)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # no events.ts encoding conf here: the physical encoding is
        # probed per corpus inside the load path (sources/io.py), which
        # sets any needed conf at runtime — the corpus has been
        # regenerated with a different encoding mid-build once already
        # arrow transfer for the pandas-UDF operators (X1/X2, multimodal)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", f"{__package__}.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
