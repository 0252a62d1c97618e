"""The engine's Python-worker daemon (``pyworker``) and the worker
environment ``get_spark`` sets up."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from hadoop_based_distributed_batch_processing_system_spark import pyworker
from tests.conftest import REPO_ROOT


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()

        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["m1", "m2"])
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("m2").NAME == "m2"

        os.remove(archive)
        importlib.invalidate_caches()
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._stamps.pop(archive, None)


def _count_archive_reads(batches):
    import importlib
    import zipimport

    import pandas as pd

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [len(reads)]})


def test_reused_worker_does_not_reread_archives(spark):
    rows = spark.range(1, numPartitions=1).mapInPandas(_count_archive_reads, "reads long").collect()
    assert [r.reads for r in rows] == [0]


_KERNEL_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from hadoop_based_distributed_batch_processing_system_spark.operators import similarity
from hadoop_based_distributed_batch_processing_system_spark.session import get_spark

spark = get_spark(app_name="pyworker-cwd", master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame(
    [(0, 0, 1, [1.0, 0.0]), (0, 0, 2, [1.0, 1.0]), (0, 0, 3, [0.0, 1.0]), (0, 1, 1, [1.0, 0.0])],
    "bucket int, side int, id long, v array<double>",
)
rows = df.groupBy("bucket").applyInPandas(
    similarity._union_knn_kernel, "q_id long, n_id long, cosine double"
).collect()
print("PAIRS", sorted((r.q_id, r.n_id) for r in rows))
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _KERNEL_SCRIPT, REPO_ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-2000:]}"
    assert "PAIRS [(1, 2), (1, 3)]" in proc.stdout
