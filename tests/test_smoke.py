"""Driver-contract smoke tests: entry() runs and returns rows; every
registered query (oracle or not) executes at sf0.001."""

import pytest

import __spark_entry__ as se
from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
from tests.conftest import SF_SMOKE

REG = load_all()
ALL_SPECS = list(REG.values())


def test_entry_returns_rows(spark):
    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_driver_surface_shapes():
    qs = se.queries()
    os_ = se.oracle_sql()
    assert qs, "queries() must be non-empty"
    assert set(os_) <= set(qs), "every oracle key must be a query key"


def test_driver_surface_covers_the_registry():
    """queries() serves every registry entry exactly once, and
    oracle_sql() exactly the entries that carry an oracle, with it."""
    qs, os_ = se.queries(), se.oracle_sql()
    assert len(qs) == len(REG) and set(qs) == set(REG)
    assert os_ == {n: s.oracle for n, s in REG.items() if s.oracle is not None}


@pytest.mark.parametrize("spec", ALL_SPECS, ids=[s.name for s in ALL_SPECS])
def test_query_executes_smoke(spark, spec):
    df = spec.fn(spark, SF_SMOKE)
    assert df.count() >= 0


def test_codec_matrix_row_identical_and_sized(spark):
    """sink_compression_codecs: every codec must hold the same rows
    and totals; uncompressed must be at least as large on disk as any
    codec (sizes audited from the sink dirs — byte counts are
    writer-specific, so they stay out of the oracle-checked frame)."""
    import glob
    import os

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        CODEC_MATRIX,
        codec_sink_dir,
    )

    pdf = REG["sink_compression_codecs"].fn(spark, SF_SMOKE).toPandas()
    assert set(pdf["codec"]) == set(CODEC_MATRIX)
    assert pdf["n_rows"].nunique() == 1
    assert pdf["total_n"].nunique() == 1
    assert pdf["total_qty"].nunique() == 1
    sizes = {
        codec: sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(codec_sink_dir(SF_SMOKE, codec), "*.parquet"))
        )
        for codec in CODEC_MATRIX
    }
    assert all(n > 0 for n in sizes.values())
    for codec, nbytes in sizes.items():
        assert nbytes <= sizes["uncompressed"] or codec == "uncompressed"
