"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The Spark-backed tests share one session on a tiny generated corpus.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import stats  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_with_few_samples():
    value, pct, n = stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11])
    assert (value, n) == (1, 11)
    assert pct == pytest.approx(100 / 11)
    assert stats.tail(list(range(10))) is None


def test_generator_is_deterministic_per_seed(tmp_path):
    a, ha = corpus.generate(str(tmp_path / "a"), seed=7, sf=0.001)
    b, hb = corpus.generate(str(tmp_path / "b"), seed=7, sf=0.001)
    _, hc = corpus.generate(str(tmp_path / "c"), seed=8, sf=0.001)
    assert ha == hb == corpus.corpus_hash(a) == corpus.corpus_hash(b)
    assert hc != ha
    for name in corpus.TABLES:
        with open(os.path.join(a, f"{name}.parquet"), "rb") as fa, \
                open(os.path.join(b, f"{name}.parquet"), "rb") as fb:
            assert fa.read() == fb.read(), name


@pytest.fixture(scope="module")
def run():
    import run as bench
    from workloads import WORKLOADS, Workload

    work = tempfile.mkdtemp(prefix="perfbench-test-")
    sf_dir, _ = corpus.generate(os.path.join(work, "data"), seed=1, sf=0.001)
    WORKLOADS["unit"] = Workload("unit", sf=0.001, queries=("topk", "perfbench_raises"))
    args = argparse.Namespace(workload="unit", seed=1, seconds=0, trace=1)
    r = bench.Run(args, sf_dir, os.path.join(work, "run"))

    from hadoop_based_distributed_batch_processing_system_spark.registry import QuerySpec

    def raises(spark, sf_dir):
        raise RuntimeError("deliberate failure")

    r.registry["perfbench_raises"] = QuerySpec("perfbench_raises", raises)
    yield r
    r.stop()
    tempfile.tempdir = None
    del WORKLOADS["unit"]
    shutil.rmtree(work, ignore_errors=True)


def test_topk_is_attributed_one_job(run):
    run.run_pass(1, traced=False)  # warm the scan cache
    run.run_pass(2, traced=True)
    (topk,) = [e for e in run.executions if e["pass"] == 2 and e["name"] == "topk"]
    assert topk["ok"]
    assert topk["counts"]["exec.jobs"] == 1
    assert topk["counts"]["exec.stages"] >= 1
    assert topk["counts"]["sources.load_table.calls"] >= 1
    assert topk["counts"]["sources.load_table.hits"] == topk["counts"]["sources.load_table.calls"]


def test_query_spans_are_covered_by_build_and_action(run):
    run.run_pass(4, traced=True)
    spans = run.tracer.spans
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        kids = [s for s in spans if s["parent"] == q["id"]]
        assert [k["name"] for k in kids] == ["build", "action"]
        covered = sum(k["end"] - k["start"] for k in kids)
        assert covered == pytest.approx(q["end"] - q["start"], abs=1e-6)


def test_raising_query_is_counted_and_pass_goes_on(run):
    import run as bench

    before = len(run.executions)
    passes = [run.run_pass(3, traced=False)]
    new = run.executions[before:]
    assert {e["name"] for e in new} == {"topk", "perfbench_raises"}
    bad = [e for e in new if not e["ok"]]
    assert [e["name"] for e in bad] == ["perfbench_raises"]
    assert "deliberate failure" in bad[0]["error"]
    end_to_end, detail = bench.summarize(run, passes, {"mem.driver_hwm_mb": 1.0}, 1.0)
    assert detail["failed_frac"] == pytest.approx(
        sum(not e["ok"] for e in run.executions) / len(run.executions))
    assert detail["failed_frac"] > 0
    assert end_to_end["ok_frac"][0] == pytest.approx(1 - detail["failed_frac"])


def test_metric_names_match_benchmark_json(run):
    import json

    import run as bench
    from layers import REPORTED, UNITS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end, _ = bench.summarize(run, [run.run_pass(5, traced=False)],
                                    {"mem.driver_hwm_mb": 1.0}, 1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        {k: u for k, (_, u) in end_to_end.items()}
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        [(k, UNITS[k]) for k in REPORTED]
