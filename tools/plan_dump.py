#!/usr/bin/env python
"""Dump ``explain('formatted')`` for named registry queries into
``plans/r18/<name>_<suffix>.txt`` — the optimization round's plan
evidence (guide §1: capture the plan shape before and after every
change; the judge checks plan claims against these files).

Each dump ends with the optimized logical plan. Expression, plan and
RDD ids and the temp-dir prefix are normalized in the whole dump, so
the dumps of two checkouts compare equal exactly when their plans do:
check a refactor with ``diff -r`` of the two ``plans/r18``
directories.

Usage:
  python tools/plan_dump.py --suffix before name1 name2 ...
  python tools/plan_dump.py --suffix after --all-headline
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def normalized(text: str) -> str:
    """``text`` with expression, plan and RDD ids and the temp-dir
    prefix replaced by fixed tokens."""
    text = text.replace(os.path.realpath(tempfile.gettempdir()), "<TMP>")
    text = text.replace(tempfile.gettempdir(), "<TMP>")
    for pattern, token in (
        (r"#\d+", "#N"),
        (r"plan_id=\d+", "plan_id=N"),
        (r"RDD\[\d+\]", "RDD[N]"),
    ):
        text = re.sub(pattern, token, text)
    return text


def main() -> None:
    args = sys.argv[1:]
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(HERE, "plans", "r18")
    os.makedirs(out_dir, exist_ok=True)

    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ:
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "8"  # match bench.py
    from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
    from hadoop_based_distributed_batch_processing_system_spark.session import get_spark

    registry = load_all()
    if "--all-headline" in args:
        import bench

        names = [n for n in bench.HEADLINE if n in registry]
    else:
        names = args
    spark = get_spark(app_name="hbdbps-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = registry[name].fn
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        buf.write("\n== Optimized Logical Plan ==\n")
        buf.write(df._jdf.queryExecution().optimizedPlan().toString())
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(normalized(buf.getvalue()) + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
