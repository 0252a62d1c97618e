"""``built_once``: the lock + stamp discipline every fixture directory
in the package is built under — exactly-once across processes, a
changed spec wipes and rebuilds, a failed build leaves no stamp, and a
build may nest another ``built_once`` on its own root."""

import os
import threading
import time

import pytest

from hadoop_based_distributed_batch_processing_system_spark.built import built_once


def _marked_build(root: str, mark: str = "built", pause: float = 0.0):
    """A build that appends one line to ``root/marker`` per run."""

    def build() -> None:
        with open(os.path.join(root, "marker"), "a") as fh:
            fh.write(mark + "\n")
        time.sleep(pause)

    return build


def _runs(root: str) -> list[str]:
    try:
        return open(os.path.join(root, "marker")).read().split()
    except OSError:
        return []


def _race_build(root: str) -> None:
    """Module-level worker (picklable for the spawn context)."""
    built_once(root, "_STAMP", "spec-1", _marked_build(root, pause=0.3))


def test_processes_racing_on_one_root_build_exactly_once(tmp_path):
    import multiprocessing as mp

    root = str(tmp_path / "root")
    ctx = mp.get_context("spawn")
    procs = [ctx.Process(target=_race_build, args=(root,)) for _ in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert all(not p.is_alive() and p.exitcode == 0 for p in procs)
    assert _runs(root) == ["built"]
    assert open(os.path.join(root, "_STAMP")).read() == "spec-1"


def test_changed_spec_wipes_all_but_the_lock_and_rebuilds(tmp_path):
    root = str(tmp_path / "root")

    def build_v1() -> None:
        _marked_build(root, "v1")()
        os.makedirs(os.path.join(root, "part_dir"))

    built_once(root, "_STAMP", "v1", build_v1)
    built_once(root, "_STAMP", "v1", build_v1)  # stamped: no rerun
    assert _runs(root) == ["v1"]
    built_once(root, "_STAMP", "v2", _marked_build(root, "v2"))
    assert _runs(root) == ["v2"]  # the v1 marker was wiped with the rest
    assert sorted(os.listdir(root)) == [".lock", "_STAMP", "marker"]
    assert open(os.path.join(root, "_STAMP")).read() == "v2"


def test_failed_build_leaves_no_stamp_and_the_next_call_rebuilds(tmp_path):
    root = str(tmp_path / "root")

    def failing() -> None:
        _marked_build(root, "failed")()
        raise RuntimeError("injected build failure")

    with pytest.raises(RuntimeError, match="injected build failure"):
        built_once(root, "_STAMP", "spec", failing)
    assert not os.path.exists(os.path.join(root, "_STAMP"))
    built_once(root, "_STAMP", "spec", _marked_build(root, "ok"))
    assert _runs(root) == ["failed", "ok"]
    assert open(os.path.join(root, "_STAMP")).read() == "spec"


def test_nested_build_on_the_held_root_does_not_deadlock(tmp_path):
    root = str(tmp_path / "root")

    def outer() -> None:
        built_once(root, "_INNER", "inner", _marked_build(root, "inner"))
        _marked_build(root, "outer")()

    t = threading.Thread(
        target=built_once, args=(root, "_OUTER", "outer", outer), daemon=True
    )
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "nested built_once deadlocked on its own lock"
    assert _runs(root) == ["inner", "outer"]
    assert open(os.path.join(root, "_INNER")).read() == "inner"
    assert open(os.path.join(root, "_OUTER")).read() == "outer"
