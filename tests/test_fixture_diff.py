"""tools/fixture_diff.py on two tiny hand-made fixture trees."""

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "fixture_diff.py")


def _tree(top: str, part_name: str) -> None:
    """One table root: a commit, a stamp, a checkpoint dir the tool
    skips, and one file group whose part file carries ``part_name``."""
    root = os.path.join(top, "hbdbps_tlogx_abc")
    os.makedirs(os.path.join(root, "_log"))
    os.makedirs(os.path.join(root, ".ckpt"))
    with open(os.path.join(root, "_log", "000000.json"), "w") as fh:
        fh.write('{"add": ["file_b0"], "remove": [], "batch": 0, "ts": 1}')
    with open(os.path.join(root, "_INGESTED"), "w") as fh:
        fh.write('{"impl": 2}')
    with open(os.path.join(root, ".ckpt", "offsets"), "w") as fh:
        fh.write(part_name)  # differs per run: never compared
    group = os.path.join(root, "file_b0")
    os.makedirs(group)
    pq.write_table(
        pa.table({"event_id": [1, 2, 3], "value": [0.5, 1.5, 2.5]}),
        os.path.join(group, part_name),
    )
    open(os.path.join(group, "_SUCCESS"), "w").close()


def _run(a: str, b: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, TOOL, a, b], capture_output=True, text=True, timeout=120
    )


def test_identical_trees_exit_0_and_a_changed_commit_byte_exits_1(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    # part-file names differ between runs (per-write UUID): content decides
    _tree(a, "part-00000-0f8b6c1e-2d4a-4c3b-9a51-6e7d8c9b0a12-c000.snappy.parquet")
    _tree(b, "part-00000-7a2e4d90-5b1c-4f6e-8d3a-1c2b3e4f5a67-c000.snappy.parquet")
    same = _run(a, b)
    assert same.returncode == 0, same.stdout + same.stderr
    assert same.stdout == ""

    commit = os.path.join(b, "hbdbps_tlogx_abc", "_log", "000000.json")
    data = bytearray(open(commit, "rb").read())
    data[data.index(b'"ts": 1') + 6] = ord("2")
    open(commit, "wb").write(bytes(data))
    changed = _run(a, b)
    assert changed.returncode == 1, changed.stdout + changed.stderr
    rel = os.path.join("hbdbps_tlogx_abc", "_log", "000000.json")
    assert changed.stdout.split() == [rel]
    # stderr names the top-level keys whose values differ, a key on one
    # side only included
    assert f"{rel}: keys ts" in changed.stderr.splitlines()
    flag = b', "dataChange": false, "ts"'
    open(commit, "wb").write(bytes(data).replace(b', "ts"', flag))
    flagged = _run(a, b)
    assert f"{rel}: keys dataChange, ts" in flagged.stderr.splitlines()

    # a group whose rows differ is reported by its directory
    shutil.copy(commit.replace(os.path.join(b, ""), os.path.join(a, "")), commit)
    group = os.path.join(b, "hbdbps_tlogx_abc", "file_b0")
    for n in os.listdir(group):
        if n.endswith(".parquet"):
            pq.write_table(
                pa.table({"event_id": [1, 2, 4], "value": [0.5, 1.5, 2.5]}),
                os.path.join(group, n),
            )
    rows = _run(a, b)
    assert rows.returncode == 1
    assert rows.stdout.split() == [os.path.join("hbdbps_tlogx_abc", "file_b0") + "/"]


def test_a_differing_group_names_what_differs(tmp_path):
    """stderr says which part of a differing group differs: its file
    name (beyond the per-write UUID), its schema or its rows."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _tree(a, "part-00000-0f8b6c1e-2d4a-4c3b-9a51-6e7d8c9b0a12-c000.snappy.parquet")
    _tree(b, "part-00000-7a2e4d90-5b1c-4f6e-8d3a-1c2b3e4f5a67.c000.snappy.parquet")
    group = os.path.join("hbdbps_tlogx_abc", "file_b0") + "/"
    named = _run(a, b)
    assert named.returncode == 1
    assert named.stdout.split() == [group]
    assert (
        f"{group}: file name (part-00000--c000.snappy.parquet vs "
        "part-00000-.c000.snappy.parquet)"
    ) in named.stderr.splitlines()

    part = next(
        os.path.join(b, group, n)
        for n in os.listdir(os.path.join(b, group))
        if n.endswith(".parquet")
    )
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int32()),
            "value": [0.5, 1.5, 2.5],
        }),
        part,
    )
    typed = _run(a, b)
    line = next(x for x in typed.stderr.splitlines() if x.startswith(group))
    assert "file name (" in line and "schema (" in line and "rows (" not in line

