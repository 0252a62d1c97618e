#!/usr/bin/env python
"""Compare the fixture trees that two runs built under two temp dirs.

    python tools/fixture_diff.py A B

Walks A and B side by side (hidden entries such as ``.ckpt``,
``.lock``, ``.staging_*`` and checksum files are skipped, as are
``_SUCCESS`` markers):

- every other non-parquet file — ``_log/*.json`` commits,
  ``*.checkpoint.json``, branch refs, stamps, spec files, catalogs and
  any other root-level file — is compared byte for byte, once each
  tree's own path (which catalogs record) is replaced by a token;
- every directory holding parquet files (a table-log file group, a
  deletion-vector sidecar, a landing zone) is compared by content:
  each part file's schema and rows, in file order. Part-file names
  carry a per-write UUID, so files are matched by name with UUIDs
  removed (and by content among equal names).

Prints each path that differs (or exists on one side only) and exits
1 if any does, 0 otherwise. For each differing group, stderr names
what differs: the part count, or for each kind (file name, schema,
rows) the first pair of part files that differ in it. For each
differing ``*.json`` file (commits, checkpoints), stderr names the
top-level keys whose values differ.
"""

from __future__ import annotations

import os
import re
import sys

_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _walk(top: str) -> tuple[set[str], set[str]]:
    """(plain files, parquet group dirs) under ``top``, relative."""
    files, groups = set(), set()
    for d, dirs, names in os.walk(top):
        dirs[:] = sorted(x for x in dirs if not x.startswith("."))
        rel = os.path.relpath(d, top)
        if any(n.endswith(".parquet") for n in names):
            groups.add(rel)
        for n in names:
            if n.startswith(".") or n == "_SUCCESS" or n.endswith(".parquet"):
                continue
            files.add(os.path.normpath(os.path.join(rel, n)))
    return files, groups


def _group(path: str) -> list:
    """One entry per part file: (name without UUIDs, schema, rows in
    file order), sorted."""
    import pyarrow.parquet as pq

    parts = []
    for n in os.listdir(path):
        if n.endswith(".parquet") and not n.startswith("."):
            t = pq.read_table(os.path.join(path, n))
            parts.append(
                (_UUID.sub("", n), str(t.schema.remove_metadata()), repr(t.to_pylist()))
            )
    return sorted(parts)


def _group_diff(a: str, b: str) -> str | None:
    """None if groups ``a`` and ``b`` hold the same parts, else what
    differs: the part count, or each kind (file name, schema, rows)
    with the first pair of parts, matched in sorted order, that
    differs in it."""
    pa_, pb_ = _group(a), _group(b)
    if pa_ == pb_:
        return None
    if len(pa_) != len(pb_):
        return f"part count {len(pa_)} vs {len(pb_)}"
    kinds = []
    for i, kind in enumerate(("file name", "schema", "rows")):
        pair = next(((x, y) for x, y in zip(pa_, pb_) if x[i] != y[i]), None)
        if pair:
            kinds.append(f"{kind} ({pair[0][0]} vs {pair[1][0]})")
    return "; ".join(kinds)


def _json_diff(a: bytes, b: bytes) -> str | None:
    """The top-level keys whose values differ between two JSON objects
    (a key on one side only counts), or None when either is not one."""
    import json

    try:
        ja, jb = json.loads(a), json.loads(b)
    except ValueError:
        return None
    if not (isinstance(ja, dict) and isinstance(jb, dict)):
        return None
    missing = object()
    keys = sorted(k for k in ja.keys() | jb.keys() if ja.get(k, missing) != jb.get(k, missing))
    return "keys " + ", ".join(keys)


def _text(path: str, top: str) -> bytes:
    with open(path, "rb") as fh:
        data = fh.read()
    for prefix in {os.path.realpath(top), os.path.abspath(top)}:
        data = data.replace(prefix.encode(), b"<TOP>")
    return data


def diff(a: str, b: str) -> tuple[list[str], dict[str, str], int, int]:
    """(differing relative paths, what differs in each differing group
    or JSON file, files compared, groups compared)."""
    fa, ga = _walk(a)
    fb, gb = _walk(b)
    differ = sorted((fa ^ fb) | (ga ^ gb))
    why = {}
    for rel in sorted(fa & fb):
        ta, tb = _text(os.path.join(a, rel), a), _text(os.path.join(b, rel), b)
        if ta != tb:
            differ.append(rel)
            if rel.endswith(".json") and (w := _json_diff(ta, tb)):
                why[rel] = w
    for rel in sorted(ga & gb):
        w = _group_diff(os.path.join(a, rel), os.path.join(b, rel))
        if w:
            differ.append(rel + "/")
            why[rel + "/"] = w
    return sorted(differ), why, len(fa & fb), len(ga & gb)


def main(argv: list[str]) -> int:
    if len(argv) != 2 or not all(os.path.isdir(p) for p in argv):
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    differ, why, n_files, n_groups = diff(*argv)
    for rel in differ:
        print(rel)
    for rel, w in why.items():
        print(f"{rel}: {w}", file=sys.stderr)
    print(
        f"{len(differ)} differ; compared {n_files} files byte for byte "
        f"and {n_groups} parquet groups by content",
        file=sys.stderr,
    )
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
