"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``region nation supplier
customer part orders lineitem events documents embeddings``), one
single-row-group parquet file each, with the schemas and value domains
documented in ``FIXTURES.md``. The seed draws the values and permutes
the row order of every table; the same ``(seed, sf)`` always yields the
same bytes, and ``corpus_hash`` proves it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Rows per unit of scale factor (sf 1.0); documents and embeddings
# never drop below 500 rows, as in the reference corpus.
ROWS_PER_SF = {
    "supplier": 10_000, "customer": 150_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "view", "click", "signup", "purchase"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05  # documents that copy another document and append " dup"
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    span = int((np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int))
    return _ts(start, rng.integers(0, span + 1, n) * _DAY_US)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx].tolist(), type=pa.string())


def _base_tables(rng, sf: float) -> dict[str, pa.Table]:
    n = {t: max(MIN_ROWS.get(t, 1), int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, int(round(15_000 * sf)))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    npart = n["part"]
    names = [f"{COLORS[a]} {NOUNS[b]}" for a, b in
             zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        # event time rises with event_id, as in the reference stream
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    lengths = rng.integers(10, 90, nd)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = rng.choice(nd, int(nd * DUP_SHARE), replace=False)
    for d, src in zip(dups, rng.integers(0, nd, len(dups))):
        texts[d] = texts[src if src != d else (d + 1) % nd] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def _shuffle(rng, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def corpus_hash(path: str) -> str:
    """sha256 over every table file's bytes, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(path, f"{name}.parquet"), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()


def generate(root: str, seed: int, sf: float) -> tuple[str, str]:
    """Materialize (or reuse) the corpus for one seed under ``root``.
    Returns ``(directory, content hash)``; the hash is taken from the
    files as they are now, so a reused corpus is verified too."""
    path = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if not os.path.exists(os.path.join(path, "_corpus.json")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = np.random.default_rng([seed, int(sf * 1e6)])
        for name, table in _base_tables(rng, sf).items():
            pq.write_table(_shuffle(rng, table),
                           os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
        with open(os.path.join(tmp, "_corpus.json"), "w") as fh:
            json.dump({"seed": seed, "sf": sf}, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path, corpus_hash(path)
