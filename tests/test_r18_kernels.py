"""Round-18 optimization-internals pins.

- Loud per-bucket / per-pair caps (VERDICT r17 #4): each pair-verify
  kernel must RAISE on a degenerate bucket/block instead of
  materializing an O(n²) pair enumeration in one task (the old join
  shapes spilled; a kernel cannot).
- Semantic-LSH sign margin (ADVICE r17): the GEMM signature kernel's
  bit-equality with the retired strict left fold rests on the corpus
  plane-dot margins dwarfing float reassociation error — pin the
  margin so a regenerated corpus fails loudly instead of silently
  changing bucketing.
- MinHash segment-verify (r18 rewrite): cross-band duplicate pairs
  are bit-identical rows (so the trailing distinct() collapses
  multiplicity exactly), and the kernel's Jaccard equals the JVM
  array_intersect/array_union division on the same integers.
"""

import numpy as np
import pandas as pd
import pytest

from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
from hadoop_based_distributed_batch_processing_system_spark.sources.io import load_table

from tests.conftest import SF_ORACLE

REG = load_all()


def _bucket_pdf(n, cols):
    base = {
        "doc_id": np.arange(n, dtype=np.int64),
        "vec_id": np.arange(n, dtype=np.int64),
        "band": np.zeros(n, dtype=np.int32),
        "key": np.zeros(n, dtype=np.int32),
        "band_idx": np.zeros(n, dtype=np.int32),
        "band_sig": np.zeros(n, dtype=np.int64),
        "side": np.zeros(n, dtype=np.int32),
        "sh": [np.array([1, 2, 3], dtype=np.int64)] * n,
        "embedding": [np.ones(4, dtype=np.float64)] * n,
    }
    return pd.DataFrame({c: base[c] for c in cols})


def test_semlsh_bucket_cap_raises(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_BUCKET_VERIFY_CAP", 64)
    kernel = dd._semlsh_bucket_verify_kernel(-2.0, False)
    pdf = _bucket_pdf(65, ["vec_id", "band", "key", "side", "embedding"])
    with pytest.raises(ValueError, match="degenerate LSH bucket"):
        kernel(pdf)
    # at the cap it still verifies
    ok = kernel(_bucket_pdf(64, ["vec_id", "band", "key", "side", "embedding"]))
    assert len(ok) == 64 * 63 // 2


def test_minhash_segment_cap_raises(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_BUCKET_VERIFY_CAP", 64)
    kernel = dd._minhash_segment_verify()
    pdf = _bucket_pdf(65, ["band_idx", "band_sig", "doc_id", "sh"])
    with pytest.raises(ValueError, match="degenerate LSH bucket"):
        list(kernel(iter([pdf])))


def test_block_pair_cosine_cap_raises(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_BLOCK_PAIR_MAX_PAIRS", 100)
    kernel = dd._block_pair_cosine_kernel(-2.0)
    pdf = _bucket_pdf(20, ["vec_id", "embedding"])
    pdf["blk_lo"] = 0
    pdf["blk_hi"] = 0
    pdf["own_blk"] = 0
    with pytest.raises(ValueError, match="refusing to materialize"):
        kernel(pdf)  # 190 pairs > 100


def test_block_pair_jaccard_cap_raises(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_BLOCK_PAIR_MAX_PAIRS", 100)
    kernel = dd._block_pair_jaccard_kernel()
    pdf = _bucket_pdf(20, ["doc_id", "sh"])
    pdf["blk_lo"] = 0
    pdf["blk_hi"] = 0
    pdf["own_blk"] = 0
    with pytest.raises(ValueError, match="refusing to materialize"):
        kernel(pdf)


def test_simhash_segment_cap_raises(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_BUCKET_VERIFY_CAP", 64)
    kernel = dd._simhash_segment_verify(3)
    pdf = pd.DataFrame(
        {
            "chunk_idx": np.zeros(65, dtype=np.int32),
            "chunk_val": np.zeros(65, dtype=np.int64),
            "doc_id": np.arange(65, dtype=np.int64),
            "sig": np.arange(65, dtype=np.int64),
        }
    )
    with pytest.raises(ValueError, match="degenerate SimHash bucket"):
        list(kernel(iter([pdf])))


def test_simhash_swar_popcount_matches_bit_count():
    """The kernel's SWAR popcount must equal int.bit_count on the
    xor'd signatures — exact integer parity with the retired JVM
    bit_count path."""
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    rng = np.random.default_rng(3)
    sigs = rng.integers(-(2**63), 2**63, size=40, dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "chunk_idx": np.zeros(40, dtype=np.int32),
            "chunk_val": np.zeros(40, dtype=np.int64),
            "doc_id": np.arange(40, dtype=np.int64),
            "sig": sigs,
        }
    )
    out = list(dd._simhash_segment_verify(64)(iter([pdf])))[0]
    assert len(out) == 40 * 39 // 2
    by_pair = {(a, b): h for a, b, h in out.itertuples(index=False, name=None)}
    for i in range(40):
        for j in range(i + 1, 40):
            # two's-complement popcount (what JVM bit_count computes);
            # Python's int.bit_count on a negative counts |x| instead
            expect = (int(sigs[i] ^ sigs[j]) & 0xFFFFFFFFFFFFFFFF).bit_count()
            assert by_pair[(i, j)] == expect


def test_knn_block_ref_cap_raises(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_KNN_BLOCK_REF_CAP", 10)
    kernel = sim._knn_block_topk_kernel(3)
    n = 12
    pdf = pd.DataFrame(
        {
            "side": np.concatenate([np.zeros(n, dtype=np.int32), np.ones(1, dtype=np.int32)]),
            "id": np.arange(n + 1, dtype=np.int64),
            "v": [np.ones(4, dtype=np.float64)] * (n + 1),
        }
    )
    with pytest.raises(ValueError, match="knn block holds"):
        kernel(pdf)


def test_knn_kernel_chunking_matches_unchunked(monkeypatch):
    """The query-chunked scoring must emit exactly what one
    monolithic pass emits — chunking is a memory bound, never a
    result change."""
    import hadoop_based_distributed_batch_processing_system_spark.operators.similarity as sim

    rng = np.random.default_rng(42)
    n_r, n_q, dim = 50, 17, 8
    pdf = pd.DataFrame(
        {
            "side": np.concatenate(
                [np.zeros(n_r, dtype=np.int32), np.ones(n_q, dtype=np.int32)]
            ),
            "id": np.arange(n_r + n_q, dtype=np.int64),
            "v": list(rng.normal(size=(n_r + n_q, dim))),
        }
    )
    kernel = sim._knn_block_topk_kernel(5)
    monkeypatch.setattr(sim, "_KNN_SIMS_CELL_BUDGET", 3 * n_r)  # forces tiny chunks
    chunked = kernel(pdf.copy())
    monkeypatch.setattr(sim, "_KNN_SIMS_CELL_BUDGET", 10**9)
    whole = kernel(pdf.copy())
    pd.testing.assert_frame_equal(chunked.reset_index(drop=True), whole.reset_index(drop=True))


def test_cosine_kernel_einsum_chunking_matches_unchunked(monkeypatch):
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    rng = np.random.default_rng(7)
    n = 40
    pdf = _bucket_pdf(n, ["vec_id"])
    pdf["embedding"] = list(rng.normal(size=(n, 8)))
    pdf["blk_lo"] = 0
    pdf["blk_hi"] = 0
    pdf["own_blk"] = 0
    kernel = dd._block_pair_cosine_kernel(-2.0)
    monkeypatch.setattr(dd, "_PAIR_EINSUM_CHUNK", 13)
    chunked = kernel(pdf.copy())
    monkeypatch.setattr(dd, "_PAIR_EINSUM_CHUNK", 10**9)
    whole = kernel(pdf.copy())
    pd.testing.assert_frame_equal(chunked, whole)


def test_minhash_cross_band_duplicates_are_bit_identical():
    """Two buckets holding the same doc pair must yield IDENTICAL
    (id_a, id_b, jaccard) rows — the distinct() multiplicity
    device."""
    import hadoop_based_distributed_batch_processing_system_spark.operators.dedup as dd

    kernel = dd._minhash_segment_verify()
    a = np.array([1, 2, 3, 4], dtype=np.int64)
    b = np.array([1, 2, 3, 9], dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "band_idx": np.array([0, 0, 5, 5], dtype=np.int32),
            "band_sig": np.array([11, 11, 99, 99], dtype=np.int64),
            "doc_id": np.array([7, 8, 7, 8], dtype=np.int64),
            "sh": [a, b, a, b],
        }
    )
    out = list(kernel(iter([pdf])))[0]
    assert len(out) == 2
    assert out["id_a"].nunique() == 1 and out["jaccard"].nunique() == 1
    assert out["jaccard"].iloc[0] == 3 / 5  # same exact integer division


def test_semlsh_plane_dot_margin(spark):
    """The r17 GEMM signature kernel equals the retired strict fold
    only because every |v·plane| dwarfs 64-term reassociation error
    (~1e-13). Pin the corpus margin at >= 1e-9 so a regenerated
    corpus fails HERE instead of silently changing bucketing/recall
    (ADVICE r17)."""
    from hadoop_based_distributed_batch_processing_system_spark.operators.dedup import (
        _semlsh_planes,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("embedding").toPandas()
    v = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    planes = np.array(_semlsh_planes(), dtype=np.float64)
    margin = np.abs(v @ planes.T).min()
    assert margin > 1e-9, f"plane-dot margin {margin} too close to reassociation error"


def test_spread_small_scan_tolerates_a_non_integer_shuffle_setting(spark, monkeypatch):
    """``spark.sql.shuffle.partitions`` may read ``auto`` on some
    platforms (OSS Spark refuses to set it, so ``conf.get`` is stubbed):
    the spread then targets ``defaultParallelism`` instead of raising."""
    from pyspark.sql.conf import RuntimeConfig

    from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
        spread_small_scan,
    )

    real_get = RuntimeConfig.get

    def get(self, key, *default):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *default)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    one = spark.range(100).coalesce(1)
    spread = spread_small_scan(one, "id")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in spread.collect()) == list(range(100))
