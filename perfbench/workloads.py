"""The benchmark's workloads: which registry rows run, on which corpus.

Row names are registry names. ``sf`` sizes the seeded corpus
(``corpus.generate``); ``writes`` are rows that each run on a fresh
temp root every pass, so their history synthesis, commits and
checkpoint writes are timed; ``queries`` run against state built
during set-up.
"""

from __future__ import annotations

from dataclasses import dataclass

# Expected row count for rows without a registry oracle: the IVF ANN
# returns the top 5 neighbours of every vector.
ROW_COUNT_SQL = {"sim_search_ann_ivf": "SELECT 5 * COUNT(*) FROM embeddings"}


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    writes: tuple[str, ...] = ()

    @property
    def rows(self) -> tuple[str, ...]:
        return self.writes + self.queries


WORKLOADS = {
    w.name: w
    for w in (
        # pandas kernels in Python workers (mapInPandas) with
        # array-valued shuffles
        Workload("llm_curation", sf=0.01, queries=(
            "dedup_minhash_lsh", "sim_search_topk_blas", "sim_search_ann_ivf",
        )),
        # the only workload that writes: a MERGE and a streaming ingest
        # on fresh roots every pass, beside a pruned snapshot read of a
        # root built during set-up
        Workload("table_log_rw", sf=0.01, writes=(
            "table_log_merge_upsert", "stream_table_log_ingest",
        ), queries=("table_log_stats_pruned_read",)),
    )
}
