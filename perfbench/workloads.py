"""The benchmark's own gate lists and workloads.

The two name lists are copies, taken when the benchmark was written, of
``HEADLINE`` in ``bench.py`` and ``PANEL`` in ``tools/bench_panel2.py``.
They live here so that an edit to either harness cannot silently change
what this benchmark measures.
"""

from __future__ import annotations

from dataclasses import dataclass

# The 20 headline gates of bench.py.
HEADLINE = (
    "agg_groupby",
    "tpch_q5",
    "tpch_q18",
    "agg_distinct",
    "agg_percentile",
    "join_inner_equi",
    "join_broadcast",
    "join_asof",
    "win_topk_per_group",
    "evt_tumbling_window",
    "evt_sessionize_stats",
    "text_tokenize_counts",
    "text_near_dedup_jaccard",
    "sim_cosine_pairs",
    "limit_topk",
    "stream_source_sink",
    "tpch_q8",
    "tpch_q21",
    "text_ngram_freq",
    "mm_dedup_assets",
)

# The 10 iterative gates of tools/bench_panel2.py.
PANEL = (
    "graph_pagerank_converged",
    "sql_recursive_bfs",
    "text_bpe_merge_train",
    "sim_ivf_pq",
    "sim_kmeans_lloyd",
    "text_dedup_clusters_sliced",
    "agg_median_bisect",
    "stream_windowed_agg",
    "mm_interleaved_pack",
    "text_substring_dedup_clean",
)

@dataclass(frozen=True)
class Workload:
    sf: str  # scale factor of the generated inputs (a key of gen.ROWS)
    gates: tuple[str, ...]  # one pass calls each gate once, in a seeded order


# Both workloads run the same headline gates, so the only difference
# between them is input size: at sf0.01 builder, planning and
# scheduling fixed costs dominate each call, at sf0.1 executor work
# does. The subset keeps a run within its time on a 4-core machine, and
# its call latencies settle within the warm-up (see README.md).
_GATES = (
    "join_inner_equi",
    "join_asof",
    "win_topk_per_group",
    "text_tokenize_counts",
    "mm_dedup_assets",
)

WORKLOADS = {
    "headline-sf0.01": Workload(sf="0.01", gates=_GATES),
    "headline-sf0.1": Workload(sf="0.1", gates=_GATES),
}
