"""The benchmark's workloads: input shape and op list of each.

Op lists run in the order given, one op at a time. Every op has a
registered DuckDB oracle, so every output is checked. The lists are cut to
fit the run budget; README.md says what was cut and why.
"""

from __future__ import annotations

import dataclasses

from gen import Corpus


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    corpus: Corpus
    ops: tuple[str, ...]


SIMJOIN = Workload(
    name="simjoin",
    corpus=Corpus(
        n_docs=1000, vocab=20000, zipf_s=1.0, min_len=10, max_len=100,
        near_dup_share=0.04, excerpt_share=0.04,
    ),
    ops=tuple(f"q_simjoin_{k}" for k in (
        "jaccard_self", "overlap", "jaccard_rs", "containment", "weighted_jaccard",
    )),
)

DEDUP = Workload(
    name="dedup",
    corpus=Corpus(
        n_docs=200, vocab=40, zipf_s=0.3, min_len=10, max_len=99,
        near_dup_share=0.03, excerpt_share=0.0, cluster_share=0.2,
        n_vecs=200, vec_cluster_share=0.2,
    ),
    ops=(
        "q_dedup_minhash_lsh", "q_dedup_near", "q_dedup_embedding_lsh",
        "q_vec_knn_ann", "q_vec_knn_ivf",
    ),
)

WORKLOADS = {w.name: w for w in (SIMJOIN, DEDUP)}
