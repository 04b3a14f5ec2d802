"""SemDeDup at scale: cluster-then-prune semantic dedup (Abbas et al.
2023) with the per-cluster pair check done as ONE BLAS Gram matrix per
cluster instead of |c|² interpreted pair evaluations.

The oracle-replayable entry (`inventory/retrieval_ops.py::
dedup_semantic_semdedup`) keeps the HOF formulation DuckDB can replay;
this operator is the production path: same md5-deterministic centroid
init + nearest-centroid assignment, then ``applyInPandas`` per cluster —
each group materializes its (c × dim) matrix once, normalizes, and computes
the full cosine Gram with a single matrix multiply. A vector is
dropped iff some lower-id vector in its cluster has cosine ≥ tau (the
same deterministic keeper rule).

Scale: one assignment pass (centroids in the kernel's closure, no
corpus shuffle beyond the id groupBy) + one shuffle on the cluster key;
per-cluster memory is c² doubles, so k must scale with corpus size (k ≈ n/1000
keeps clusters ~1000 → 8 MB Grams). Arrow moves each cluster batch
once; numpy does the quadratic part at BLAS speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warpdb_spark.operators.clustering import assign_step, init_centroids


def semdedup_prune(
    emb: DataFrame,
    k: int = 8,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """(id, cluster, is_dropped) for every vector. Deterministic:
    md5-ordered centroid init, round-6 argmin assignment (ties to the
    lowest centroid id), lowest-id keeper within a cluster.

    ``max_cluster_rows`` is the memory guard for the quadratic step: a
    cluster past the bound would build a Gram matrix over
    max_cluster_rows² doubles (80 GB at 100k — already far past a
    sane worker) — the worker RAISES with the cluster id and the k
    sizing rule instead of dying in an opaque OOM. Hitting it means k
    is undersized for the corpus (keep k ≈ n/1000) or one cluster is
    degenerate (near-duplicate flood: pre-shard it with exact/MinHash
    dedup first)."""
    import numpy as np
    import pandas as pd

    cents = init_centroids(emb, k, id_col, vec_col)
    assigned = assign_step(emb, cents, id_col, vec_col).select(id_col, "cluster")
    vecs = emb.select(id_col, vec_col).join(assigned, id_col)

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"semdedup cluster {int(pdf['cluster'].iloc[0])} has "
                f"{len(pdf)} rows > max_cluster_rows={max_cluster_rows}: "
                "the Gram matrix would not fit a worker. Scale k with the "
                "corpus (k ~ n/1000) or pre-dedup the degenerate cluster."
            )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        m = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        g = (m / norms[:, None]) @ (m / norms[:, None]).T
        # dropped[j] iff any i<j (id order) with cos(i, j) >= tau
        dropped = (np.triu(g, 1) >= tau).any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids[order],
                "cluster": pdf["cluster"].iloc[0],
                "is_dropped": dropped,
            }
        )

    return vecs.groupBy("cluster").applyInPandas(
        prune, schema=f"{id_col} long, cluster long, is_dropped boolean"
    )
