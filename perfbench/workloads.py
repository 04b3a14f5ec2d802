"""The benchmark's workloads: which inventory entries run, at which scale,
and through which sink. README.md says why each was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: (inventory entry, scale directory under perfbench/data)
    ops: tuple[tuple[str, str], ...]
    #: "arrow" pulls the result into the Python process with toArrow(), "parquet"
    #: writes it through sources.writers.write_table to a temp dir.
    sink: str
    #: steady-state seconds of one cycle on 4 cores (local[2]); sets how many whole
    #: cycles fill --seconds, so every run does the same number of ops.
    cycle_s: float


def _at(scale: str, *names: str) -> tuple[tuple[str, str], ...]:
    return tuple((n, scale) for n in names)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dialect_sf0.01",
            _at(
                "sf0.01",
                "flagship_filter_project",
                "dialect_expression_projection",
                "dialect_predicates",
                "dialect_groupby_having",
                "dialect_cte_scalar_in",
                "dialect_exists_theta",
                "dialect_tpch_q1",
                "dialect_tpch_q3",
                "dialect_tpch_q6",
                "dialect_setops",
                "dialect_udtf_ngrams",
            ),
            sink="arrow",
            cycle_s=3.0,
        ),
        Workload(
            "pipeline_sf0.1",
            _at(
                "sf0.1",
                "text_quality_score",
                "similarity_topk_bruteforce",
                "dedup_exact",
                "multimodal_dhash_neardup",
            )
            # Lloyd k-means leaves its input projection persisted; at sf0.01
            # a call takes 2-3 s instead of 3-3.5 s and still runs its jobs
            # while the DataFrame is built
            + _at("sf0.01", "embedding_kmeans_clusters"),
            sink="parquet",
            cycle_s=4.0,
        ),
    )
}
