"""K-means clustering over embedding columns (Lloyd's algorithm).

Distributed shape — the same one Spark MLlib's KMeans uses, re-expressed
on DataFrames: centroids live on the driver as a tiny k x dim float64
matrix, and each iteration (1) ships them in the closure of one
Arrow-batched numpy kernel that scores every vector against all k
centroids in a single pass, (2) takes the rounded argmin per row in
Spark, and (3) recomputes centroids with posexplode + partial
aggregation over that same pass — one shuffle of k*dim cells after
map-side combine. The corpus is never collected; only k x dim
aggregated floats cross the driver boundary per iteration, so the loop
is identical at 500 vectors or 100 TB.

The per-row argmin is a ``zip_with`` over the k distances, so it stays
HOF-interpreted (Spark's ZipWith, ArrayAggregate and ArrayTransform
are CodegenFallback); it touches k elements per row, not dim.

Reference parity note: the reference engine has no clustering operator —
this is part of the LLM-data-pipeline superset (embedding curation /
IVF index training).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F


def _sq_l2_kernel(centroids: list[tuple[int, list[float]]]):
    """Arrow UDF: array<double> of the raw squared L2 from the row's
    vector to each centroid, in ``centroids`` order.

    Bit-identical to the HOF fold ``aggregate(zip_with(v, c, (x - y)²),
    0.0, acc + d)`` that DuckDB's list_sum oracles replay: elements go
    float32 → float64 exactly and are summed strictly left to right. A
    distance is NULL where that fold is NULL — a NULL vector, a NULL
    element, or a length other than the centroid's (zip_with pads the
    shorter side with NULLs). The centroids travel in the closure, so
    the plan does not grow with dim."""
    cents = [np.asarray(v, dtype=np.float64) for _, v in centroids]
    k = len(cents)

    def dist2(vecs: pa.Array) -> pa.Array:
        n = len(vecs)
        lens = pc.list_value_length(vecs).fill_null(-1).to_numpy()
        starts = vecs.offsets.to_numpy()[:-1]
        flat = vecs.values
        elem_null = np.concatenate(
            ([0], np.cumsum(flat.is_null().to_numpy(zero_copy_only=False)))
        )
        vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
        clean = elem_null[starts + np.maximum(lens, 0)] == elem_null[starts]
        out = np.zeros((n, k))
        ok = np.zeros((n, k), dtype=bool)
        for dim in {len(c) for c in cents}:
            cols = [i for i, c in enumerate(cents) if len(c) == dim]
            rows = np.flatnonzero((lens == dim) & clean)
            m = vals[starts[rows, None] + np.arange(dim)]
            cm = np.stack([cents[i] for i in cols])
            acc = np.zeros((len(rows), len(cols)))
            for j in range(dim):
                d = m[:, j, None] - cm[None, :, j]
                acc = acc + d * d
            out[np.ix_(rows, cols)] = acc
            ok[np.ix_(rows, cols)] = True
        offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(out.ravel(), mask=~ok.ravel()))

    return F.arrow_udf(dist2, "array<double>")


def _nearest(
    df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """``df`` plus ``__best`` = struct(__d2, __cluster), per row: dist2
    rounded to 6 dp BEFORE the argmin, ties to the lowest cluster id (a
    NULL dist2 orders first, as in Spark's min over structs)."""
    d2 = _sq_l2_kernel(centroids)(F.col(vec_col))
    ids = F.lit([int(c) for c, _ in centroids]).cast("array<bigint>")
    best = F.array_min(
        F.zip_with(d2, ids, lambda d, c: F.struct(F.round(d, 6).alias("__d2"), c.alias("__cluster")))
    )
    return df.withColumn("__best", best)


def assign_step(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd assignment: (id, cluster, dist2). dist2 is rounded to
    6 dp BEFORE the argmin and ties break to the lowest cluster id, so
    the choice is engine-reproducible. One Python pass scores each row
    against every centroid (no cross join); a map-side-combinable min
    per id is the only shuffle.

    ``id_col`` must be a key. Rows sharing an id collapse to the best
    (dist2, cluster) over all of them, one output row per id."""
    best = (
        _nearest(df.select(id_col, vec_col), centroids, vec_col)
        .groupBy(id_col)
        .agg(F.min("__best").alias("__best"))
    )
    return best.select(
        id_col,
        F.col("__best.__cluster").alias("cluster"),
        F.col("__best.__d2").alias("dist2"),
    )


def init_centroids(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic engine-portable init: the k vectors whose
    md5(id-as-string) sorts lowest (a content-addressed sample — stable
    across runs, partitionings, and engines; DuckDB replicates it with
    ORDER BY md5(CAST(id AS VARCHAR)) LIMIT k). Cluster label = the
    source vector's id, avoiding any renumbering convention."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(k)
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _update_step(
    proj: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> tuple[list[tuple[int, list[float]]], float]:
    """One Lloyd iteration in one job: assign each row with the
    nearest-centroid kernel and average the row's own vector into its
    cluster. Returns (new centroids, max squared movement); an empty
    cluster keeps its old centroid."""
    cells = _nearest(proj.where(F.col(id_col).isNotNull()), centroids, vec_col).select(
        F.col("__best.__cluster").alias("cluster"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    agg = (
        cells.groupBy("cluster", "pos")
        .agg(F.sum(F.col("val").cast("double")).alias("s"), F.count("*").alias("n"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    counts: dict[int, int] = {}
    for r in agg:
        by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["s"]
        counts[r["cluster"]] = r["n"]
    new_centroids = []
    movement = 0.0
    for c, old in centroids:
        if c in by_cluster:
            dims = by_cluster[c]
            vec = [dims[i] / counts[c] for i in range(len(old))]
        else:
            vec = list(old)
        movement = max(movement, sum((a - b) * (a - b) for a, b in zip(vec, old)))
        new_centroids.append((c, vec))
    return new_centroids, movement


def lloyd(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Full Lloyd iterations. Returns (assignments DataFrame, centroids,
    n_iter). Stops when max centroid movement (squared L2) < tol.

    Each iteration is one job over the (id, vec) projection: the
    nearest-centroid kernel assigns every row, and the update
    aggregates that row's own vector under its cluster, with no join
    or shuffle on id. The projection is persisted for the iterations
    and unpersisted before return; the returned assignment is a lazy
    ``assign_step`` over ``df`` itself.

    ``id_col`` must be a key: the update counts each row under its own
    nearest cluster, while ``assign_step`` (and the DuckDB oracle,
    which joins its assignment back on id) takes one argmin per id, so
    rows that share an id but hold different vectors would update
    clusters they are not assigned to. Rows with a NULL id take no part
    in the update."""
    from pyspark import StorageLevel

    proj = df.select(id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        centroids = init_centroids(proj, k, id_col, vec_col)
        n_iter = 0
        for n_iter in range(1, max_iter + 1):
            centroids, movement = _update_step(proj, centroids, id_col, vec_col)
            if movement < tol:
                break
    finally:
        proj.unpersist()
    return assign_step(df, centroids, id_col, vec_col), centroids, n_iter
