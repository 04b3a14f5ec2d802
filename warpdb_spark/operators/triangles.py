"""Distributed triangle counting over an undirected edge DataFrame
(superset; the reference has no graph facilities — SURVEY §2.7 ❌ rows).

Algorithm: degree-ordered edge orientation (Cohen 2009 / the
MapReduce-classic "node-iterator++"): orient every undirected edge
from its lower-(degree, id) endpoint to the higher one, enumerate
wedges only from each node's *outgoing* neighbors, and close each
wedge with one hash join back against the oriented edge list. The
orientation bounds every out-degree by O(sqrt(2m)), so wedge volume is
O(m^{3/2}) worst-case instead of Σ deg² — the difference between a
power-law graph finishing and its hottest vertex exploding. Each
triangle {x, y, z} is produced exactly once: from its lowest-order
corner, with the other two corners in orientation order.

Shuffle budget: one degree aggregation, two degree-attach joins (by
edge endpoint), one wedge self-join keyed on the wedge center, one
closing join keyed on the (v1, v2) pair, one corner aggregation — all
hash-partitioned, nothing quadratic in any node's degree after
orientation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from warpdb_spark.persist import persist_scoped


def triangle_counts(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Per-node triangle participation counts.

    ``edges`` must be an undirected, deduplicated edge list with
    ``src < dst`` canonical form and no self-loops. Returns
    ``(id, n_triangles)`` for every node in at least one triangle.

    The oriented edges sit in a ``persist_scoped`` slot: a later call on
    other input evicts them, and this call's lazy result then recomputes them.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # attach degrees, then orient: u -> v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    keyed = e.join(da, "a").join(db, "b")
    lower_first = F.struct("da", "a") < F.struct("db", "b")
    # Eager materialization (r12, guide §5): `oriented` feeds THREE plan
    # branches (both wedge sides + the closing join). Un-persisted,
    # Catalyst replicated the entire upstream — edge derivation, degree
    # aggregation, orientation joins — once per reference, compounding
    # to 90 copies of the input scan in graph_triangle_count's physical
    # plan. One O(m)-row cache truncates all of it; the three consumer
    # branches are parentless stages of one job, so without the eager
    # count a cold cache would still be computed concurrently.
    oriented = persist_scoped(
        keyed.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        ),
        eager=True,
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedges out of the lowest-order corner, far endpoints in order
    wedges = o1.join(o2, F.col("o1.u") == F.col("o2.u")).filter(
        F.struct(F.col("o1.dv"), F.col("o1.v")) < F.struct(F.col("o2.dv"), F.col("o2.v"))
    ).select(
        F.col("o1.u").alias("x"), F.col("o1.v").alias("y"), F.col("o2.v").alias("z")
    )
    closing = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    triangles = wedges.join(closing, ["y", "z"])
    corners = (
        triangles.select(F.col("x").alias("id"))
        .unionAll(triangles.select(F.col("y").alias("id")))
        .unionAll(triangles.select(F.col("z").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
