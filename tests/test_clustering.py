"""K-means (operators/clustering.py): convergence, determinism, and
exact recovery on separable synthetic blobs — the verification story
for the inherently-iterative (un-SQL-able) path; the single assignment
step is separately oracle-checked via embedding_kmeans_assign."""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from warpdb_spark.operators import clustering as K


def _blobs(spark, n_per=40, k=3, dim=4, spread=0.05, partitions=None):
    """k well-separated clusters at distance ~10*spread: any reasonable
    k-means recovers them exactly."""
    rng = random.Random(7)
    centers = [[10.0 * c + d for d in range(dim)] for c in range(k)]
    rows = []
    vid = 0
    for c, center in enumerate(centers):
        for _ in range(n_per):
            rows.append(
                (vid, [x + rng.uniform(-spread, spread) for x in center], c)
            )
            vid += 1
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("true_label", LongType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], t) for i, v, t in rows], schema
    )
    return df.repartition(partitions) if partitions else df


class TestKmeans:
    def test_recovers_separable_blobs(self, spark):
        df = _blobs(spark, k=3)
        assigned, cents, n_iter = K.lloyd(df, k=3, max_iter=10)
        out = assigned.join(df.select("vec_id", "true_label"), "vec_id")
        # every true cluster maps to exactly one k-means cluster and
        # vice versa (perfect agreement up to relabeling)
        m = out.groupBy("true_label").agg(
            F.countDistinct("cluster").alias("nc")
        ).collect()
        assert all(r["nc"] == 1 for r in m)
        assert out.select("cluster").distinct().count() == 3
        assert n_iter <= 10

    def test_deterministic_across_partitionings(self, spark):
        df1 = _blobs(spark, k=2, partitions=2)
        df2 = _blobs(spark, k=2, partitions=13)
        a1 = sorted(
            K.lloyd(df1, k=2, max_iter=5)[0].collect(), key=lambda r: r["vec_id"]
        )
        a2 = sorted(
            K.lloyd(df2, k=2, max_iter=5)[0].collect(), key=lambda r: r["vec_id"]
        )
        assert [(r["vec_id"], r["cluster"]) for r in a1] == [
            (r["vec_id"], r["cluster"]) for r in a2
        ]

    def test_assign_step_tie_breaks_lowest_cluster(self, spark):
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
        df = spark.createDataFrame([(1, [0.0, 0.0])], schema)
        # both centroids equidistant → cluster 3 (lowest id) must win
        out = K.assign_step(df, [(7, [1.0, 0.0]), (3, [-1.0, 0.0])]).first()
        assert out["cluster"] == 3
        assert out["dist2"] == 1.0

    def test_empty_cluster_keeps_centroid(self, spark):
        df = _blobs(spark, n_per=5, k=1, dim=2)
        # k=3 over a single blob: extra clusters may end up empty but
        # lloyd must not crash and must still assign every vector
        assigned, cents, _ = K.lloyd(df, k=3, max_iter=4)
        assert assigned.count() == 5
        assert len(cents) == 3

    def test_lloyd_leaves_nothing_persisted(self, spark):
        """The projection lloyd persists for its iterations is released
        before it returns; the returned assignment still evaluates."""
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        for df in (_blobs(spark, k=2), _blobs(spark, n_per=7, k=3, dim=3)):
            assigned, _, _ = K.lloyd(df, k=2, max_iter=2)
            assert assigned.count() == df.count()
        assert jsc.getPersistentRDDs().size() == before

    def test_inertia_nonincreasing(self, spark):
        df = _blobs(spark, k=3, spread=2.0)  # overlapping → needs iterations
        prev = None
        for it in (1, 2, 4):
            assigned, _, _ = K.lloyd(df, k=3, max_iter=it)
            inertia = assigned.agg(F.sum("dist2")).first()[0]
            if prev is not None:
                assert inertia <= prev + 1e-9
            prev = inertia


class TestLabelAgreement:
    def test_planted_mislabel_is_flagged(self, spark):
        """Two tight clusters with one label flipped: the flipped vector
        must be the suspect; clean vectors must agree with neighbors."""
        from warpdb_spark.inventory import pipeline_ops as P
        from pyspark.sql import Row
        import unittest.mock as mock

        def vec(base, i):
            v = [0.0] * 64
            v[base] = 10.0
            v[32 + base] = float(i % 3)  # slight jitter, same direction
            return v

        rows = (
            [Row(vec_id=i, embedding=vec(0, i), label=0) for i in range(6)]
            + [Row(vec_id=6 + i, embedding=vec(1, i), label=1) for i in range(6)]
        )
        # flip one label inside cluster 0
        rows[3] = Row(vec_id=3, embedding=vec(0, 3), label=9)
        df = spark.createDataFrame(rows)
        with mock.patch.object(P, "_t", lambda s, d, n: df):
            out = {r.vec_id: r for r in P.embedding_label_agreement(spark, "x").collect()}
        assert out[3].is_suspect and out[3].knn_label == 0
        for i in (0, 1, 2, 4, 5):
            assert not out[i].is_suspect
        for i in range(6, 12):
            assert not out[i].is_suspect
