"""Parity of the compiled/vectorized kernels with the HOF expressions they
replace: ``functions/text.py::stopword_hits`` (one regexp_count) against
the tokenize/transform/filter form, and the nearest-centroid kernel of
``operators/clustering.py`` against the cross-join + zip_with/aggregate
assignment it replaced. Both must agree value for value, NULLs included."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from warpdb_spark.functions import text as T
from warpdb_spark.operators import clustering as K

TEXTS = [
    None,
    "",
    "   ",
    " \t \n ",
    "\tthe cat",
    "\nthe and",
    "the \t\n  and\r\x0bof\x0cin  ",
    "THE The tHe the",
    "the, (the) the. the",
    "İ i̇ İN İn",
    "ΟΔΟΣ οδος ΣΟΣ σος",
    "K k Kelvin",
    "a.b a*b axb (a) [x] a|b ^$ \\E \\Q \\e",
    "der DIE das und\tein",
]

WORD_LISTS = [
    T.STOPWORDS["en"],
    T.STOPWORDS["de"],
    ["i̇", "i̇n", "οδος", "οδοσ", "σος", "k", "kelvin"],
    ["a.b", "a*b", "(a)", "[x]", "a|b", "^$", "\\e", "\\q", "\\E"],
    ["the", "the", "THE"],
]


def _hits(spark, words):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "i int, t string")
    rows = df.select(
        "i",
        T.stopword_hits(F.col("t"), words).alias("new"),
        T._stopword_hits_hof(F.col("t"), words).alias("old"),
    ).collect()
    return {TEXTS[r.i]: (r.new, r.old) for r in rows}


class TestStopwordHits:
    @pytest.mark.parametrize("words", WORD_LISTS, ids=range(len(WORD_LISTS)))
    def test_regex_matches_hof(self, spark, words):
        out = _hits(spark, words)
        assert all(new == old for new, old in out.values()), out

    def test_counts(self, spark):
        en = _hits(spark, ["the", "and"])
        assert en[None] == (None, None)
        assert en["\tthe cat"][0] == 1
        assert en["THE The tHe the"][0] == 4
        assert en["the, (the) the. the"][0] == 1
        meta = _hits(spark, ["a.b", "(a)", "\\E"])
        assert meta["a.b a*b axb (a) [x] a|b ^$ \\E \\Q \\e"][0] == 2

    @pytest.mark.parametrize("words", [[""], ["the", ""], ["the cat"], ["a\tb"]])
    def test_empty_or_whitespace_words_keep_hof_counts(self, spark, words):
        """split yields empty tokens around a leading tab or newline; such
        word lists stay on the HOF form, whose counts they keep."""
        assert "regexp_count" not in str(T.stopword_hits(F.col("t"), words))
        out = _hits(spark, words)
        assert all(new == old for new, old in out.values()), out
        if words == [""]:
            assert out["\tthe cat"][0] == 1

    def test_text_plans_hold_no_lambda(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        for entry in (P.text_quality_score, P.text_lang_id):
            plan = entry(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
            assert "lambdafunction" not in plan, plan


_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _ref_assign_step(df, centroids):
    """The replaced assignment: cross join with the centroids, squared L2
    as a zip_with/aggregate fold, min (dist2, cluster) struct per id."""
    cdf = df.sparkSession.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in centroids], "__cluster bigint, __ce array<double>"
    )
    sq = F.zip_with(
        F.col("embedding"),
        F.col("__ce"),
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    d = F.round(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v), 6)
    best = (
        df.crossJoin(F.broadcast(cdf))
        .select("vec_id", "__cluster", d.alias("__d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("__d2", "__cluster")).alias("b"))
    )
    return best.select("vec_id", F.col("b.__cluster").alias("cluster"), F.col("b.__d2").alias("dist2"))


def _ref_lloyd_centroids(df, k, iters):
    """Centroids after ``iters`` updates of the replaced loop, which
    joined the per-id assignment back to the vectors."""
    cents = K.init_centroids(df, k)
    for _ in range(iters):
        cells = df.join(_ref_assign_step(df, cents), "vec_id").select(
            "cluster", F.posexplode("embedding").alias("pos", "val")
        )
        agg = cells.groupBy("cluster", "pos").agg(
            F.sum(F.col("val").cast("double")).alias("s"), F.count("*").alias("n")
        )
        sums = {(r.cluster, r.pos): (r.s, r.n) for r in agg.collect()}
        cents = [
            (c, [sums[c, i][0] / sums[c, i][1] for i in range(len(v))] if (c, 0) in sums else v)
            for c, v in cents
        ]
    return cents


def _random_vectors(n, dim, seed):
    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.standard_normal(dim).astype(np.float32)]) for i in range(n)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestNearestCentroid:
    def test_random_vectors(self, spark):
        df = spark.createDataFrame(_random_vectors(300, 16, seed=3), _SCHEMA).repartition(3)
        cents = [(int(c), v) for c, v in _random_vectors(6, 16, seed=4)]
        assert _rows(K.assign_step(df, cents)) == _rows(_ref_assign_step(df, cents))

    def test_ties_nulls_and_ragged_vectors(self, spark):
        rows = [
            (1, [0.0, 0.0, 0.0]),  # equidistant from all three centroids
            (2, [0.5, 0.0, 0.5]),  # equidistant from 3 and 5
            (3, None),
            (4, [1.0, None, 0.0]),
            (5, [1.0, 0.0]),
            (6, [1.0, 0.0, 0.0, 0.0]),
            (7, [2.0, 1.0, -1.0]),
        ]
        df = spark.createDataFrame(rows, _SCHEMA)
        cents = [(9, [0.0, 1.0, 0.0]), (5, [1.0, 0.0, 0.0]), (3, [0.0, 0.0, 1.0])]
        out = {r.vec_id: (r.cluster, r.dist2) for r in K.assign_step(df, cents).collect()}
        assert out == {r.vec_id: (r.cluster, r.dist2) for r in _ref_assign_step(df, cents).collect()}
        assert out[1] == (3, 1.0)
        assert out[2] == (3, 0.5)
        assert out[3] == out[4] == out[5] == out[6] == (3, None)

    def test_duplicate_row(self, spark):
        vecs = _random_vectors(60, 8, seed=5)
        df = spark.createDataFrame(vecs + [vecs[17]], _SCHEMA)
        assigned, cents, _ = K.lloyd(df, k=4, max_iter=2, tol=0.0)
        rows = _rows(assigned)
        assert [r[0] for r in rows] == list(range(60))
        assert rows == _rows(_ref_assign_step(df, cents))
        assert cents == _ref_lloyd_centroids(df, k=4, iters=2)
