"""Tests for the scale-pattern inventory (inventory/scale_ops.py) and
the triangle-counting operator: hand-computable graphs, EWMA recurrence
properties, classifier determinism, global-ordinal consistency, and the
``persist_scoped`` slot lifecycle."""

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from warpdb_spark import persist as P
from warpdb_spark.inventory import scale_ops
from warpdb_spark.operators.triangles import triangle_counts


class TestTriangleCounts:
    def test_single_triangle(self, spark):
        e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["a", "b"])
        got = {r["id"]: r["n_triangles"] for r in triangle_counts(e).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_square_without_diagonal_has_none(self, spark):
        e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (1, 4)], ["a", "b"])
        assert triangle_counts(e).count() == 0

    def test_k4_counts(self, spark):
        # K4: 4 triangles, every node in exactly 3
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        e = spark.createDataFrame(edges, ["a", "b"])
        got = {r["id"]: r["n_triangles"] for r in triangle_counts(e).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_two_disjoint_triangles_plus_pendant(self, spark):
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 99)],
            ["a", "b"],
        )
        got = {r["id"]: r["n_triangles"] for r in triangle_counts(e).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1}
        assert 99 not in got

    def test_total_triangles_matches_handcount_on_events_graph(self, spark, sf_dir):
        df = scale_ops.graph_triangle_count(spark, sf_dir)
        total = df.agg(F.sum("n_triangles")).collect()[0][0]
        # every triangle contributes exactly 3 corner rows
        assert total is not None and total % 3 == 0


class TestAdamicAdar:
    def test_handcomputed_synthetic_graph(self, spark):
        # events crafted so consecutive users form edges
        # 1-2, 2-3, 3-4, 4-1, 1-3 within one event_type: the only
        # non-edge pair is (2,4) with common neighbors {1, 3},
        # deg(1)=3, deg(3)=3 → AA = 2/ln(3)
        import datetime
        import math

        import warpdb_spark.inventory.scale_ops as so

        seq = [1, 2, 3, 4, 1, 3, 1, 4]  # consecutive pairs give the edges
        base = datetime.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [
                (i, base + datetime.timedelta(seconds=i), u, "x", 1.0)
                for i, u in enumerate(seq)
            ],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        orig = so._t
        so._t = lambda spark, sf_dir, name: ev
        try:
            rows = so.graph_adamic_adar(spark, "ignored").collect()
        finally:
            so._t = orig
        assert len(rows) == 1
        r = rows[0]
        assert (r["user_a"], r["user_b"], r["n_common"]) == (2, 4, 2)
        assert abs(r["adamic_adar"] - round(2 / math.log(3), 6)) < 1e-9

    def test_bounds_on_real_graph(self, spark, sf_dir):
        import warpdb_spark.inventory.scale_ops as so

        # the sf0.001 user graph may be near-complete (few or no
        # non-edge candidates); assert invariants over whatever exists
        for r in so.graph_adamic_adar(spark, sf_dir).collect():
            assert r["user_a"] < r["user_b"]
            assert r["n_common"] >= 2
            assert r["adamic_adar"] > 0

    def test_excludes_existing_edges(self, spark, sf_dir):
        import warpdb_spark.inventory.scale_ops as so
        from pyspark.sql import Window as W

        got = so.graph_adamic_adar(spark, sf_dir)
        ev = so._t(spark, sf_dir, "events")
        w = W.partitionBy("event_type").orderBy("ts", "event_id")
        nx = ev.select(
            F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
        )
        edges = (
            nx.filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
            .select(
                F.least("src", "dst").alias("user_a"),
                F.greatest("src", "dst").alias("user_b"),
            )
            .distinct()
        )
        overlap = got.join(edges, ["user_a", "user_b"]).count()
        assert overlap == 0


class TestMmrRerank:
    def test_diversity_skips_near_duplicate(self, spark):
        # query 0; vecs 100/101 identical (highest relevance), vec 102
        # diverse with decent relevance: plain top-2 = {100, 101} but
        # MMR rank-2 must skip the duplicate and pick 102
        import warpdb_spark.inventory.scale_ops as so

        # mmr2(dup 101) = 0.7·0.8984 − 0.3·1.0    ≈ 0.329
        # mmr2(102)     = 0.7·0.8984 − 0.3·0.614  ≈ 0.445  → 102 wins
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (100, [0.9, 0.44, 0.0]),
            (101, [0.9, 0.44, 0.0]),
            (102, [0.9, -0.44, 0.0]),
        ] + [(200 + i, [0.0, 1.0, float(i) / 100]) for i in range(20)]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        orig = so._t
        so._t = lambda spark, sf_dir, name: emb
        try:
            got = {
                (r["query_id"], r["mmr_rank"]): r["vec_id"]
                for r in so.similarity_mmr_rerank(spark, "ignored").collect()
            }
        finally:
            so._t = orig
        assert got[(0, 1)] == 100
        assert got[(0, 2)] == 102  # NOT the duplicate 101

    def test_selected_distinct_on_corpus(self, spark, sf_dir):
        rows = scale_ops.similarity_mmr_rerank(spark, sf_dir).collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["vec_id"])
        for q, picks in by_q.items():
            assert len(picks) == len(set(picks)) == 3, q


class TestContainment:
    def test_embedded_doc_scores_one_directionally(self, spark):
        import warpdb_spark.inventory.scale_ops as so

        docs = spark.createDataFrame(
            [
                (1, "en", "web", "alpha beta gamma delta epsilon zeta"),
                (2, "en", "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
                (3, "en", "web", "totally different words here now friend"),
            ],
            ["doc_id", "lang", "source", "text"],
        )
        orig = so._t
        so._t = lambda spark, sf_dir, name: docs
        try:
            rows = {
                (r["id_a"], r["id_b"]): r
                for r in so.dedup_containment_ngram(spark, "ignored").collect()
            }
        finally:
            so._t = orig
        r = rows[(1, 2)]
        # doc 1's shingles all appear in doc 2 → containment 1.0 one way
        assert r["containment_a_in_b"] == 1.0
        assert r["containment_b_in_a"] < 1.0
        assert (1, 3) not in rows and (2, 3) not in rows

    def test_scores_consistent_on_corpus(self, spark, sf_dir):
        rows = scale_ops.dedup_containment_ngram(spark, sf_dir).collect()
        for r in rows:
            assert 0.0 < r["containment_a_in_b"] <= 1.0
            assert 0.0 < r["containment_b_in_a"] <= 1.0
            assert max(r["containment_a_in_b"], r["containment_b_in_a"]) >= 0.5


class TestUserRfm:
    def test_scores_and_code(self, spark, sf_dir):
        rows = scale_ops.events_user_rfm(spark, sf_dir).collect()
        n = len(rows)
        assert n > 0
        for r in rows:
            for s in ("r_score", "f_score", "m_score"):
                assert 1 <= r[s] <= 5
            assert r["rfm_code"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
            assert r["recency_days"] >= 0
        # ntile quintiles are balanced within 1
        from collections import Counter

        counts = Counter(r["r_score"] for r in rows)
        assert max(counts.values()) - min(counts.values()) <= 1


class TestEwmaSmooth:
    def test_first_event_equals_value(self, spark, sf_dir):
        df = scale_ops.events_ewma_smooth(spark, sf_dir)
        ev = scale_ops._t(spark, sf_dir, "events")
        first = (
            ev.groupBy("user_id").agg(F.min(F.struct("ts", "event_id")).alias("s"))
            .select("user_id", F.col("s.event_id").alias("event_id"))
        )
        j = df.join(first, ["user_id", "event_id"])
        bad = j.filter(F.abs(F.col("ewma") - F.col("value")) > 1e-6).count()
        assert bad == 0

    def test_ewma_bounded_by_running_extremes(self, spark, sf_dir):
        # a weighted mean of the last 8 values stays inside their range
        df = scale_ops.events_ewma_smooth(spark, sf_dir)
        ev = scale_ops._t(spark, sf_dir, "events")
        from pyspark.sql import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(-7, 0)
        )
        bounds = ev.select(
            "event_id",
            F.min("value").over(w).alias("lo"),
            F.max("value").over(w).alias("hi"),
        )
        j = df.join(bounds, "event_id")
        bad = j.filter(
            (F.col("ewma") < F.col("lo") - 1e-6) | (F.col("ewma") > F.col("hi") + 1e-6)
        ).count()
        assert bad == 0

    def test_one_shuffle_plan(self, spark, sf_dir):
        plan = scale_ops.events_ewma_smooth(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1


class TestQualityClassifier:
    def test_deterministic_and_keep_consistent(self, spark, sf_dir):
        a = scale_ops.text_quality_classifier(spark, sf_dir).collect()
        b = scale_ops.text_quality_classifier(spark, sf_dir).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        for r in a:
            assert r["keep"] == (r["quality_logit"] > 0)
            assert -0.5 <= r["quality_logit"] <= 0.5
            assert r["n_tokens"] > 0

    def test_identical_text_identical_score(self, spark):
        df = spark.createDataFrame(
            [(1, "spark hash join"), (2, "spark hash join"), (3, "other words here")],
            ["doc_id", "text"],
        )
        import warpdb_spark.inventory.scale_ops as so

        orig = so._t
        so._t = lambda spark, sf_dir, name: df
        try:
            rows = {r["doc_id"]: r["quality_logit"] for r in so.text_quality_classifier(spark, "ignored").collect()}
        finally:
            so._t = orig
        assert rows[1] == rows[2]

    def test_zero_shuffle_plan(self, spark, sf_dir):
        plan = scale_ops.text_quality_classifier(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestTrianglePropertyFuzz:
    def test_random_graphs_match_bruteforce(self, spark):
        import itertools
        import random

        rng = random.Random(1234)
        for trial in range(4):
            n = rng.randint(5, 12)
            edges = sorted(
                {
                    (a, b)
                    for a, b in (
                        tuple(sorted(rng.sample(range(n), 2))) for _ in range(3 * n)
                    )
                }
            )
            adj = {i: set() for i in range(n)}
            for a, b in edges:
                adj[a].add(b)
                adj[b].add(a)
            expected: dict = {}
            for x, y, z in itertools.combinations(range(n), 3):
                if y in adj[x] and z in adj[x] and z in adj[y]:
                    for v in (x, y, z):
                        expected[v] = expected.get(v, 0) + 1
            e = spark.createDataFrame(edges, ["a", "b"])
            got = {r["id"]: r["n_triangles"] for r in triangle_counts(e).collect()}
            assert got == expected, (trial, edges)


class TestTrendOls:
    def test_matches_numpy_polyfit(self, spark, sf_dir):
        import numpy as np

        rows = scale_ops.events_trend_ols(spark, sf_dir).collect()
        ev = scale_ops._t(spark, sf_dir, "events").select(
            "event_type",
            (F.col("ts").cast("long") - scale_ops._OLS_EPOCH0).alias("x"),
            F.round(F.col("value") * 100).alias("y"),
        )
        pdf = ev.toPandas()
        for r in rows:
            g = pdf[pdf.event_type == r["event_type"]]
            slope, intercept = np.polyfit(g.x, g.y, 1)
            assert abs(r["slope_per_day"] - slope * 864.0) < 1e-3
            assert abs(r["intercept_value"] - intercept / 100.0) < 1e-3
            assert 0.0 <= r["r2"] <= 1.0


class TestTrendOlsPlan:
    def test_single_shuffle(self, spark, sf_dir):
        plan = (
            scale_ops.events_trend_ols(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1
        # partial aggregation happens map-side before the shuffle
        assert "partial" in plan.lower()


class TestMarkovTransitions:
    def test_rows_normalize_to_one(self, spark, sf_dir):
        rows = scale_ops.events_markov_transitions(spark, sf_dir).collect()
        assert rows
        by_src: dict = {}
        for r in rows:
            assert 0.0 < r["p_transition"] <= 1.0
            by_src.setdefault(r["src_event"], 0.0)
            by_src[r["src_event"]] += r["n_transitions"]
        # recompute p from raw counts: sum of p per src ~ 1
        probs: dict = {}
        for r in rows:
            probs.setdefault(r["src_event"], 0.0)
            probs[r["src_event"]] += r["n_transitions"] / by_src[r["src_event"]]
        for src, total in probs.items():
            assert abs(total - 1.0) < 1e-9, src


class TestBigramLogprob:
    def test_logprob_nonpositive_and_counts(self, spark, sf_dir):
        rows = scale_ops.text_perplexity_bigram(spark, sf_dir).collect()
        docs = scale_ops._t(spark, sf_dir, "documents").count()
        assert len(rows) == docs  # every doc has >= 2 tokens in this corpus
        for r in rows:
            assert r["avg_logprob"] <= 0.0
            assert r["n_bigrams"] >= 1

    def test_conditional_distribution_sums_to_one(self, spark, sf_dir):
        docs = scale_ops._t(spark, sf_dir, "documents")
        toks = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != F.lit("")
        )
        pairs = F.expr(
            "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), "
            "i -> struct(element_at(toks, CAST(i AS INT)) AS w1, "
            "element_at(toks, CAST(i + 1 AS INT)) AS w2)) ELSE array() END"
        )
        big = (
            docs.select("doc_id", toks.alias("toks"))
            .select(F.explode(pairs).alias("p"))
            .select("p.w1", "p.w2")
        )
        c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
        cl = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cl"))
        sums = (
            c2.join(cl, "w1")
            .groupBy("w1")
            .agg(F.sum(F.col("c2") / F.col("cl")).alias("total"))
            .collect()
        )
        for r in sums:
            assert abs(r["total"] - 1.0) < 1e-9


class TestSubwordSegment:
    def test_compression_bounds_and_totals(self, spark, sf_dir):
        rows = scale_ops.text_subword_segment(spark, sf_dir).collect()
        assert rows
        for r in rows:
            # every word yields >= 1 subword and <= len(word) singles
            assert r["n_subwords"] >= r["n_words"]
            assert abs(r["compression"] - round(r["n_subwords"] / r["n_words"], 6)) < 1e-9

    def test_greedy_matches_pure_python(self, spark, sf_dir):
        # replicate induction + greedy encode in plain python and
        # compare the corpus-wide subword total
        docs = scale_ops._t(spark, sf_dir, "documents").select("text").collect()
        import re
        from collections import Counter

        wf = Counter()
        for r in docs:
            wf.update(t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t)
        grams = Counter()
        for w, f in wf.items():
            for L in range(2, scale_ops._SW_MAX_LEN + 1):
                for p in range(0, len(w) - L + 1):
                    grams[w[p : p + L]] += f
        top = sorted(grams.items(), key=lambda kv: (-kv[1], kv[0]))[: scale_ops._SW_TOP_GRAMS]
        vocab = {g for g, _ in top} | set("abcdefghijklmnopqrstuvwxyz0123456789")

        def enc(w):
            i, n = 0, 0
            while i < len(w):
                step = 1
                for L in range(min(scale_ops._SW_MAX_LEN, len(w) - i), 1, -1):
                    if w[i : i + L] in vocab:
                        step = L
                        break
                i += step
                n += 1
            return n

        expected_total = sum(f * enc(w) for w, f in wf.items())
        got = scale_ops.text_subword_segment(spark, sf_dir)
        from pyspark.sql import functions as FF

        assert got.agg(FF.sum("n_subwords")).collect()[0][0] == expected_total


class TestLabelPropagation:
    def test_barbell_hand_computed(self, spark, monkeypatch):
        # two triangles {1,2,3} {4,5,6} bridged 3-4; events build the
        # chains 1-2-3-1 and 4-5-6-4 plus the bridge inside one type
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        rows, eid = [], 0
        for typ, walk in (("a", [1, 2, 3, 1]), ("b", [4, 5, 6, 4]), ("c", [3, 4])):
            for k, u in enumerate(walk):
                rows.append((eid, t0 + datetime.timedelta(seconds=k), u, typ, 1.0))
                eid += 1
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        monkeypatch.setattr(scale_ops, "_t", lambda s, d, n: ev)
        got = {r["node"]: r["label"] for r in scale_ops.graph_label_propagation(spark, "x").collect()}
        # round 1 (identity labels, all counts 1 → min neighbor):
        #   1→2, 2→1, 3→1, 4→3, 5→4, 6→4
        # round 2 (mode of neighbor labels, ties → smallest):
        #   1: {1,1}→1; 2: {2,1}→1; 3: {2,1,3}→1; 4: {1,4,4}→4;
        #   5: {3,4}→3; 6: {3,4}→3
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}

    def test_sizes_match_assignment(self, spark, sf_dir):
        rows = scale_ops.graph_label_propagation(spark, sf_dir).collect()
        from collections import Counter

        sizes = Counter(r["label"] for r in rows)
        for r in rows:
            assert r["n_members"] == sizes[r["label"]]


class TestKneserNeyBigram:
    def test_hand_computed_backoff_paths(self, spark, monkeypatch):
        import math

        # train (doc_id 1, 2): "a b a b", "a c" →
        #   c2: (a,b)=2 (b,a)=1 (a,c)=1; cw1: a=3 (n1+=2), b=1 (n1+=1)
        #   cont types: a=1 b=1 c=1; T=3, V=3 → pc(seen)=2/6, pc(new)=1/6
        # eval (doc_id 10): "a b c a z a" exercises all four paths:
        #   (a,b) seen; (b,c) unseen bigram; (c,a)/(z,a) unseen w1;
        #   (a,z) unseen w2
        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a c"), (10, "a b c a z a")],
            "doc_id long, text string",
        )
        monkeypatch.setattr(scale_ops, "_t", lambda s, d, n: docs)
        r = scale_ops.text_kneser_ney_bigram(spark, "x").collect()
        assert len(r) == 1 and r[0]["doc_id"] == 10
        assert r[0]["n_bigrams"] == 5 and r[0]["n_unseen"] == 4
        ps = [
            1.25 / 3 + (0.75 * 2 / 3) * (2 / 6),  # (a,b)
            0.25,                                  # (b,c): 0 + 0.75*pc(c)
            2 / 6,                                 # (c,a): unseen w1
            (0.75 * 2 / 3) * (1 / 6),              # (a,z): unseen w2
            2 / 6,                                 # (z,a): unseen w1
        ]
        assert r[0]["avg_logprob_kn"] == round(
            sum(math.log(p) for p in ps) / 5, 6
        )

    def test_probabilities_finite_on_real_data(self, spark, sf_dir):
        rows = scale_ops.text_kneser_ney_bigram(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["avg_logprob_kn"] < 0  # probabilities < 1
            assert 0 <= r["n_unseen"] <= r["n_bigrams"]


class TestBpeLearnMerges:
    @staticmethod
    def _py_bpe(wf, steps):
        syms = {w: list(w) for w in wf}
        merges = []
        for step in range(1, steps + 1):
            from collections import Counter

            pc = Counter()
            for w, f in wf.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            (a, b), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
            )
            merges.append((step, a, b, a + b, cnt))
            for w, s in syms.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        return merges

    def test_overlap_merges_left_to_right(self, spark, monkeypatch):
        # 'aaa' COUNTS the (a,a) pair twice (overlapping adjacency,
        # as in the reference BPE counter: 2 per word x 3 words = 6)
        # but MERGES left-to-right non-overlapping → after merge 1
        # 'aaa' = [aa, a]; step 2 must then pick (aa, a) — a merged
        # symbol on the LEFT — with count 3
        docs = spark.createDataFrame(
            [(1, "aaa aaa aaa b c")], "doc_id long, text string"
        )
        monkeypatch.setattr(scale_ops, "_t", lambda s, d, n: docs)
        rows = scale_ops.text_bpe_learn_merges(spark, "x").collect()
        assert (rows[0]["left_sym"], rows[0]["right_sym"], rows[0]["pair_count"]) == ("a", "a", 6)
        assert (rows[1]["left_sym"], rows[1]["right_sym"], rows[1]["pair_count"]) == ("aa", "a", 3)

    def test_frequency_weighting_and_tiebreak(self, spark, monkeypatch):
        # 'xy' appears 3 times (weight), 'pq'/'pr' once each; first
        # merge is (x,y) by count; later steps hit count ties which
        # must break by ASCENDING pair string
        docs = spark.createDataFrame(
            [(1, "xy xy"), (2, "xy pq pr")], "doc_id long, text string"
        )
        monkeypatch.setattr(scale_ops, "_t", lambda s, d, n: docs)
        rows = scale_ops.text_bpe_learn_merges(spark, "x").collect()
        assert (rows[0]["merged"], rows[0]["pair_count"]) == ("xy", 3)
        # remaining pairs (p,q) and (p,r) both count 1 → 'p q' < 'p r'
        assert rows[1]["merged"] == "pq" and rows[2]["merged"] == "pr"
        # merge exhaustion: only 3 pairs existed → exactly 3 rows
        assert len(rows) == 3

    def test_matches_pure_python_on_real_corpus(self, spark, sf_dir):
        import re
        from collections import Counter

        docs = scale_ops._t(spark, sf_dir, "documents").select("text").collect()
        wf = Counter()
        for r in docs:
            wf.update(t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t)
        expected = self._py_bpe(wf, scale_ops._BPE_STEPS)
        got = [
            (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
            for r in scale_ops.text_bpe_learn_merges(spark, sf_dir).collect()
        ]
        assert got == expected


class TestCountMinSketch:
    def test_never_undercounts_and_bounded(self, spark, sf_dir):
        rows = scale_ops.sketch_countmin_words(spark, sf_dir).collect()
        assert len(rows) == len(scale_ops._CMS_PROBES)
        n_total = None
        for r in rows:
            assert r["never_undercounts"] is True
            assert r["cms_estimate"] >= r["exact_count"]

    def test_sketch_is_mergeable(self, spark, sf_dir):
        # cell-wise sum of two half-corpus sketches == whole-corpus sketch
        docs = scale_ops._t(spark, sf_dir, "documents")
        toks = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != F.lit("")
        )
        words = docs.select("doc_id", F.explode(toks).alias("w"))
        bucket = (
            F.conv(F.substring(F.md5(F.concat(F.lit("r0_"), F.col("w"))), 1, 8), 16, 10)
            .cast("long") % scale_ops._CMS_WIDTH
        )
        full = {
            r["b"]: r["c"]
            for r in words.select(bucket.alias("b")).groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        lo = words.filter(F.col("doc_id") % 2 == 0)
        hi = words.filter(F.col("doc_id") % 2 == 1)
        merged: dict = {}
        for part in (lo, hi):
            for r in part.select(bucket.alias("b")).groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect():
                merged[r["b"]] = merged.get(r["b"], 0) + r["c"]
        assert merged == full


class TestSessionOverlap:
    def test_banded_equals_naive(self, spark, sf_dir):
        got = scale_ops.range_join_session_overlap(spark, sf_dir)
        s = scale_ops._sessions(spark, sf_dir)
        a, b = s.alias("a"), s.alias("b")
        naive = (
            a.join(
                b,
                (F.col("a.user_id") < F.col("b.user_id"))
                & (F.col("a.st") <= F.col("b.en"))
                & (F.col("b.st") <= F.col("a.en")),
            )
            .select(
                F.col("a.user_id").alias("user_a"),
                F.col("a.session_seq").alias("session_a"),
                F.col("b.user_id").alias("user_b"),
                F.col("b.session_seq").alias("session_b"),
            )
        )
        assert got.count() == naive.count()
        assert (
            got.select("user_a", "session_a", "user_b", "session_b")
            .exceptAll(naive)
            .count()
            == 0
        )

    def test_overlap_nonnegative_and_symmetric_free(self, spark, sf_dir):
        rows = scale_ops.range_join_session_overlap(spark, sf_dir).collect()
        for r in rows:
            assert r["overlap_secs"] >= 0
            assert r["user_a"] < r["user_b"]

    def test_no_cartesian_in_plan(self, spark, sf_dir):
        plan = (
            scale_ops.range_join_session_overlap(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestGlobalOrdinal:
    def test_dense_and_ordered(self, spark, sf_dir):
        rows = scale_ops.reshape_global_ordinal(spark, sf_dir).collect()
        n = len(rows)
        ordinals = sorted(r["ordinal"] for r in rows)
        assert ordinals == list(range(1, n + 1))
        by_ord = sorted(rows, key=lambda r: r["ordinal"])
        doc_ids = [r["doc_id"] for r in by_ord]
        assert doc_ids == sorted(doc_ids)


class TestAnnRecallEntry:
    def test_recall_bounds_and_coverage(self, spark):
        from warpdb_spark.inventory.pipeline_ops import similarity_ann_recall

        rows = similarity_ann_recall(spark, "/root/testdata/sf0.001").collect()
        # 20 queries x 2 settings
        assert len(rows) == 40
        assert {r.num_planes for r in rows} == {4, 8}
        for r in rows:
            assert 0 <= r.n_hits <= 5
            assert abs(r.recall_at_5 - r.n_hits / 5.0) < 1e-9
            assert r.matches_exact == (r.n_hits == 5)

    def test_coarser_buckets_no_worse_mean_recall(self, spark):
        """4 planes -> bigger buckets -> candidate supersets: mean
        recall must be >= the 8-plane setting on any corpus."""
        from warpdb_spark.inventory.pipeline_ops import similarity_ann_recall

        rows = similarity_ann_recall(spark, "/root/testdata/sf0.001").collect()
        mean = {p: 0.0 for p in (4, 8)}
        for r in rows:
            mean[r.num_planes] += r.n_hits
        assert mean[4] >= mean[8]


class TestLangConfidenceEntry:
    def test_confidence_calibration_invariants(self, spark):
        from warpdb_spark.inventory.pipeline_ops import (
            text_lang_confidence,
            text_lang_id,
        )

        sf = "/root/testdata/sf0.001"
        conf = {r.doc_id: r for r in text_lang_confidence(spark, sf).collect()}
        pred = {r.doc_id: r.lang_pred for r in text_lang_id(spark, sf).collect()}
        assert set(conf) == set(pred)
        for doc_id, r in conf.items():
            assert r.lang_pred == pred[doc_id]  # same argmax as lang_id
            assert r.best_score >= r.second_score >= 0
            assert r.margin == r.best_score - r.second_score
            assert 0.0 <= r.confidence <= 1.0
            if r.best_score > 0:
                # best/total with 5 langs is at least 1/5 when any hit
                assert r.confidence >= 0.2 - 1e-9
            assert r.reliable == (
                r.best_score > 0 and r.confidence >= 0.5 and r.margin >= 2
            )


class TestRakeEntry:
    def test_rake_known_document(self, spark):
        """Hand-checked RAKE on a tiny doc: stopwords split phrases,
        degree/freq scoring picks the long phrase."""
        from warpdb_spark.inventory import pipeline_ops as P
        from pyspark.sql import Row
        import unittest.mock as mock

        df = spark.createDataFrame(
            [Row(doc_id=1, text="deep learning models for deep learning")]
        )
        # tokens: deep learning models [for=stop] deep learning
        # phrases: "deep learning models" (len 3), "deep learning" (len 2)
        # deg: deep=5 learning=5 models=3; freq: deep=2 learning=2 models=1
        # scores: deep=2.5 learning=2.5 models=3
        # phrase1 = 2.5+2.5+3 = 8.0 ; phrase2 = 5.0
        with mock.patch.object(P, "_t", lambda s, d, n: df):
            rows = P.text_keywords_rake(spark, "x").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.phrase == "deep learning models"
        assert r.score == 8.0
        assert r.n_words == 3

    def test_one_row_per_doc_with_phrases(self, spark):
        from warpdb_spark.inventory.pipeline_ops import text_keywords_rake

        rows = text_keywords_rake(spark, "/root/testdata/sf0.001").collect()
        ids = [r.doc_id for r in rows]
        assert len(ids) == len(set(ids))
        assert all(r.score > 0 for r in rows)


class TestCharEntropyEntry:
    def test_entropy_known_values(self, spark):
        from warpdb_spark.inventory import pipeline_ops as P
        from pyspark.sql import Row
        import unittest.mock as mock

        df = spark.createDataFrame([
            Row(doc_id=1, text="aaaa"),        # H = 0
            Row(doc_id=2, text="abab"),        # H = 1
            Row(doc_id=3, text="abcd"),        # H = 2
        ])
        with mock.patch.object(P, "_t", lambda s, d, n: df):
            out = {r.doc_id: r for r in P.text_char_entropy(spark, "x").collect()}
        assert out[1].entropy_bits == 0.0 and not out[1].in_natural_band
        assert out[2].entropy_bits == 1.0
        assert out[3].entropy_bits == 2.0
        assert out[1].n_chars == 4 and out[1].n_distinct_chars == 1


class TestMaxSharedRun:
    def test_planted_runs_exact_and_bounded(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        w = [f"w{i}" for i in range(16)]
        docs = spark.createDataFrame(
            [
                # pair (1,2): exactly the 7-word run w3..w9 shared
                (1, "en", "web", " ".join(w)),
                (2, "en", "web", "x y " + " ".join(w[3:10]) + " z q r"),
                # pair (1,3): shares a 14-word run -> reported bounded at 12
                (3, "en", "web", "pre " + " ".join(w[0:14]) + " post"),
                # shares only a 5-word run with doc 1 -> below the floor (6)
                (4, "en", "web", "a b " + " ".join(w[0:5]) + " c d e f"),
                # identical to doc 1, different metadata: anchors are
                # content-only, so this pair IS formed (the old
                # (lang, source) blocking would have missed it)
                (5, "fr", "web", " ".join(w)),
            ],
            ["doc_id", "lang", "source", "text"],
        )
        monkeypatch.setattr(so, "_t", lambda spark, sf_dir, name: docs)
        rows = {
            (r["id_a"], r["id_b"]): r
            for r in so.dedup_max_shared_run(spark, "ignored").collect()
        }
        assert rows[(1, 2)]["max_shared_run"] == 7
        # n_shared_3grams for a clean 7-run = 7 - 3 + 1 = 5
        assert rows[(1, 2)]["n_shared_3grams"] == 5
        assert rows[(1, 3)]["max_shared_run"] == 12  # bounded at k
        assert (1, 4) not in rows  # 5-word overlap is below the 6 floor
        assert rows[(1, 5)]["max_shared_run"] == 12  # cross-metadata dup caught
        # (2,3) share w3..w9 via doc 1's words too
        assert rows[(2, 3)]["max_shared_run"] == 7

    def test_values_in_range_on_corpus(self, spark, sf_dir):
        rows = scale_ops.dedup_max_shared_run(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 6 <= r["max_shared_run"] <= 12
            # a shared n-run implies >= n-2 shared 3-grams
            assert r["n_shared_3grams"] >= r["max_shared_run"] - 2


class TestMaxSharedRunPlan:
    def test_join_is_keyed_not_cartesian(self, spark, sf_dir):
        plan = (
            scale_ops.dedup_max_shared_run(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        # candidate pairing rides the md5-16 anchor-gram key
        assert "md5" in plan


class TestNgramNovelty:
    def test_planted_first_occurrences(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        docs = spark.createDataFrame(
            [
                (1, "a b c d"),          # 2 grams, both first-seen -> 1.0
                (2, "a b c x y z"),      # 4 grams, 'a b c' seen in doc 1 -> 3/4
                (3, "a b c d"),          # exact dup of doc 1 -> 0.0
                (4, "q"),                # too short: no grams, absent
            ],
            ["doc_id", "text"],
        )
        monkeypatch.setattr(so, "_t", lambda spark, sf_dir, name: docs)
        got = {r.doc_id: r for r in so.corpus_ngram_novelty(spark, "x").collect()}
        assert got[1].novelty == 1.0 and got[1].n_grams == 2
        assert got[2].novelty == 0.75 and got[2].n_novel == 3
        assert got[3].novelty == 0.0
        assert 4 not in got


class TestShardAssignBytes:
    def test_two_phase_matches_single_window(self, spark, sf_dir):
        """The distributed two-phase prefix sum must equal the oracle's
        one-window formulation row for row."""
        got = {
            r.doc_id: (r.byte_start, r.shard)
            for r in scale_ops.shard_assign_bytes(spark, sf_dir).collect()
        }
        docs = sorted(
            (r.doc_id, r.n_chars)
            for r in scale_ops._t(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .collect()
        )
        acc = 0
        for doc_id, n in docs:
            assert got[doc_id] == (acc, acc // scale_ops._SHARD_BUDGET)
            acc += n
        # shards are contiguous 0..max with none skipped
        shards = sorted({s for _, s in got.values()})
        assert shards == list(range(shards[-1] + 1))


class TestSeasonalityHourly:
    def test_moments_consistent_on_corpus(self, spark, sf_dir):
        rows = scale_ops.events_seasonality_hourly(spark, sf_dir).collect()
        assert rows
        by_type = {}
        for r in rows:
            assert 0 <= r.hour <= 23
            by_type.setdefault(r.event_type, []).append(r)
        for et, rs in by_type.items():
            # one overall mean per type; hourly means aggregate back to it
            assert len({r.overall_mean for r in rs}) == 1
            n_all = sum(r.n_events for r in rs)
            wmean = sum(r.n_events * r.hour_mean for r in rs) / n_all
            assert wmean == pytest.approx(rs[0].overall_mean, abs=1e-4)
            # lift is the mean ratio
            for r in rs:
                assert r.lift == pytest.approx(r.hour_mean / r.overall_mean, abs=1e-4)


class TestMinhashCalibration:
    def test_identical_docs_estimate_one(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        text = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (0, "en", "web", text),
                (3, "en", "web", text),                      # exact dup of 0
                (6, "en", "web", "totally different words here now ok"),
                (7, "en", "web", text),                      # excluded: % 3 != 0
            ],
            ["doc_id", "lang", "source", "text"],
        )
        monkeypatch.setattr(so, "_t", lambda spark, sf_dir, name: docs)
        rows = {
            (r.id_a, r.id_b): r
            for r in so.dedup_minhash_estimate_calibration(spark, "x").collect()
        }
        dup = rows[(0, 3)]
        assert dup.n_matching == so._MH_CAL_SEEDS
        assert dup.jaccard_est == 1.0 and dup.jaccard_exact == 1.0
        assert dup.abs_err == 0.0 and dup.within_3sigma
        assert not any(7 in p for p in rows)  # sampling predicate applied
        for r in rows.values():  # estimates are exact multiples of 1/16
            assert abs(r.jaccard_est * so._MH_CAL_SEEDS - r.n_matching) < 1e-9
            assert 0.0 <= r.jaccard_exact <= 1.0

    def test_estimator_unbiased_enough_on_corpus(self, spark, sf_dir):
        rows = scale_ops.dedup_minhash_estimate_calibration(spark, sf_dir).collect()
        assert rows
        # the entry's own verdict column should overwhelmingly pass
        frac_ok = sum(r.within_3sigma for r in rows) / len(rows)
        assert frac_ok > 0.95


class TestWeightedMedianApprox:
    def test_planted_rank_verdicts(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        # weights = user_id % 5 + 1; group 'a' values 1..5 with weights
        # 1..5 -> totw 15, weighted median 4 (cumw 1,3,6,10,15)
        data = [(i, "a", float(i + 1), i) for i in range(5)]
        ev = spark.createDataFrame(
            data, "event_id long, event_type string, value double, user_id long"
        )
        monkeypatch.setattr(so, "_t", lambda s, d, n: ev)
        rows = {r.event_type: r for r in so.agg_weighted_median_approx(spark, "x").collect()}
        r = rows["a"]
        assert r.n == 5 and r.total_weight == 15
        assert r.ok_below and r.ok_incl

    def test_all_verdicts_true_on_corpus(self, spark, sf_dir):
        rows = scale_ops.agg_weighted_median_approx(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.ok_below and r.ok_incl, r


class TestDhashNearDup:
    def test_same_pattern_class_is_near(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        rows = P.multimodal_dhash_neardup(spark, sf_dir).collect()
        assert rows
        near = [r for r in rows if r.is_near]
        assert near
        for r in rows:
            assert 0 <= r.hamming <= 64
            assert r.is_near == (r.hamming <= 6)
            # near-dups only occur within a base-pattern class (cross
            # class hamming is >= 22 by construction)
            if r.is_near:
                assert r.id_a % 25 == r.id_b % 25


class TestAudioNearDup:
    def test_same_waveform_class_is_near(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        rows = P.multimodal_audio_neardup(spark, sf_dir).collect()
        assert rows
        near = [r for r in rows if r.is_near]
        assert near
        for r in rows:
            assert 0 <= r.hamming <= 31
            assert r.is_near == (r.hamming <= 2)
            # the envelope-delta hash separates base waveforms: near
            # pairs must come from the same base class
            if r.is_near:
                assert r.id_a % 25 == r.id_b % 25
        # every same-base candidate pair should survive as near (the
        # sparse +50 noise cannot flip a 15-sample integer envelope
        # delta of this waveform family by more than 2 bits)
        same_base = [r for r in rows if r.id_a % 25 == r.id_b % 25]
        assert same_base
        assert sum(1 for r in same_base if r.is_near) >= 0.9 * len(same_base)


class TestHapaxRatio:
    def test_planted_counts(self, spark, monkeypatch):
        from warpdb_spark.inventory import pipeline_ops as P
        import unittest.mock as mock

        docs = spark.createDataFrame(
            [(1, "web", "a a b"), (2, "web", "a c"), (3, "web", "   ")],
            ["doc_id", "source", "text"],
        )
        with mock.patch.object(P, "_t", lambda s, d, n: docs):
            r = P.text_hapax_ratio(spark, "x").collect()[0]
        # tokens: a a b a c -> vocab {a:3, b:1, c:1}; blank doc excluded
        assert r.n_tokens == 5 and r.vocab == 3 and r.n_hapax == 2
        assert r.hapax_share == round(2 / 3, 6)
        assert r.type_token_ratio == 0.6


class TestSourceVocabJaccard:
    def test_planted_overlap(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        docs = spark.createDataFrame(
            [
                (1, "s1", "apple banana cherry"),
                (2, "s2", "apple banana date"),
                (3, "s3", "fig grape"),
            ],
            ["doc_id", "source", "text"],
        )
        monkeypatch.setattr(so, "_t", lambda s, d, n: docs)
        rows = {
            (r.src_a, r.src_b): r
            for r in so.text_source_vocab_jaccard(spark, "x").collect()
        }
        r = rows[("s1", "s2")]
        assert r.n_common == 2 and r.vocab_jaccard == 0.5  # 2 / (3+3-2)
        assert rows[("s1", "s3")].n_common == 0
        assert rows[("s1", "s3")].vocab_jaccard == 0.0

    def test_grid_complete_on_corpus(self, spark, sf_dir):
        rows = scale_ops.text_source_vocab_jaccard(spark, sf_dir).collect()
        # all unordered source pairs present, including zero-overlap ones
        srcs = {r.src_a for r in rows} | {r.src_b for r in rows}
        assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
        for r in rows:
            assert 0.0 <= r.vocab_jaccard <= 1.0


class TestInterarrivalProfile:
    def test_planted_gaps(self, spark, monkeypatch):
        import datetime as dt

        import warpdb_spark.inventory.scale_ops as so

        t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        ev = spark.createDataFrame(
            [
                (1, "a", t0),
                (2, "a", t0 + dt.timedelta(seconds=10)),
                (3, "a", t0 + dt.timedelta(seconds=30)),
            ],
            "event_id long, event_type string, ts timestamp",
        )
        monkeypatch.setattr(so, "_t", lambda s, d, n: ev)
        r = so.events_interarrival_profile(spark, "x").collect()[0]
        # gaps 10, 20: p50 selects rank ceil(0.5*2)=1 -> 10; p90 rank 2 -> 20
        assert r.n_gaps == 2 and r.mean_gap_s == 15.0
        assert r.p50_gap_s == 10 and r.p90_gap_s == 20 and r.max_gap_s == 20


class TestWinsorize:
    def test_planted_clamp(self, spark, monkeypatch):
        import datetime as dt

        import warpdb_spark.inventory.scale_ops as so

        t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        # 20 values 1..20: p5 cut = rank ceil(1)=1 -> 1.0; p95 cut =
        # rank ceil(19)=19 -> 19.0; only value 20 clamps (down to 19)
        ev = spark.createDataFrame(
            [(i, "a", float(i), t0) for i in range(1, 21)],
            "event_id long, event_type string, value double, ts timestamp",
        )
        monkeypatch.setattr(so, "_t", lambda s, d, n: ev)
        r = so.events_value_winsorize(spark, "x").collect()[0]
        assert r.n == 20 and r.p5_cut == 1.0 and r.p95_cut == 19.0
        assert r.n_clamped_lo == 0 and r.n_clamped_hi == 1
        assert r.mean_raw == 10.5 and r.mean_winsorized == 10.45

    def test_bounds_on_corpus(self, spark, sf_dir):
        for r in scale_ops.events_value_winsorize(spark, sf_dir).collect():
            assert r.p5_cut <= r.p95_cut
            assert r.n_clamped_lo + r.n_clamped_hi <= r.n


class TestDegreeDistribution:
    def test_histogram_totals_match_user_count(self, spark, sf_dir):
        rows = scale_ops.graph_degree_distribution(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.degree >= 1 and r.n_users >= 1


class TestPartitionSkewReport:
    def test_buckets_cover_corpus(self, spark, sf_dir):
        from warpdb_spark.inventory import analytics_ext as ax

        rows = ax.table_partition_skew_report(spark, sf_dir).collect()
        assert 1 <= len(rows) <= 32
        docs = ax._t(spark, sf_dir, "documents")
        assert sum(r.n_rows for r in rows) == docs.count()
        # skew ratios average to ~1 by construction (bucket count times
        # share of total)
        mean_skew = sum(r.row_skew for r in rows) / len(rows)
        assert abs(mean_skew - 1.0) < 0.01


class TestKnnIndegree:
    def test_votes_conserved(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        rows = P.similarity_knn_indegree(spark, sf_dir).collect()
        emb = P._t(spark, sf_dir, "embeddings")
        n_queries = emb.filter(F.col("vec_id") % 5 == 0).count()
        # every query casts exactly 5 votes
        assert sum(r.in_degree * r.n_vecs for r in rows) == 5 * n_queries


class TestPairMargin:
    def test_planted_margin(self, spark, monkeypatch):
        from warpdb_spark.inventory import pipeline_ops as P
        import unittest.mock as mock

        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),      # query
                (1, [1.0, 0.01]),     # clear top-1
                (2, [0.0, 1.0]),      # orthogonal
                (30, [0.7, 0.7]),     # diagonal
            ],
            "vec_id long, embedding array<float>",
        )
        with mock.patch.object(P, "_t", lambda s, d, n: emb):
            rows = {r.query_id: r for r in P.similarity_pair_margin(spark, "x").collect()}
        r = rows[0]
        assert r.top1_id == 1 and r.top1_cos > 0.99
        assert r.margin > 0.2 and r.is_confident

    def test_margin_consistency_on_corpus(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        for r in P.similarity_pair_margin(spark, sf_dir).collect():
            assert r.top1_cos >= r.top2_cos
            assert r.margin == round(r.top1_cos - r.top2_cos, 6)
            assert r.is_confident == (r.margin >= 0.05)


class TestCosineHistogram:
    def test_bins_and_totals(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        rows = P.embedding_cosine_histogram(spark, sf_dir).collect()
        emb = P._t(spark, sf_dir, "embeddings")
        n = emb.filter(F.col("vec_id") % 7 == 0).count()
        assert sum(r.n_pairs for r in rows) == n * (n - 1) // 2
        for r in rows:
            assert 0 <= r.bin <= 9
            # bin means must sit inside the bin's [-1,1) interval (with
            # rounding slack at the edges)
            lo, hi = r.bin / 5 - 1, (r.bin + 1) / 5 - 1
            assert lo - 1e-6 <= r.mean_cosine <= hi + 1e-6


class TestTrainValSplit:
    def test_shares_and_totals(self, spark, sf_dir):
        from warpdb_spark.inventory import pipeline_ops as P

        rows = P.reshape_train_val_split(spark, sf_dir).collect()
        docs = P._t(spark, sf_dir, "documents")
        assert sum(r.n_docs for r in rows) == docs.count()
        assert {r.split for r in rows} <= {"train", "val", "test"}
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r.source, []).append(r.share_of_source)
        for src, shares in by_src.items():
            assert abs(sum(shares) - 1.0) < 1e-5, src


class TestLeakageSafeSplit:
    def test_planted_near_dups_never_straddle(self, spark):
        from warpdb_spark.inventory import pipeline_ops as P
        import unittest.mock as mock

        # md5-uniforms: u(2)=0.78 (train), u(44)=0.9652 (val), u(3)=0.925
        # (train) — so the naive per-doc split separates the planted dup
        # pair (2, 44) across train/val.
        dup = (
            "the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill nearby"
        )
        docs = spark.createDataFrame(
            [
                (2, "s1", len(dup), dup),
                (44, "s2", len(dup), dup),
                (3, "s1", 30, "entirely different unique content with no overlap at all here today"),
            ],
            ["doc_id", "source", "n_chars", "text"],
        )
        with mock.patch.object(P, "_t", lambda s, d, n: docs):
            rows = {r.doc_id: r for r in P.reshape_leakage_safe_split(spark, "x").collect()}
        assert rows[2].split_key == 2 and rows[44].split_key == 2
        # cluster key forces BOTH onto the min-id doc's side
        assert rows[2].split == rows[44].split == "train"
        # ...and the doc the naive hash would have sent to val is the
        # leak the entry reports
        assert rows[44].moved and not rows[2].moved
        # unclustered doc: own-id key, never moved
        assert rows[3].split_key == 3 and not rows[3].moved


@pytest.mark.slow
class TestLeakageSafeSplitFuzz:
    def test_random_corpora_match_oracle(self, spark):
        """Randomized replica check: random corpora with planted dup
        groups and decoy docs — the Spark entry and the DuckDB oracle
        SQL (_LEAKAGE_SPLIT_SQL on the SAME rows) must agree row for
        row, including the moved flags."""
        import random

        import duckdb
        import pandas as pd
        import unittest.mock as mock

        from warpdb_spark.inventory import pipeline_ops as P
        from warpdb_spark.inventory.pipeline_ops import _LEAKAGE_SPLIT_SQL

        words = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon"
        ).split()
        for seed in range(6):
            rng = random.Random(seed)
            rows = []
            ids = rng.sample(range(1, 400), 36)
            i = 0
            while i < len(ids):
                gsize = rng.choice([1, 1, 2, 3])
                gsize = min(gsize, len(ids) - i)
                base = " ".join(rng.choices(words, k=14))
                for j in range(gsize):
                    # group members share the text verbatim (jaccard 1)
                    rows.append(
                        (ids[i + j], f"s{rng.randint(0, 2)}", len(base), base)
                    )
                i += gsize
            pdf = pd.DataFrame(
                rows, columns=["doc_id", "source", "n_chars", "text"]
            )
            con = duckdb.connect()
            con.register("documents", pdf)
            want = sorted(
                tuple(r) for r in con.execute(_LEAKAGE_SPLIT_SQL).fetchall()
            )
            docs = spark.createDataFrame(pdf)
            with mock.patch.object(P, "_t", lambda s, d, n: docs):
                got = sorted(
                    tuple(r)
                    for r in P.reshape_leakage_safe_split(spark, "x").collect()
                )
            assert got == want, f"seed {seed}"


class TestDedupLossBySource:
    def test_planted_loss(self, spark, monkeypatch):
        from warpdb_spark.inventory import pipeline_ops as P
        import unittest.mock as mock

        docs = spark.createDataFrame(
            [
                (1, "s1", 10, "same text here"),
                (2, "s1", 10, "same text here"),   # dup of 1, same source
                (3, "s2", 20, "same text here"),   # dup of 1, other source
                (4, "s2", 30, "unique content"),
            ],
            ["doc_id", "source", "n_chars", "text"],
        )
        with mock.patch.object(P, "_t", lambda s, d, n: docs):
            rows = {r.source: r for r in P.dedup_loss_by_source(spark, "x").collect()}
        assert rows["s1"].n_docs == 2 and rows["s1"].n_docs_kept == 1
        assert rows["s1"].char_loss_share == 0.5
        # s2's dup loses to doc 1's fingerprint entirely
        assert rows["s2"].n_docs_kept == 1 and rows["s2"].n_chars_kept == 30
        assert rows["s2"].char_loss_share == 0.4


class TestDedupRateByBatch:
    def test_batches_bounded_and_rates_valid(self, spark, sf_dir):
        from warpdb_spark.inventory import analytics_ext as ax

        rows = ax.stream_dedup_rate_by_batch(spark, sf_dir).collect()
        assert rows
        docs = ax._t(spark, sf_dir, "documents")
        assert sum(r.n_docs for r in rows) == docs.count()
        for r in rows:
            assert 0 <= r.n_novel <= r.n_docs
            assert 0.0 <= r.novelty_rate <= 1.0


class TestZipfAlpha:
    def test_planted_power_law(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        # counts c_r = round(3000 / r): an alpha=1 power law
        words = " ".join(
            " ".join([f"w{r:02d}"] * round(3000 / r)) for r in range(1, 61)
        )
        docs = spark.createDataFrame([(1, words)], ["doc_id", "text"])
        monkeypatch.setattr(so, "_t", lambda spark, sf_dir, name: docs)
        r = so.text_zipf_alpha(spark, "x").first()
        assert r.n_terms == 50
        assert 0.95 < r.zipf_alpha < 1.05
        assert r.r2 > 0.999

    def test_corpus_r2_in_range(self, spark, sf_dir):
        r = scale_ops.text_zipf_alpha(spark, sf_dir).first()
        assert 0.0 <= r.r2 <= 1.0 and r.zipf_alpha > 0


class TestWeightedMedian:
    def test_planted_weights_shift_median(self, spark, monkeypatch):
        import warpdb_spark.inventory.scale_ops as so

        # type a: values 1..4 with weights 1,1,1,5 (user_id%5+1):
        # total 8, half 4 -> first value whose cumw >= 4 is value=4
        rows = [
            (1, "a", 1.0, 0),   # wt 1
            (2, "a", 2.0, 0),   # wt 1
            (3, "a", 3.0, 0),   # wt 1
            (4, "a", 4.0, 4),   # wt 5
            # type b: uniform weights -> plain lower median of 10,20,30 = 20
            (5, "b", 10.0, 0), (6, "b", 20.0, 0), (7, "b", 30.0, 0),
        ]
        ev = spark.createDataFrame(
            rows, ["event_id", "event_type", "value", "user_id"]
        )
        monkeypatch.setattr(so, "_t", lambda spark, sf_dir, name: ev)
        got = {r.event_type: r for r in so.agg_weighted_median(spark, "x").collect()}
        assert got["a"].total_weight == 8
        assert got["a"].weighted_median == 4.0  # heavy tail pulls it up
        assert got["b"].weighted_median == 20.0

    def test_uniform_weights_bounded_by_range(self, spark, sf_dir):
        for r in scale_ops.agg_weighted_median(spark, sf_dir).collect():
            assert r.total_weight >= r.n  # weights are >= 1
            assert r.weighted_median is not None


def _slot(df, eager=False):
    """One call site, so one ``persist_scoped`` slot, for the tests below."""
    return P.persist_scoped(df, eager=eager)


def _frame(spark, n=40, mod=7):
    return spark.range(n).select((F.col("id") % mod).alias("k"), "id")


def _sites():
    return [s for s in P._slots if s[0] == _slot.__code__.co_filename]


def _held():
    """The (key, frame) held by ``_slot``'s slot."""
    (site,) = _sites()
    return P._slots[site]


def _age_key():
    """Re-key the held frame as if a previous Spark application held it."""
    (site,) = _sites()
    key, held = P._slots[site]
    P._slots[site] = (("app-from-a-previous-session",) + key[1:], held)
    return key


@pytest.fixture
def clean_slot():
    def clear():
        for site in _sites():
            P._slots.pop(site)[1].unpersist()

    clear()
    yield
    clear()


@pytest.mark.usefixtures("clean_slot")
class TestKeyedCacheSlots:
    """``warpdb_spark.persist.persist_scoped`` on small synthetic frames:
    one slot per call site, keyed by (applicationId, the persisted
    frame's semantic hash, its column names). The behaviours were first
    pinned on the prefix-offset, LPA and user-edge caches that the slot
    helper replaced."""

    def test_prefix_cache_reused_across_consumers(self, spark):
        """Two consumers composing over one input through a shared
        helper site get the first call's frame back, still persisted."""
        first = _slot(_frame(spark))
        assert first.storageLevel.useMemory
        second = _slot(_frame(spark))
        assert second is first
        assert first.storageLevel.useMemory

    def test_prefix_cache_evicts_on_new_key(self, spark):
        """A different key evicts the slot's frame and unpersists it."""
        first = _slot(_frame(spark))
        first.count()
        second = _slot(_frame(spark, n=50))
        assert second is not first
        assert _held()[1] is second
        assert not first.storageLevel.useMemory
        assert second.storageLevel.useMemory

    def test_lpa_cache_keyed_by_sf_dir(self, spark):
        """The key is the persisted frame, not the upstream input: the
        same input under a different parameter (or alias) misses, the
        same input and parameter hits."""
        first = _slot(_frame(spark, mod=7))
        assert _slot(_frame(spark, mod=7)) is first
        other = _slot(_frame(spark, mod=5))
        assert other is not first
        assert {r.k for r in other.collect()} == set(range(5))
        renamed = _slot(_frame(spark, mod=5).withColumnRenamed("k", "bucket"))
        assert renamed is not other and renamed.columns == ["bucket", "id"]

    def test_session_restart_misses_cache(self, spark):
        """A frame held under a previous application id is never handed
        back: the call misses, and evicting the dead frame is tolerated."""
        first = _slot(_frame(spark))
        live_key = _age_key()
        second = _slot(_frame(spark))
        assert second is not first
        assert _held()[0] == live_key

    def test_clear_cache_rebuilds_unpersisted_hit(self, spark):
        """``spark.catalog.clearCache()`` unpersists the held frame behind
        the slot's back; a same-key call then rebuilds and re-persists
        instead of serving the unpersisted frame (``is_cached`` stays
        stale-True here — ``storageLevel`` consults the cache manager)."""
        first = _slot(_frame(spark))
        assert first.storageLevel.useMemory
        spark.catalog.clearCache()
        assert not first.storageLevel.useMemory
        second = _slot(_frame(spark))
        assert second is not first
        assert second.storageLevel.useMemory
        assert _held()[1] is second

    def test_hit_launches_no_job(self, spark):
        sc = spark.sparkContext
        first = _slot(_frame(spark), eager=True)
        sc.setJobGroup("persist-scoped-hit", "hit")
        try:
            again = _slot(_frame(spark), eager=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert again is first
        assert list(sc.statusTracker().getJobIdsForGroup("persist-scoped-hit")) == []

    def test_equal_plan_miss_leaves_new_frame_cached(self, spark):
        """On a miss whose old and new plans are equal (here: a stale
        application id), the old frame is unpersisted BEFORE the new one
        is persisted — the reverse order would drop the cache entry the
        new frame resolves to."""
        first = _slot(_frame(spark), eager=True)
        _age_key()
        second = _slot(_frame(spark))
        assert second is not first
        assert second.storageLevel.useMemory

    def test_racing_threads_leave_one_frame_persisted(self, spark):
        """Threads calling one site with different frames never leak a
        persisted frame: evict-persist-store is one locked step, so only
        the frame the slot ends up holding stays persisted."""
        frames = [_frame(spark, n=40 + i) for i in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                calls = [pool.submit(_slot, frames[i % 8]) for i in range(48)]
                for call in calls:
                    call.result(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        persisted = [f for f in frames if f.storageLevel.useMemory]
        assert persisted == [_held()[1]]


# Every inventory entry whose construction reaches a persist_scoped slot.
SLOT_ROUTED_ENTRIES = (
    "decontam_bloom_prefilter",
    "dedup_cluster_components",
    "dedup_containment_ngram",
    "dedup_cross_modal_planted",
    "dedup_cross_modal_verdict",
    "dedup_embedding_lsh",
    "dedup_keeper_by_quality",
    "dedup_max_shared_run",
    "dedup_minhash_estimate_calibration",
    "dedup_minhash_lsh",
    "dedup_minhash_survivors",
    "dedup_ngram_jaccard",
    "dedup_span_boilerplate",
    "events_interarrival_profile",
    "events_psi_value_drift",
    "events_resample_interpolate",
    "events_resample_locf",
    "events_sessionize_by_type",
    "graph_adamic_adar",
    "graph_degree_distribution",
    "graph_label_propagation",
    "graph_neighbor_jaccard",
    "graph_triangle_count",
    "multimodal_audio_neardup",
    "multimodal_dhash_neardup",
    "reshape_global_ordinal",
    "reshape_leakage_safe_split",
    "search_eval_ndcg",
    "shard_assign_bytes",
    "similarity_mmr_rerank",
    "stats_chi2_independence",
    "stream_ks_drift_by_batch",
    "stream_psi_drift_by_batch",
    "stream_unified_drift_by_batch",
    "text_kneser_ney_bigram",
    "text_source_vocab_jaccard",
)


@pytest.mark.slow
def test_slot_routed_entries_stay_bounded_across_corpora(spark, sf_dir, persisted_frames):
    """A long-lived session sweeping corpora holds at most one frame per
    slot: after a pass over a second, larger corpus the persisted-frame
    count is no greater than after the first pass."""
    from warpdb_spark import inventory

    queries, _ = inventory.load_all()
    larger = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    counts = []
    for corpus in (sf_dir, larger):
        for name in SLOT_ROUTED_ENTRIES:
            queries[name](spark, corpus).collect()
        counts.append(persisted_frames())
    assert counts[1] <= counts[0], counts
