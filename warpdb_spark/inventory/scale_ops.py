"""Scale-pattern inventory (round 3, third session): operators whose
point is the *distributed shape* as much as the answer — triangle
counting (degree-ordered orientation), truncated EWMA smoothing (fixed
lag horizon instead of an unbounded recurrence), a fasttext-style
hashed linear quality scorer (feature hashing keeps the model O(1)
regardless of vocabulary), and scale-safe global row numbering
(two-phase partition offsets instead of one global window).

Reference parity: the reference engine (src/warpdb.cpp) has no graph,
model-scoring, or ordering facilities beyond ORDER BY; these are
superset operators following SURVEY §2's "pipeline operators a 100 TB
corpus needs" mandate. Every entry is exact-oracle-checked against
DuckDB (integer-space scoring and repr-exact weight literals keep both
engines bit-comparable at 6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warpdb_spark.persist import persist_scoped
from warpdb_spark.sources.readers import cached_table, ns_to_timestamp


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-keyed metadata memo (r12): see sources.readers.cached_table
    return cached_table(spark, sf_dir, name)


# the ONE corpus tokenizer every text entry shares (hoisted to
# functions.text in round 6); its DuckDB twin DD_ALNUM_TOKS is still
# repeated verbatim in each oracle string here — change both together
from warpdb_spark.functions.text import alnum_tokens as _alnum_tokens  # noqa: E402


def _nulls_last_value_chunk(col: str = "value"):
    """Order-chunk for an asc_nulls_last value order with NO reachable
    sentinel: struct(is_null, is_nan, floor(value)). The previous
    integer sentinel (1 << 62) corrupted the walk for any double >=
    2^62 — floor() of such a value lands AT or past the sentinel,
    ordering real rows after NULLs (r8 advice). The boolean fields
    make NULL strictly greater than everything and NaN greater than
    every finite/infinite value but less than NULL — exactly Spark's
    (and DuckDB's) asc_nulls_last double order, for every
    representable value including NaN (r9 review: floor(NaN) chunked
    it near 0, ordering it before positive values while the window
    order puts it last among non-nulls). The chunked-scan primitives
    accept struct chunks (partition + tiny-offsets ordering only)."""
    c = F.col(col)
    return F.struct(
        c.isNull().alias("n"),
        F.coalesce(F.isnan(c), F.lit(False)).alias("nan"),
        F.coalesce(F.floor(c), F.lit(0)).cast("long").alias("v"),
    )


def _user_edges(spark, sf_dir):
    """Undirected canonical user-interaction edges — consecutive users
    within an event_type (linear construction), self-loops dropped,
    deduplicated, a < b. Shared by the graph entries here and
    semantics-identical to ``retrieval_ops.graph_pagerank_users``'s
    directed variant and every graph oracle's edge CTE (the oracles
    spell it as one lead() window — same pair set, DuckDB's scale is
    not Spark's).

    Derivation is the two-pass chunked lead
    (operators/sequence.grouped_lead_pairs, hour chunks): the r8 plan
    audit flagged the previous single ``lead() OVER (PARTITION BY
    event_type ORDER BY ts)`` as a corpus-scale sort on a 5-value key
    — at 100 TB one task would hold ~20% of all events. Chunked, the
    heavy window is partitioned by (event_type, hour) — cardinality
    grows with the data — and the boundary stitch runs over one
    aggregated row per (type, hour).

    Persisted in a ``persist_scoped`` slot (r12, guide §5): graph
    entries reference the edge list from several plan branches (the
    triangle orientation alone reads it five times), and without a
    cache Catalyst REPLICATES this whole multi-shuffle derivation per
    reference — graph_triangle_count's pre-fix plan held 90 copies of
    the events scan. One eager materialization per corpus truncates
    every consumer's plan at an InMemoryTableScan."""
    from warpdb_spark.operators.sequence import grouped_lead_pairs, hour_chunk

    ev = _t(spark, sf_dir, "events")
    nx = grouped_lead_pairs(
        ev, "event_type", ["ts", "event_id"], "user_id", hour_chunk("ts")
    )
    return persist_scoped(
        nx.filter(F.col("dst") != F.col("src"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct(),
        eager=True,
    )


# --- graph: triangle counting ------------------------------------------------


def graph_triangle_count(spark, sf_dir):
    """Per-user triangle participation counts over the user-interaction
    graph (same linear edge construction as ``graph_pagerank_users``:
    consecutive users within an event_type, canonicalized undirected).

    Spark path: degree-ordered orientation (operators/triangles.py) —
    out-degrees bounded by O(sqrt(2m)), wedge volume O(m^{3/2}), five
    hash shuffles total, nothing quadratic in a hot node's degree. The
    oracle enumerates the same triangle set with a plain id-ordered
    3-way self-join (fine at sf0.01; the orientation is what survives
    a power-law graph at 100 TB).
    """
    from warpdb_spark.operators.triangles import triangle_counts

    edges = _user_edges(spark, sf_dir)
    return triangle_counts(edges).select(
        F.col("id").alias("user_id"), "n_triangles"
    )


# --- retrieval: MMR diversified re-ranking -----------------------------------

_MMR_LAMBDA = 0.7
_MMR_MU = 0.3  # NOT computed as 1-λ: Python 1-0.7 != the SQL literal 0.3
_MMR_SHORTLIST = 20
_MMR_K = 3


def similarity_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's exact cosine top-20 shortlist, greedily
    pick 3 results maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-picked — the diversity re-rank every RAG/retrieval stack
    bolts onto plain top-k.

    Scale shape: the ONLY corpus-sized stage is the shortlist scan
    (broadcast queries, one TakeOrdered per query — the
    ``similarity_topk_bruteforce`` path); everything after runs on
    k-bounded frames (≤20 rows/query, ≤400 pairwise sims/query), so
    the greedy loop — inherently sequential — costs O(queries·k²)
    total, independent of corpus size. The 3 greedy steps are UNROLLED
    as dataframe stages (the PageRank fixed-iteration pattern), every
    score rounded to 6 dp before each argmax with id tie-breaks, so
    the DuckDB oracle replays selection exactly.
    """
    from warpdb_spark.functions import vectors as V
    from warpdb_spark.operators import similarity as S

    lam, mu = _MMR_LAMBDA, _MMR_MU
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    short = persist_scoped(
        S.cosine_topk(
            emb, queries, k=_MMR_SHORTLIST, id_col="vec_id", vec_col="embedding"
        )
    )

    # pairwise sims among each query's shortlist members (≤ k² rows/query)
    va = emb.select(F.col("vec_id").alias("id_x"), F.col("embedding").alias("vx"))
    vb = emb.select(F.col("vec_id").alias("id_y"), F.col("embedding").alias("vy"))
    # Broadcast hints throughout (r13): every frame below the shortlist
    # scan is k-bounded by construction (≤ |queries|·k = 200 shortlist
    # rows, ≤ |queries|·k² = 3,800 sims rows at ANY corpus size — the
    # corpus only enters through the persisted `short`/`sims`), yet the
    # planner saw unsized cached relations and picked SortMergeJoin for
    # all 9 joins (9 joins × 2 sort-exchanges in the r12 plan). Join
    # strategy is semantics-free for these inner equi-joins.
    pairs = (
        short.select("query_id", F.col("neighbor_id").alias("id_x"))
        .join(
            F.broadcast(
                short.select("query_id", F.col("neighbor_id").alias("id_y"))
            ),
            "query_id",
        )
        .filter(F.col("id_x") != F.col("id_y"))
    )
    sims = persist_scoped(
        pairs.join(F.broadcast(va), "id_x")
        .join(F.broadcast(vb), "id_y")
        .select(
            "query_id",
            "id_x",
            "id_y",
            F.round(V.cosine_similarity(F.col("vx"), F.col("vy")), 6).alias("s"),
        )
    )

    s1 = short.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("s1_id"),
        F.col("cosine").alias("s1_score"),
    )
    c2 = (
        short.join(F.broadcast(s1), "query_id")
        .filter(F.col("neighbor_id") != F.col("s1_id"))
        .join(
            F.broadcast(sims).select(
                "query_id",
                F.col("id_x").alias("neighbor_id"),
                F.col("id_y").alias("s1_id"),
                F.col("s").alias("sim1"),
            ),
            ["query_id", "neighbor_id", "s1_id"],
        )
        .withColumn(
            "mmr2", F.round(lam * F.col("cosine") - mu * F.col("sim1"), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("mmr2"), F.col("neighbor_id"))
    s2 = (
        c2.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id", F.col("neighbor_id").alias("s2_id"), F.col("mmr2").alias("s2_score")
        )
    )
    c3 = (
        short.join(F.broadcast(s1), "query_id")
        .join(F.broadcast(s2), "query_id")
        .filter(
            (F.col("neighbor_id") != F.col("s1_id"))
            & (F.col("neighbor_id") != F.col("s2_id"))
        )
        .join(
            F.broadcast(sims).select(
                "query_id",
                F.col("id_x").alias("neighbor_id"),
                F.col("id_y").alias("s1_id"),
                F.col("s").alias("sim1"),
            ),
            ["query_id", "neighbor_id", "s1_id"],
        )
        .join(
            F.broadcast(sims).select(
                "query_id",
                F.col("id_x").alias("neighbor_id"),
                F.col("id_y").alias("s2_id"),
                F.col("s").alias("sim2"),
            ),
            ["query_id", "neighbor_id", "s2_id"],
        )
        .withColumn(
            "mmr3",
            F.round(
                lam * F.col("cosine")
                - mu * F.greatest(F.col("sim1"), F.col("sim2")),
                6,
            ),
        )
    )
    w3 = Window.partitionBy("query_id").orderBy(F.desc("mmr3"), F.col("neighbor_id"))
    s3 = (
        c3.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id", F.col("neighbor_id").alias("s3_id"), F.col("mmr3").alias("s3_score")
        )
    )
    out = (
        s1.select(
            "query_id",
            F.lit(1).alias("mmr_rank"),
            F.col("s1_id").alias("vec_id"),
            F.col("s1_score").alias("mmr_score"),
        )
        .unionAll(
            s2.select(
                "query_id", F.lit(2).alias("mmr_rank"),
                F.col("s2_id").alias("vec_id"), F.col("s2_score").alias("mmr_score"),
            )
        )
        .unionAll(
            s3.select(
                "query_id", F.lit(3).alias("mmr_rank"),
                F.col("s3_id").alias("vec_id"), F.col("s3_score").alias("mmr_score"),
            )
        )
    )
    return out


def _mmr_oracle() -> str:
    lam, mu, k = _MMR_LAMBDA, _MMR_MU, _MMR_SHORTLIST
    return (
        "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
        "FROM embeddings WHERE vec_id < 10), "
        "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine "
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id), "
        "short AS (SELECT * FROM (SELECT *, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        f"FROM scored) WHERE rank <= {k}), "
        "sims AS (SELECT a.query_id, a.neighbor_id AS id_x, b.neighbor_id AS id_y, "
        "round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), "
        "CAST(eb.embedding AS DOUBLE[])), 6) AS s "
        "FROM short a JOIN short b ON a.query_id = b.query_id "
        "AND a.neighbor_id <> b.neighbor_id "
        "JOIN embeddings ea ON ea.vec_id = a.neighbor_id "
        "JOIN embeddings eb ON eb.vec_id = b.neighbor_id), "
        "s1 AS (SELECT query_id, neighbor_id AS s1_id, cosine AS s1_score "
        "FROM short WHERE rank = 1), "
        "c2 AS (SELECT short.query_id, short.neighbor_id, "
        f"round({lam} * short.cosine - {mu} * sims.s, 6) AS mmr2 "
        "FROM short JOIN s1 ON s1.query_id = short.query_id "
        "AND short.neighbor_id <> s1.s1_id "
        "JOIN sims ON sims.query_id = short.query_id "
        "AND sims.id_x = short.neighbor_id AND sims.id_y = s1.s1_id), "
        "s2 AS (SELECT query_id, neighbor_id AS s2_id, mmr2 AS s2_score FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY mmr2 DESC, neighbor_id) AS rn FROM c2) WHERE rn = 1), "
        "c3 AS (SELECT short.query_id, short.neighbor_id, "
        f"round({lam} * short.cosine - {mu} * greatest(x.s, y.s), 6) AS mmr3 "
        "FROM short JOIN s1 ON s1.query_id = short.query_id "
        "JOIN s2 ON s2.query_id = short.query_id "
        "AND short.neighbor_id <> s1.s1_id AND short.neighbor_id <> s2.s2_id "
        "JOIN sims x ON x.query_id = short.query_id "
        "AND x.id_x = short.neighbor_id AND x.id_y = s1.s1_id "
        "JOIN sims y ON y.query_id = short.query_id "
        "AND y.id_x = short.neighbor_id AND y.id_y = s2.s2_id), "
        "s3 AS (SELECT query_id, neighbor_id AS s3_id, mmr3 AS s3_score FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY mmr3 DESC, neighbor_id) AS rn FROM c3) WHERE rn = 1) "
        "SELECT query_id, 1 AS mmr_rank, s1_id AS vec_id, s1_score AS mmr_score FROM s1 "
        "UNION ALL SELECT query_id, 2, s2_id, s2_score FROM s2 "
        "UNION ALL SELECT query_id, 3, s3_id, s3_score FROM s3"
    )


# --- dedup: shared capped candidate generation --------------------------------
#
# Every pair-report dedup entry routes its candidate generation
# through operators.dedup.capped_key_pairs (bounded buckets, distinct
# pairs) with an engine-portable md5 key so the DuckDB oracle replays
# the identical candidate set. Two key policies (rationale in the
# helper's docstring): anchor grams for run/containment detection,
# minhash bands for Jaccard-score calibration.

_ANCHOR_CAP = 50  # max document frequency for an anchor gram
_BAND_CAP = 100  # max bucket size for a signature band


def _anchor_keys(sh, gram_col):
    """(doc_id, key) anchor assignment: one row per distinct gram per
    doc, key = first 16 md5 hex chars of the gram (portable across
    engines; fixed-width keys also cut the shuffled payload vs raw
    gram strings). Empty gram arrays self-exclude (explode of an
    empty array emits no rows)."""
    return sh.select("doc_id", F.explode(gram_col).alias("__gm")).select(
        "doc_id", F.substring(F.md5("__gm"), 1, 16).alias("key")
    )


def _capped_pairs_sql(inv_cte: str, cap: int) -> str:
    """DuckDB replay of capped_key_pairs over an ``(doc_id, key)`` CTE
    named ``inv_cte``: emits ``ok`` (buckets within cap) and ``cand``
    (distinct id_a < id_b within surviving buckets)."""
    return (
        f"ok AS (SELECT key FROM {inv_cte} GROUP BY key "
        f"HAVING count(*) <= {cap}), "
        f"cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        f"FROM {inv_cte} a JOIN {inv_cte} b "
        "ON a.key = b.key AND a.doc_id < b.doc_id "
        "JOIN ok ON ok.key = a.key)"
    )


def _anchor_inv_sql(sh_cte: str, gram_col: str) -> str:
    """DuckDB replay of _anchor_keys: unnest the gram array, md5-16."""
    return (
        f"inv0 AS (SELECT doc_id, unnest({gram_col}) AS gm FROM {sh_cte}), "
        "inv AS (SELECT doc_id, substr(md5(gm), 1, 16) AS key FROM inv0)"
    )


# --- dedup: asymmetric containment -------------------------------------------


def dedup_containment_ngram(spark, sf_dir):
    """Asymmetric near-dup detection by word-3-gram CONTAINMENT —
    |Sa ∩ Sb| / |Sa| — the direction-aware score Jaccard can't express
    (a short doc fully embedded in a long one scores ~1 one way and low
    the other; Jaccard dilutes it). The quote/excerpt/boilerplate
    detector of a curation pipeline.

    Candidates come from the capped ANCHOR-GRAM index
    (``operators.dedup.capped_key_pairs``): one md5-16 key per
    distinct 3-gram, buckets over ``_ANCHOR_CAP`` docs dropped. Exact
    recall for every pair sharing a non-boilerplate gram — which any
    containment >= 0.5 pair does unless ALL of the smaller doc's
    grams are corpus-hot — and the candidate count is bounded by
    n_grams * cap^2 at any corpus size (the old (lang, source) block
    join squared up within a block). MinHash banding would be the
    WRONG candidate policy here: an excerpt embedded in a long doc
    has high containment but Jaccard diluted toward 0, exactly the
    pair a Jaccard-recall filter drops. Scoring joins the shingle
    frame (persisted once, three consumers) back to both pair sides —
    JVM array ops in whole-stage codegen.
    """
    from warpdb_spark.functions import text as T
    from warpdb_spark.operators.dedup import capped_key_pairs

    docs = _t(spark, sf_dir, "documents")
    sh = persist_scoped(
        docs.select(
            "doc_id",
            F.when(
                F.size(F.split(T.normalized_text(F.col("text")), " ")) < F.lit(3),
                F.array(T.normalized_text(F.col("text"))),
            )
            .otherwise(
                F.array_distinct(
                    T.word_ngrams(T.normalized_text(F.col("text")), 3)
                )
            )
            .alias("s"),
        )
    )
    cand = capped_key_pairs(_anchor_keys(sh, "s"), _ANCHOR_CAP)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sa", "sb"))
    scored = pairs.select(
        "id_a",
        "id_b",
        inter.alias("n_common"),
        F.round(inter / F.size("sa"), 6).alias("containment_a_in_b"),
        F.round(inter / F.size("sb"), 6).alias("containment_b_in_a"),
    )
    return scored.filter(
        (F.col("containment_a_in_b") >= 0.5) | (F.col("containment_b_in_a") >= 0.5)
    )


def _contain_oracle() -> str:
    return (
        r"WITH norm AS (SELECT doc_id, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS n FROM documents), "
        "sh AS (SELECT doc_id, "
        "CASE WHEN len(string_split(n,' ')) < 3 THEN [n] "
        "ELSE list_distinct([array_to_string(string_split(n,' ')[i:i+2], ' ') "
        "for i in generate_series(1, len(string_split(n,' '))-2)]) END AS s "
        "FROM norm), "
        + _anchor_inv_sql("sh", "s")
        + ", "
        + _capped_pairs_sql("inv", _ANCHOR_CAP)
        + " SELECT id_a, id_b, n_common, containment_a_in_b, containment_b_in_a FROM ("
        "SELECT id_a, id_b, "
        "CAST(len(list_intersect(a.s, b.s)) AS INT) AS n_common, "
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment_a_in_b, "
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s), 6) AS containment_b_in_a "
        "FROM cand JOIN sh a ON a.doc_id = cand.id_a "
        "JOIN sh b ON b.doc_id = cand.id_b) "
        "WHERE containment_a_in_b >= 0.5 OR containment_b_in_a >= 0.5"
    )


_CONTAIN_ORACLE = _contain_oracle()


_RUN_MIN = 6  # shortest reported shared run (anchor gram size)
_RUN_MAX = 12  # run length bound k


def dedup_max_shared_run(spark, sf_dir):
    """Longest shared contiguous word run per candidate pair, bounded
    at k=12 and floored at 6 — the suffix-array-style exact-substring
    signal that containment/Jaccard can't see (a verbatim 12-word
    quote inside two otherwise-different docs scores near-zero Jaccard
    but is a hard duplication signal for training data).

    Exactness from the n-gram identity: two docs share a contiguous
    word run of length ≥ n ⟺ their word-n-gram sets intersect, so
    ``max(n in 6..12 with overlap)`` IS min(longest-common-word-
    substring, 12) — no suffix array needed at bounded k. The same
    identity drives candidate generation: pairs come from the capped
    6-gram ANCHOR index (``operators.dedup.capped_key_pairs``), so
    recall is EXACT for every pair sharing a run ≥ 6 through at least
    one non-boilerplate 6-gram, and candidates are bounded by
    n_grams * cap^2 at any corpus size (the old (lang, source) block
    join squared up within a block; MinHash banding would miss these
    pairs outright — a 12-word quote between 1000-word docs is
    Jaccard ≈ 0.01). The gram ladders derive from one tokens column
    (tokenize once — codegen does not CSE repeated HOF subtrees) and
    ride the anchor shuffle; overlap tests are JVM array ops in
    whole-stage codegen. Anchor keys are md5-16 so DuckDB replays the
    identical candidate set.
    """
    from warpdb_spark.functions import text as T
    from warpdb_spark.operators.dedup import capped_key_pairs

    ns = list(range(_RUN_MIN, _RUN_MAX + 1))
    docs = _t(spark, sf_dir, "documents")
    # tokenize ONCE into a real column; the gram ladders derive from
    # it instead of re-embedding normalize+split per size
    toksed = docs.select(
        "doc_id", T.tokens(T.normalized_text(F.col("text"))).alias("tk")
    )
    sh = persist_scoped(
        toksed.select(
            "doc_id",
            F.array_distinct(T.word_ngrams_from_tokens(F.col("tk"), 3)).alias("ng3"),
            *[
                F.array_distinct(T.word_ngrams_from_tokens(F.col("tk"), n)).alias(
                    f"ng{n}"
                )
                for n in ns
            ],
        )
    )
    cand = capped_key_pairs(_anchor_keys(sh, f"ng{_RUN_MIN}"), _ANCHOR_CAP)
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("ng3").alias("a3"),
        *[F.col(f"ng{n}").alias(f"a{n}") for n in ns],
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("ng3").alias("b3"),
        *[F.col(f"ng{n}").alias(f"b{n}") for n in ns],
    )
    pairs = cand.join(a, "id_a").join(b, "id_b")
    run = F.greatest(
        *[
            F.when(F.arrays_overlap(F.col(f"a{n}"), F.col(f"b{n}")), F.lit(n))
            .otherwise(F.lit(0))
            for n in ns
        ]
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            run.alias("max_shared_run"),
            F.size(F.array_intersect("a3", "b3")).alias("n_shared_3grams"),
        )
        .filter(F.col("max_shared_run") >= _RUN_MIN)
    )


def _max_run_oracle() -> str:
    ns = [3] + list(range(_RUN_MIN, _RUN_MAX + 1))
    grams = ", ".join(
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len(toks) - {n - 1})]) AS ng{n}"
        for n in ns
    )
    ladder = ", ".join(
        f"CASE WHEN list_has_any(a.ng{n}, b.ng{n}) THEN {n} ELSE 0 END"
        for n in range(_RUN_MIN, _RUN_MAX + 1)
    )
    return (
        r"WITH norm AS (SELECT doc_id, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS nrm FROM documents), "
        "tok AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM norm), "
        f"sh AS (SELECT doc_id, {grams} FROM tok), "
        + _anchor_inv_sql("sh", f"ng{_RUN_MIN}")
        + ", "
        + _capped_pairs_sql("inv", _ANCHOR_CAP)
        + " SELECT id_a, id_b, max_shared_run, n_shared_3grams FROM ("
        "SELECT id_a, id_b, "
        f"greatest({ladder}) AS max_shared_run, "
        "CAST(len(list_intersect(a.ng3, b.ng3)) AS INT) AS n_shared_3grams "
        "FROM cand JOIN sh a ON a.doc_id = cand.id_a "
        "JOIN sh b ON b.doc_id = cand.id_b) "
        f"WHERE max_shared_run >= {_RUN_MIN}"
    )


# --- events: RFM user segmentation -------------------------------------------


def events_user_rfm(spark, sf_dir):
    """RFM (recency / frequency / monetary) user segmentation — the
    classic activity-scoring operator: per-user recency in days from
    the corpus max timestamp, event count, and value total (summed in
    integer cents so combine order can't perturb it), each quintiled
    into 1-5 and combined into the three-digit RFM code.

    One user_id aggregation shuffle; the corpus max rides a one-row
    broadcast. Quintiles use exact ntile over (metric, user_id) — a
    deterministic total order both engines replay; at 100 TB the
    user-level frame is corpus-cardinality/1000s and if even that is
    too large for a sort, the cutpoints come from approx_percentile
    broadcast instead (the `events_equidepth_approx` pattern).
    """
    ev = _t(spark, sf_dir, "events")
    esec = F.col("ts").cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.max(esec).alias("last_sec"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    ref = ev.agg(F.max(esec).alias("ref_sec"))
    per_user = per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.floor((F.col("ref_sec") - F.col("last_sec")) / 86400).cast("bigint").alias(
            "recency_days"
        ),
        "frequency",
        F.round(F.col("cents") / 100.0, 2).alias("monetary"),
        "cents",
    )
    # quintiles: recency ascending = most recent first (best score 5)
    wr = Window.orderBy(F.col("recency_days"), F.col("user_id"))
    wf_ = Window.orderBy(F.desc("frequency"), F.col("user_id"))
    wm = Window.orderBy(F.desc("cents"), F.col("user_id"))
    scored = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(6) - F.ntile(5).over(wr)).alias("r_score"),
        (F.lit(6) - F.ntile(5).over(wf_)).alias("f_score"),
        (F.lit(6) - F.ntile(5).over(wm)).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast(
            "int"
        ),
    )


_RFM_ORACLE = (
    "WITH per_user AS (SELECT user_id, "
    "max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_sec, "
    "CAST(count(*) AS BIGINT) AS frequency, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents "
    "FROM events GROUP BY 1), "
    "ref AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS ref_sec FROM events), "
    "base AS (SELECT user_id, "
    "CAST(floor((ref_sec - last_sec) / 86400.0) AS BIGINT) AS recency_days, "
    "frequency, round(cents / 100.0, 2) AS monetary, cents "
    "FROM per_user CROSS JOIN ref), "
    "scored AS (SELECT user_id, recency_days, frequency, monetary, "
    "6 - ntile(5) OVER (ORDER BY recency_days, user_id) AS r_score, "
    "6 - ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score, "
    "6 - ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_score "
    "FROM base) "
    "SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score, "
    "CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_code FROM scored"
)


# --- graph: Adamic-Adar link prediction --------------------------------------


def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the user-interaction graph:
    for every NON-edge user pair with ≥2 common neighbors, score =
    Σ_z 1/ln(deg(z)) over common neighbors z — hub neighbors count
    less (Adamic & Adar 2003).

    Wedge enumeration from each center z is Σ deg(z)² work; unlike
    triangle counting there is no orientation trick (both endpoints of
    a candidate pair must see the SAME center), so the production knob
    is a center-degree cap: hub centers contribute ≈1/ln(huge) ≈ 0 per
    pair and can be dropped wholesale — the same degenerate-bucket cap
    as MinHash-LSH banding. Here the cap sits above this graph's max
    degree so the oracle replays the full sum. Shuffles: wedge
    self-join on the center key, one (pair) aggregation, one anti-join
    against the edge list.
    """
    edges = _user_edges(spark, sf_dir)  # already session-cached
    directed = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("z"), F.col("b").alias("nbr"))
    deg = directed.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    # center-degree cap: production knob, non-binding on this graph
    capped = directed.join(deg.filter(F.col("deg") <= 1_000_000), "z")
    d1, d2 = capped.alias("d1"), capped.alias("d2")
    wedges = d1.join(
        d2,
        (F.col("d1.z") == F.col("d2.z")) & (F.col("d1.nbr") < F.col("d2.nbr")),
    ).select(
        F.col("d1.nbr").alias("u"),
        F.col("d2.nbr").alias("v"),
        (F.lit(1.0) / F.log(F.col("d1.deg").cast("double"))).alias("contrib"),
    )
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("contrib").alias("aa_raw"),
    )
    non_edges = scored.join(
        edges,
        (scored["u"] == edges["a"]) & (scored["v"] == edges["b"]),
        "left_anti",
    )
    return non_edges.filter(F.col("n_common") >= 2).select(
        F.col("u").alias("user_a"),
        F.col("v").alias("user_b"),
        "n_common",
        F.round("aa_raw", 6).alias("adamic_adar"),
    )


_AA_ORACLE = (
    "WITH nx AS (SELECT user_id AS src, "
    "lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst "
    "FROM events), "
    "E AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM nx WHERE dst IS NOT NULL AND dst <> src), "
    "D AS (SELECT a AS z, b AS nbr FROM E UNION ALL SELECT b, a FROM E), "
    "deg AS (SELECT z, count(*) AS deg FROM D GROUP BY 1), "
    "wedge AS (SELECT d1.nbr AS u, d2.nbr AS v, 1.0 / ln(CAST(deg.deg AS DOUBLE)) AS contrib "
    "FROM D d1 JOIN D d2 ON d1.z = d2.z AND d1.nbr < d2.nbr "
    "JOIN deg ON deg.z = d1.z), "
    "s AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common, sum(contrib) AS aa_raw "
    "FROM wedge GROUP BY 1, 2) "
    "SELECT s.u AS user_a, s.v AS user_b, n_common, round(aa_raw, 6) AS adamic_adar "
    "FROM s LEFT JOIN E ON E.a = s.u AND E.b = s.v "
    "WHERE E.a IS NULL AND n_common >= 2"
)


# --- time series: truncated EWMA --------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_LAGS = 8


def events_ewma_smooth(spark, sf_dir):
    """Exponentially-weighted moving average of event values per user,
    TRUNCATED to a fixed 8-lag horizon: smooth_i =
    Σ_{j<8} (1-α)^j · v_{i-j} / Σ_{j<8, present} (1-α)^j.

    The full EWMA recurrence needs either an unbounded frame (quadratic
    re-aggregation) or sequential state; the truncated form is one
    window shuffle with O(K) work per row and a relative truncation
    error below (1-α)^K ≈ 5.8% of weight — the streaming-friendly
    formulation. Weights enter both engines as repr-exact double
    literals so the arithmetic is bit-identical.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = None, None
    for j in range(_EWMA_LAGS):
        lj = F.col("value") if j == 0 else F.lag("value", j).over(w)
        wj = F.lit((1.0 - _EWMA_ALPHA) ** j)
        t = F.coalesce(lj * wj, F.lit(0.0))
        p = F.when(lj.isNotNull(), wj).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = p if den is None else den + p
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value"), 6).alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


def _ewma_oracle() -> str:
    num_terms, den_terms = [], []
    for j in range(_EWMA_LAGS):
        lj = "value" if j == 0 else f"lag(value, {j}) OVER w"
        wj = repr((1.0 - _EWMA_ALPHA) ** j)
        num_terms.append(f"coalesce(({lj}) * {wj}, 0.0)")
        den_terms.append(f"CASE WHEN ({lj}) IS NOT NULL THEN {wj} ELSE 0.0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return (
        "SELECT event_id, user_id, round(value, 6) AS value, "
        f"round(({num}) / ({den}), 6) AS ewma FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    )


# --- text: hashed linear quality scorer --------------------------------------

_QC_BUCKETS = 64


def text_quality_classifier(spark, sf_dir):
    """Fasttext-style hashed bag-of-words linear scorer: token →
    md5-hash mod 64 feature bucket → per-bucket weight → mean weight =
    quality logit; keep = logit > 0. Weights here are md5-derived
    pseudo-weights (deterministic stand-ins for a trained vector — the
    plumbing, hashing, and scale shape are the point; swap the weight
    expression for a broadcast learned vector in production).

    Feature hashing keeps the model O(buckets) regardless of
    vocabulary — no vocab join, no OOV path. The scorer is a pure
    zero-shuffle higher-order-function scan (filter → transform →
    aggregate), and scoring is INTEGER-space (each weight is an exact
    int in [-32768, 32767]; one final division) so both engines sum
    exactly with no float-association noise.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = _alnum_tokens(F.col("text"))

    def wint(t):
        bucket = (
            F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long") % _QC_BUCKETS
        )
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 4),
                16,
                10,
            ).cast("long")
            - 32768
        )

    scored = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + wint(t)).alias(
            "wsum"
        ),
    ).filter(F.col("n_tokens") > 0)
    # keep derives from the ROUNDED logit: deciding on the raw value
    # while emitting the rounded one can produce keep=true with
    # quality_logit=0.0 (wsum=1 over >30 tokens) — self-contradictory
    # output and an engine-comparison hazard
    logit = F.round(F.col("wsum") / (F.lit(65536.0) * F.col("n_tokens")), 6)
    return scored.select(
        "doc_id",
        "n_tokens",
        logit.alias("quality_logit"),
        (logit > 0).alias("keep"),
    )


_QC_ORACLE = (
    "WITH t AS (SELECT doc_id, "
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks "
    "FROM documents), "
    "s AS (SELECT doc_id, len(toks) AS n_tokens, "
    "CAST(list_sum(list_transform(toks, x -> "
    "CAST(concat('0x', substr(md5(concat('w', CAST("
    f"CAST(concat('0x', substr(md5(x), 1, 4)) AS BIGINT) % {_QC_BUCKETS}"
    " AS VARCHAR))), 1, 4)) AS BIGINT) - 32768)) AS BIGINT) AS wsum "
    "FROM t WHERE len(toks) > 0) "
    "SELECT doc_id, n_tokens, "
    "round(wsum / (65536.0 * n_tokens), 6) AS quality_logit, "
    "round(wsum / (65536.0 * n_tokens), 6) > 0 AS keep FROM s"
)


# --- text: subword segmentation (tokenizer-aware preprocessing) --------------

_SW_TOP_GRAMS = 24
_SW_MAX_LEN = 4


def text_subword_segment(spark, sf_dir):
    """BPE-flavored subword segmentation: induce a character-n-gram
    vocabulary from the corpus (top-24 grams of length 2-4 by
    frequency-weighted count, plus all single [a-z0-9] chars), then
    greedily encode every word longest-match-first — the
    WordPiece/tokenizer-aware preprocessing step of an LLM data
    pipeline, with tokens-per-word compression as the output metric.

    Scale shape: gram induction is relational (explode word slices →
    one partial-aggregated shuffle → TakeOrdered top-K); the greedy
    encode runs over DISTINCT words only (vocabulary-sized, not
    corpus-sized) in one Arrow-batched mapInPandas with the ≤60-entry
    vocab broadcast as a plain Python set, and per-doc totals come back
    through a word-key join. Python touches unique words once; the
    corpus itself never crosses the Arrow boundary. The oracle replays
    induction AND encoding exactly: greedy longest-match is a
    precomputed best-step table + a recursive pointer walk (no
    aggregate in the recursive term).
    """
    import pandas as pd

    docs = _t(spark, sf_dir, "documents")
    toks = _alnum_tokens(F.col("text"))
    words = docs.select("doc_id", F.explode(toks).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))

    gram_cols = []
    for L in range(2, _SW_MAX_LEN + 1):
        # NB: guard, don't clamp — Spark's sequence(1, 0) DESCENDS
        # (yields [1, 0]), it is not empty like DuckDB's range(1, 0)
        gram_cols.append(
            F.expr(
                f"CASE WHEN length(w) >= {L} THEN "
                f"transform(sequence(1, length(w) - {L} + 1), "
                f"p -> substring(w, p, {L})) ELSE array() END"
            )
        )
    grams = (
        wf.select("freq", F.explode(F.flatten(F.array(*gram_cols))).alias("g"))
        .groupBy("g")
        .agg(F.sum("freq").alias("score"))
        .orderBy(F.desc("score"), "g")
        .limit(_SW_TOP_GRAMS)
    )
    vocab = {r["g"] for r in grams.collect()}  # bounded: top-K grams only
    vocab |= set("abcdefghijklmnopqrstuvwxyz0123456789")
    bvocab = spark.sparkContext.broadcast(vocab)

    def encode(batches):
        v = bvocab.value
        for pdf in batches:
            counts = []
            for w in pdf["w"]:
                i, n = 0, 0
                while i < len(w):
                    step = 1
                    for L in range(min(_SW_MAX_LEN, len(w) - i), 1, -1):
                        if w[i : i + L] in v:
                            step = L
                            break
                    i += step
                    n += 1
                counts.append(n)
            yield pd.DataFrame({"w": pdf["w"], "n_sub": counts})

    uw = wf.select("w")
    seg = uw.mapInPandas(encode, "w string, n_sub int")
    return (
        words.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
        )
        .withColumn(
            "compression", F.round(F.col("n_subwords") / F.col("n_words"), 6)
        )
    )


_SW_ORACLE = (
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w "
    "FROM documents), "
    "wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY 1), "
    "grams AS (SELECT substr(wf.w, CAST(p AS INT), CAST(L AS INT)) AS g, "
    "sum(wf.freq) AS score FROM wf, "
    f"(SELECT unnest(range(2, {_SW_MAX_LEN + 1})) AS L) ls, "
    "LATERAL (SELECT unnest(range(1, len(wf.w) - CAST(ls.L AS INT) + 2)) AS p) ps "
    "WHERE len(wf.w) >= L GROUP BY 1), "
    f"topg AS (SELECT g FROM grams ORDER BY score DESC, g LIMIT {_SW_TOP_GRAMS}), "
    "chars AS (SELECT chr(CAST(c AS INT)) AS g FROM "
    "(SELECT unnest(list_concat(range(97, 123), range(48, 58))) AS c)), "
    "vocab AS (SELECT DISTINCT g, len(g) AS L FROM "
    "(SELECT g FROM topg UNION ALL SELECT g FROM chars)), "
    "uw AS (SELECT w FROM wf), "
    "pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS p FROM uw), "
    "best AS (SELECT pos.w, pos.p, max(v.L) AS step FROM pos JOIN vocab v "
    "ON substr(pos.w, CAST(pos.p AS INT), CAST(v.L AS INT)) = v.g GROUP BY 1, 2), "
    "walk AS (WITH RECURSIVE r AS ("
    "SELECT w, CAST(1 AS BIGINT) AS p, 0 AS n FROM uw "
    "UNION ALL SELECT r.w, CAST(r.p + b.step AS BIGINT), r.n + 1 "
    "FROM r JOIN best b ON b.w = r.w AND b.p = r.p) "
    "SELECT w, max(n) AS n_sub FROM r GROUP BY w) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
    "CAST(sum(n_sub) AS BIGINT) AS n_subwords, "
    "round(sum(n_sub) / CAST(count(*) AS DOUBLE), 6) AS compression "
    "FROM toks JOIN walk USING (w) GROUP BY doc_id"
)


_BPE_STEPS = 6  # merges learned; the loop cost is STEPS passes over the vocab


def text_bpe_learn_merges(spark, sf_dir):
    """Learn the first 6 BPE merges over the corpus (Sennrich et al.
    2016, the algorithm behind GPT-2/LLaMA tokenizers) — the LEARNING
    half that text_subword_segment's frequency-vocab encoding skips:
    start from characters, repeatedly count adjacent symbol pairs
    weighted by word frequency, merge the most frequent pair
    everywhere (ties broken by pair string), and emit the merge table
    (step, left, right, merged, count) — the tokenizer artifact a
    training pipeline ships.

    Distributed shape (the standard one — BPE is inherently
    sequential in the MERGE dimension, embarrassingly parallel in the
    DATA dimension): the corpus collapses once to the persisted
    (word, count) vocabulary — the only corpus-scale pass; each of
    the 6 iterations is then one explode + map-side-combined pair
    count over the VOCAB table with a single-row TakeOrdered collect
    (the argmax pair — bounded driver data by construction), and the
    merge applies as a regexp_replace('\\bA B\\b' → 'AB'), identical
    left-to-right non-overlap semantics in Java regex and RE2. At
    100 TB the vocab is ~1e8 rows: 6 scans of a hash-aggregated frame
    you'd persist anyway, no shuffle wider than the pair counts. The
    DuckDB oracle replays all 6 iterations as unrolled CTEs with
    scalar-subquery merge application — hash-identical merge tables.

    Reference seam: the reference engine has no tokenizer facilities
    (include/warpdb.hpp:18 — arithmetic mini-language only); this is
    SURVEY §2's pipeline-superset mandate."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_alnum_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # symbol string: chars joined by single spaces ('data' → 'd a t a');
    # \b-delimited pair patterns are safe because symbols stay [a-z0-9]+
    # `vocab` keeps the PERSISTED leaf: `w` is rebound per merge, and
    # unpersisting the rebound derived plan would be a silent no-op
    # (CacheManager matches on sameResult with the cached plan)
    vocab = words.select(
        "wc", F.rtrim(F.regexp_replace("word", "(.)", "$1 ")).alias("s")
    ).persist()
    w = vocab
    merges: list[tuple] = []
    for step in range(1, _BPE_STEPS + 1):
        top = (
            w.select("wc", F.split(F.col("s"), " ").alias("L"))
            .select(
                "wc",
                F.explode(
                    F.when(
                        F.size("L") >= 2,
                        F.expr(
                            "transform(sequence(1, size(L)-1),"
                            " i -> L[i-1] || ' ' || L[i])"
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:  # degenerate corpus: every word is one symbol
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        a, b = pair.split(" ")
        merges.append((step, a, b, a + b, cnt))
        w = w.select(
            "wc",
            F.regexp_replace("s", r"\b" + pair + r"\b", a + b).alias("s"),
        )
    vocab.unpersist()
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    ).orderBy("step")


def _bpe_oracle() -> str:
    toks = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    q = (
        "WITH words AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM "
        f"(SELECT unnest({toks}) AS word FROM documents) GROUP BY word), "
        "w0 AS (SELECT wc, rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s "
        "FROM words)"
    )
    sel = []
    for i in range(1, _BPE_STEPS + 1):
        q += (
            f", p{i} AS (SELECT pair, sum(wc) AS cnt FROM (SELECT wc, "
            "unnest(CASE WHEN len(L) < 2 THEN CAST([] AS VARCHAR[]) "
            "ELSE [L[i] || ' ' || L[i+1] for i in generate_series(1, len(L)-1)] END) "
            f"AS pair FROM (SELECT wc, string_split(s, ' ') AS L FROM w{i-1})) "
            f"GROUP BY pair), "
            f"m{i} AS (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1), "
            f"w{i} AS (SELECT wc, regexp_replace(s, '\\b' || (SELECT pair FROM m{i}) "
            f"|| '\\b', (SELECT replace(pair, ' ', '') FROM m{i}), 'g') AS s "
            f"FROM w{i-1})"
        )
        sel.append(
            f"SELECT {i} AS step, split_part(pair, ' ', 1) AS left_sym, "
            "split_part(pair, ' ', 2) AS right_sym, "
            "replace(pair, ' ', '') AS merged, "
            f"CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        )
    return q + " " + " UNION ALL ".join(sel) + " ORDER BY step"


# --- time series: per-group OLS trend ----------------------------------------

_OLS_EPOCH0 = 1704067200  # 2024-01-01 UTC — recenters x so Σx² stays in BIGINT


def events_trend_ols(spark, sf_dir):
    """Closed-form per-event_type least-squares trend of value over
    time: slope/intercept/R² from the five classical sums. The sums are
    computed in INTEGER space (x = epoch-seconds recentered to
    2024-01-01; y = value in cents — the data is 2-decimal) so partial
    aggregation order can't perturb them (float Σ is order-dependent
    under map-side combine; integer Σ is exact in any order) — the
    engines then evaluate the same closed-form doubles from identical
    integers. The three second-moment sums accumulate in DECIMAL(38,0):
    x² of a multi-year recentered timestamp is ~1e15-1e16 per row, so a
    BIGINT Σx² is already past int64 at a few million rows per group (a
    20M-row replay crashed the long sum under ANSI); decimal keeps the
    sum exact and order-proof to ~1e38. DuckDB's BIGINT SUM widens to
    HUGEINT natively — same exact integer, same final double. One
    partial-aggregated shuffle on the tiny event_type key; the same
    single pass at 100 TB.
    """
    ev = _t(spark, sf_dir, "events")
    x = (F.col("ts").cast("long") - F.lit(_OLS_EPOCH0)).cast("bigint")
    y = F.round(F.col("value") * 100).cast("bigint")
    s = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x  # cents per second
    intercept = (sy - slope * sx) / n
    return s.select(
        "event_type",
        "n",
        # value-units per day: cents/sec * 86400 / 100
        F.round(slope * 864.0, 6).alias("slope_per_day"),
        F.round(intercept / 100.0, 6).alias("intercept_value"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    )


_OLS_ORACLE = (
    "WITH s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    f"CAST(sum(CAST(floor(epoch(ts)) AS BIGINT) - {_OLS_EPOCH0}) AS HUGEINT) AS sx, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sy, "
    f"CAST(sum((CAST(floor(epoch(ts)) AS BIGINT) - {_OLS_EPOCH0}) * (CAST(floor(epoch(ts)) AS BIGINT) - {_OLS_EPOCH0})) AS HUGEINT) AS sxx, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS syy, "
    f"CAST(sum((CAST(floor(epoch(ts)) AS BIGINT) - {_OLS_EPOCH0}) * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sxy "
    "FROM events GROUP BY event_type) "
    "SELECT event_type, n, "
    "round(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
    "(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * 864.0, 6) AS slope_per_day, "
    "round((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
    "(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n / 100.0, 6) AS intercept_value, "
    "round(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * "
    "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) / "
    "((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
    "(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2 "
    "FROM s"
)


# --- events: Markov transition matrix ----------------------------------------


def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's
    time-ordered event stream — the product-analytics "what happens
    next" operator (and the event-sequence analog of
    ``text_perplexity_bigram``'s left-context MLE). One lead window
    (single user_id hash partitioning) emits transitions; counts
    aggregate to an |event_types|² frame — trivially broadcastable —
    and row-normalize into probabilities through a tiny self-join, so
    the only corpus-sized work is the one window shuffle at any scale.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("src_event"),
        F.lead("event_type").over(w).alias("dst_event"),
    ).filter(F.col("dst_event").isNotNull())
    counts = tr.groupBy("src_event", "dst_event").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    totals = counts.groupBy("src_event").agg(
        F.sum("n_transitions").alias("n_src")
    )
    return counts.join(F.broadcast(totals), "src_event").select(
        "src_event",
        "dst_event",
        "n_transitions",
        F.round(F.col("n_transitions") / F.col("n_src"), 6).alias("p_transition"),
    )


_MARKOV_ORACLE = (
    "WITH tr AS (SELECT event_type AS src_event, "
    "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_event "
    "FROM events), "
    "c AS (SELECT src_event, dst_event, CAST(count(*) AS BIGINT) AS n_transitions "
    "FROM tr WHERE dst_event IS NOT NULL GROUP BY 1, 2), "
    "t AS (SELECT src_event, sum(n_transitions) AS n_src FROM c GROUP BY 1) "
    "SELECT src_event, dst_event, n_transitions, "
    "round(n_transitions / CAST(n_src AS DOUBLE), 6) AS p_transition "
    "FROM c JOIN t USING (src_event)"
)


# --- text: bigram-LM document scoring -----------------------------------------


def text_perplexity_bigram(spark, sf_dir):
    """Bigram-LM document scoring — the perplexity-proxy quality filter
    one conditional step up from ``text_unigram_logprob``: per-doc mean
    of log P(w2|w1) with MLE P(w2|w1) = C(w1,w2) / C(w1·) over the
    corpus itself (left-context counts, so the distribution sums to 1
    by construction; every doc bigram exists in the counts).

    Scale shape: bigrams materialize as a zero-shuffle array transform
    on each doc's token array; ONE explode feeds both count tables
    (bigram counts ≤ vocab², left-context counts vocab-sized — both
    broadcast-or-AQE territory at 100 TB) and the scoring join; per-doc
    aggregation is the only corpus-sized shuffle.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = _alnum_tokens(F.col("text"))
    # NB: guard — Spark's sequence(1, 0) descends, it is not empty
    pairs = F.expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, CAST(i AS INT)) AS w1, "
        "element_at(toks, CAST(i + 1 AS INT)) AS w2)) "
        "ELSE array() END"
    )
    big = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cl = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cl"))
    rates = c2.join(cl, "w1")
    return (
        big.join(F.broadcast(rates), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c2").cast("double") / F.col("cl"))), 6
            ).alias("avg_logprob"),
        )
    )


_BIGRAM_ORACLE = (
    "WITH t AS (SELECT doc_id, list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks "
    "FROM documents), "
    "big AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i + 1 AS INT)] AS w2 "
    "FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)), "
    "c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2), "
    "cl AS (SELECT w1, count(*) AS cl FROM big GROUP BY 1) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
    "round(avg(ln(CAST(c2.c2 AS DOUBLE) / cl.cl)), 6) AS avg_logprob "
    "FROM big JOIN c2 USING (w1, w2) JOIN cl USING (w1) GROUP BY doc_id"
)


_KN_D = 0.75  # the standard absolute discount


def text_kneser_ney_bigram(spark, sf_dir):
    """Interpolated Kneser–Ney bigram scoring of a held-out slice —
    the LM-quality filter one smoothing class above
    ``text_perplexity_bigram``'s MLE (which cannot score an UNSEEN
    bigram at all): train on doc_id % 10 != 0, score the % 10 == 0
    slice with P(w2|w1) = max(C(w1,w2) − D, 0)/C(w1·) +
    D·N1+(w1·)/C(w1·) · P_cont(w2), where the continuation
    probability P_cont counts bigram TYPES, not tokens — KN's one
    idea (Kneser & Ney 1995; Chen & Goodman 1999 eq. 18). P_cont
    carries a +1/(T+V) floor so a w2 never seen in training still
    scores finitely (documented deviation from the textbook, which
    leaves P undefined there); an unseen w1 backs off to P_cont
    alone.

    Scale shape: identical to the MLE entry — ONE explode feeds the
    bigram-type table (≤ vocab², broadcast-or-AQE territory) and
    everything else derives from IT, not the corpus: C(w1·) and
    N1+(w1·) fold into one groupBy over the type table, P_cont is a
    second, the totals row broadcasts. Scoring joins are
    broadcast-left; the per-doc aggregate is the only corpus-sized
    shuffle. n_unseen (integer) pins the backoff path in the hash."""
    docs = _t(spark, sf_dir, "documents")
    toks = _alnum_tokens(F.col("text"))
    pairs = F.expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, CAST(i AS INT)) AS w1, "
        "element_at(toks, CAST(i + 1 AS INT)) AS w2)) "
        "ELSE array() END"
    )
    big = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    trn = big.filter(F.col("doc_id") % 10 != 0).select("w1", "w2")
    ev = big.filter(F.col("doc_id") % 10 == 0)
    # persist + eager count (r13): the bigram-TYPE table is the hub of
    # the whole entry (w1s, cont, tot, and the scoring join all derive
    # from it — four parentless branches), yet un-persisted each branch
    # re-ran the corpus explode + aggregation (5 parquet scans in the
    # r12 plan; now 2: this build + the eval slice). The frame is the
    # distinct-bigram set — "broadcast-or-AQE territory" per the scale
    # note above.
    c2 = persist_scoped(
        trn.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")), eager=True
    )
    w1s = c2.groupBy("w1").agg(
        F.sum("c2").alias("cw1"), F.count(F.lit(1)).alias("n1w1")
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("cw2"))
    tot = c2.agg(
        F.count(F.lit(1)).alias("tt"), F.countDistinct("w2").alias("vv")
    )
    sc = (
        ev.join(F.broadcast(c2), ["w1", "w2"], "left")
        .join(F.broadcast(w1s), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    pc = (F.coalesce(F.col("cw2"), F.lit(0)) + 1.0) / (F.col("tt") + F.col("vv"))
    d = F.lit(_KN_D)
    pr = F.when(F.col("cw1").isNull(), pc).otherwise(
        F.greatest(F.coalesce(F.col("c2"), F.lit(0)) - d, F.lit(0.0)) / F.col("cw1")
        + (d * F.col("n1w1") / F.col("cw1")) * pc
    )
    return (
        sc.select(
            "doc_id",
            pr.alias("pr"),
            F.when(F.col("c2").isNull(), 1).otherwise(0).alias("unseen"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("unseen").alias("n_unseen"),
            F.round(F.avg(F.log("pr")), 6).alias("avg_logprob_kn"),
        )
        .orderBy("doc_id")
    )


_KN_ORACLE = (
    "WITH t AS (SELECT doc_id, list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks "
    "FROM documents), "
    "big AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1, "
    "toks[CAST(i + 1 AS INT)] AS w2 "
    "FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)), "
    "trn AS (SELECT w1, w2 FROM big WHERE doc_id % 10 <> 0), "
    "ev AS (SELECT doc_id, w1, w2 FROM big WHERE doc_id % 10 = 0), "
    "c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM trn GROUP BY 1, 2), "
    "w1s AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cw1, "
    "CAST(count(*) AS BIGINT) AS n1w1 FROM c2 GROUP BY w1), "
    "cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS cw2 FROM c2 GROUP BY w2), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS tt, "
    "CAST(count(DISTINCT w2) AS BIGINT) AS vv FROM c2), "
    "sc AS (SELECT ev.doc_id, "
    "(COALESCE(cont.cw2, 0) + 1.0) / (tot.tt + tot.vv) AS pc, "
    "c2.c2 AS c2v, w1s.cw1, w1s.n1w1 "
    "FROM ev LEFT JOIN c2 ON ev.w1 = c2.w1 AND ev.w2 = c2.w2 "
    "LEFT JOIN w1s ON ev.w1 = w1s.w1 "
    "LEFT JOIN cont ON ev.w2 = cont.w2 CROSS JOIN tot), "
    f"p AS (SELECT doc_id, CASE WHEN cw1 IS NULL THEN pc "
    f"ELSE greatest(COALESCE(c2v, 0) - {_KN_D}, 0.0) / cw1 "
    f"+ ({_KN_D} * n1w1 / cw1) * pc END AS pr, "
    "CASE WHEN c2v IS NULL THEN 1 ELSE 0 END AS unseen FROM sc) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
    "CAST(sum(unseen) AS BIGINT) AS n_unseen, "
    "round(avg(ln(pr)), 6) AS avg_logprob_kn "
    "FROM p GROUP BY doc_id ORDER BY doc_id"
)


# --- sketches: count-min heavy hitters ---------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_PROBES = ["spark", "hash", "join", "table", "scan", "window", "the", "batch"]


def sketch_countmin_words(spark, sf_dir):
    """Count-min sketch word-frequency estimates (Cormode & Muthu 2005):
    d=4 rows × w=256 counters, row hashes = md5(row_salt ‖ token). The
    sketch is ONE partial-aggregated shuffle of (row, bucket) cells —
    d·w counters total regardless of corpus size — and counters are
    sums, so per-partition / per-day sketches merge by cell-wise
    addition (the mergeable-state shape that answers heavy-hitter
    queries at 100 TB without a vocabulary-sized shuffle). Estimate for
    a probe word = min over rows of its bucket counter; CMS guarantees
    estimate ≥ exact, and the oracle REPLAYS the identical sketch
    (same md5 buckets, same sums) plus the exact count, asserting the
    one-sided error bound as data.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = _alnum_tokens(F.col("text"))
    words = docs.select(F.explode(toks).alias("w"))

    def bucket(row: int, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"r{row}_"), col)), 1, 8), 16, 10
            ).cast("long")
            % _CMS_WIDTH
        )

    cells = words.select(
        *[bucket(r, F.col("w")).alias(f"b{r}") for r in range(_CMS_DEPTH)]
    )
    sketch = [
        cells.groupBy(f"b{r}").agg(F.count(F.lit(1)).alias(f"c{r}"))
        for r in range(_CMS_DEPTH)
    ]
    probes = spark.createDataFrame([(w,) for w in _CMS_PROBES], ["word"])
    est = probes.select(
        "word", *[bucket(r, F.col("word")).alias(f"b{r}") for r in range(_CMS_DEPTH)]
    )
    for r in range(_CMS_DEPTH):
        # LEFT join + 0-fill: an empty bucket means the probe word never
        # hashed there — CMS semantics say its counter is 0, not "drop
        # the probe" (an inner join would silently lose absent words)
        est = est.join(F.broadcast(sketch[r]), f"b{r}", "left").withColumn(
            f"c{r}", F.coalesce(F.col(f"c{r}"), F.lit(0))
        )
    exact = words.groupBy(F.col("w").alias("word")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    estimate = F.least(*[F.col(f"c{r}") for r in range(_CMS_DEPTH)])
    return (
        est.join(exact, "word", "left")
        .select(
            "word",
            estimate.cast("bigint").alias("cms_estimate"),
            F.coalesce("exact_count", F.lit(0)).cast("bigint").alias("exact_count"),
            (estimate >= F.coalesce("exact_count", F.lit(0))).alias("never_undercounts"),
        )
    )


def _cms_oracle() -> str:
    bucket = (
        lambda r, col: "CAST(concat('0x', substr(md5(concat('r"
        + str(r)
        + "_', "
        + col
        + ")), 1, 8)) AS BIGINT) % "
        + str(_CMS_WIDTH)
    )
    rows = []
    for r in range(_CMS_DEPTH):
        rows.append(
            f"s{r} AS (SELECT {bucket(r, 'w')} AS b{r}, count(*) AS c{r} "
            f"FROM words GROUP BY 1)"
        )
    probe_vals = ", ".join(f"('{w}')" for w in _CMS_PROBES)
    joins = " ".join(
        f"LEFT JOIN s{r} ON s{r}.b{r} = {bucket(r, 'p.word')}"
        for r in range(_CMS_DEPTH)
    )
    least = (
        "least("
        + ", ".join(f"coalesce(c{r}, 0)" for r in range(_CMS_DEPTH))
        + ")"
    )
    return (
        "WITH words AS (SELECT unnest(list_filter("
        "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w "
        "FROM documents), "
        + ", ".join(rows)
        + ", exact AS (SELECT w AS word, count(*) AS exact_count FROM words GROUP BY 1), "
        f"p AS (SELECT * FROM (VALUES {probe_vals}) t(word)) "
        f"SELECT p.word, CAST({least} AS BIGINT) AS cms_estimate, "
        "CAST(coalesce(exact_count, 0) AS BIGINT) AS exact_count, "
        f"{least} >= coalesce(exact_count, 0) AS never_undercounts "
        f"FROM p {joins} LEFT JOIN exact ON exact.word = p.word"
    )


# --- temporal: interval-overlap join -----------------------------------------


def _sessions(spark, sf_dir):
    """Per-user sessions (1-hour gap rule — the events_sessionize
    definition) as closed intervals in epoch seconds."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    prev = F.lag(sec).over(w)
    flagged = ev.withColumn(
        "new_s",
        F.when(prev.isNull() | ((sec - prev) > 3600), F.lit(1)).otherwise(F.lit(0)),
    )
    seq = F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int")
    return (
        flagged.withColumn("session_seq", seq)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(sec).alias("st"),
            F.max(sec).alias("en"),
        )
    )


def range_join_session_overlap(spark, sf_dir):
    """Interval-overlap join (Allen's `overlaps`): every cross-user pair
    of sessions that share wall-clock time, with the overlap duration.

    A naive formulation is a full cross join with an overlap predicate —
    quadratic in sessions. The scale shape here is the BANDED interval
    join: each session explodes to the hour buckets it spans (sessions
    are gap-bounded, so the fan-out is small), candidate pairs meet
    through a bucket equi-join (hash-shuffle, never a cartesian), and
    the exact overlap predicate + distinct dedups multi-bucket hits.
    Cost: O(session-hours + true overlaps), the interval-join analog of
    the LSH band trick. Same banding as operators/asof.py's range join,
    applied to interval×interval instead of point×interval.
    """
    s = _sessions(spark, sf_dir)
    banded = s.select(
        "user_id",
        "session_seq",
        "st",
        "en",
        F.explode(
            F.sequence(F.floor(F.col("st") / 3600), F.floor(F.col("en") / 3600))
        ).alias("bucket"),
    )
    x, y = banded.alias("x"), banded.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.user_id") < F.col("y.user_id")),
        )
        .filter(
            (F.col("x.st") <= F.col("y.en")) & (F.col("y.st") <= F.col("x.en"))
        )
        .select(
            F.col("x.user_id").alias("user_a"),
            F.col("x.session_seq").alias("session_a"),
            F.col("y.user_id").alias("user_b"),
            F.col("y.session_seq").alias("session_b"),
            (
                F.least(F.col("x.en"), F.col("y.en"))
                - F.greatest(F.col("x.st"), F.col("y.st"))
            ).cast("bigint").alias("overlap_secs"),
        )
        .distinct()
    )
    return pairs


# --- reshape: scale-safe global row numbering --------------------------------


def _partition_prefix_offsets(df: DataFrame, measure):
    """Shared two-phase prefix-sum scaffolding (reshape_global_ordinal /
    shard_assign_bytes) — the DataFrame zipWithIndex: range-repartition
    on doc_id into a CORPUS-PROPORTIONAL partition count, aggregate
    ``measure`` per partition, prefix-sum the per-partition totals into
    offsets, and return (partitioned_df_with_pid, offsets_frame) for a
    broadcast join on pid. The partition count rides the input's scan
    partitioning — max(8, scan partitions), i.e. one range partition
    per ~maxPartitionBytes of input — so per-task row counts stay
    roughly fixed at ANY corpus size (the multi_gpu_utils.cpp:23-60
    range-split idea with a device count that grows with the data, not
    a literal 8). Results are invariant to the count: the offsets make
    within-partition state globally consistent wherever the sampled
    boundaries land.

    The offsets frame is ≤ numPartitions rows; its prefix-sum window
    is unpartitioned but runs over that per-partition AGGREGATE (one
    row per range partition — bounded by partition count, never data)
    and joins back as a broadcast. No driver collect, no create_map
    literal whose expression tree would grow with the partition count.
    Range partitions are ascending in partition id, so within-partition
    state + offset is globally consistent regardless of boundaries.

    The range-partitioned frame sits in a ``persist_scoped`` slot, so
    the two consumers composed over one corpus share one copy."""
    n_parts = max(8, df.rdd.getNumPartitions())
    parts = persist_scoped(
        df.repartitionByRange(n_parts, "doc_id").withColumn(
            "pid", F.spark_partition_id()
        )
    )
    w = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parts.groupBy("pid")
        .agg(measure.alias("m"))
        .select("pid", F.coalesce(F.sum("m").over(w), F.lit(0)).alias("__off"))
    )
    return parts, F.broadcast(offsets)


def reshape_global_ordinal(spark, sf_dir):
    """Global 1-based ordinal over documents ordered by doc_id — the
    two-phase formulation: range-repartition on the key, count rows per
    partition (a ≤-numPartitions-row aggregate), prefix-sum the counts
    into per-partition offsets on the driver (bounded by partition
    count, never by data — the same class as the centroid pulls), then
    row_number WITHIN each partition + its offset.

    A single global window (`row_number() OVER (ORDER BY doc_id)`, the
    oracle's formulation) funnels every row through ONE task at scale;
    this shape keeps numbering parallel — the DataFrame equivalent of
    zipWithIndex. The partition count scales with the corpus (see
    _partition_prefix_offsets), so each pid-task numbers a roughly
    fixed-size slice at any sf. Range partitions are ascending in
    partition id, so within-partition rank + offset is globally
    consistent regardless of where the sampled boundaries land.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    parts, offsets = _partition_prefix_offsets(docs, F.count(F.lit(1)))
    w = Window.partitionBy("pid").orderBy("doc_id")
    return parts.join(offsets, "pid").select(
        "doc_id",
        (F.row_number().over(w) + F.col("__off")).alias("ordinal"),
        "n_chars",
    )


def corpus_ngram_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY against everything ingested before
    it (ingest order = doc_id): the fraction of a doc's distinct word
    3-grams whose FIRST corpus occurrence is the doc itself. The
    corpus-growth diagnostic of a streaming curation pipeline — a
    novelty collapse means the crawl is re-reading itself; per-doc
    novelty ≈ 0 marks late-arriving duplicates that survived pair
    dedup.

    Inverted-index shape: explode distinct grams, min(doc_id) per gram
    (map-side-combinable — the hot boilerplate grams combine before
    the shuffle, so gram skew adds map work, not reducer skew), join
    first-seen back to the postings on the gram, re-aggregate per doc.
    Two key shuffles total (gram, then doc_id), both integer-counted —
    the novelty ratio is the only division and it is rounded once.
    """
    from warpdb_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(T.word_ngrams(T.normalized_text(F.col("text")), 3))
        ).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_id"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_novel").cast("long").alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


_MH_CAL_SEEDS = 16
_MH_CAL_BANDS = 8  # leading signature components used as r=1 band keys


def dedup_minhash_estimate_calibration(spark, sf_dir):
    """MinHash ESTIMATOR calibration in-query: for sampled candidate
    pairs, the signature-agreement Jaccard estimate (matching
    components / 16) side by side with the EXACT 3-gram Jaccard, the
    absolute error, and a 3σ tolerance verdict (σ = √(J(1−J)/16) ≤
    0.125 → bound 0.375). The go/no-go table for choosing num_hashes
    before trusting the LSH dedup path on a new corpus — run on a
    sample, read the error column, size the signatures.

    The production signatures use xxhash64 (dedup.py); THIS entry uses
    the engine-portable md5-derived hash (the rolling_fingerprint
    trick: first 16 hex chars of md5(seed|gram), string-min per seed)
    so DuckDB replays every signature component bit-for-bit — the
    estimator's statistics are hash-family-independent, which is
    exactly what makes the calibration transferable. Candidate pairs
    come from r=1 MinHash BANDING over the signature's own first
    ``_MH_CAL_BANDS`` components via the shared capped generator
    (``operators.dedup.capped_key_pairs``, bucket cap ``_BAND_CAP``)
    on a doc_id % 3 sample — the sampled pairs are exactly the pairs
    an LSH pass at these parameters would surface, i.e. the
    population the estimator will be trusted on (candidacy odds
    1-(1-J)^8, so the error table covers the J range LSH actually
    emits). The old (lang, source) block join squared up within a
    block; banded buckets are capped, so candidates stay linear in
    corpus size. Gram/signature arrays join back once per side; all
    min/compare work is JVM codegen."""
    from warpdb_spark.functions import text as T
    from warpdb_spark.operators.dedup import capped_key_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    norm = T.normalized_text(F.col("text"))
    grams = F.array_distinct(T.word_ngrams(norm, 3))
    def _sig(s: int):
        # NB: must be a ONE-arg lambda — a second parameter (even with
        # a default) makes Spark pass (element, index) and the index
        # column silently replaces the seed
        return F.array_min(
            F.transform(
                F.col("g"),
                lambda gm: F.substring(F.md5(F.concat(F.lit(f"{s}|"), gm)), 1, 16),
            )
        ).alias(f"h{s}")

    sigs = [_sig(s) for s in range(_MH_CAL_SEEDS)]
    sh = persist_scoped(
        docs.select("doc_id", grams.alias("g"))
        .filter(F.size("g") > 0)
        .select("doc_id", "g", *sigs)
    )
    keyed = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("|", F.lit(str(s)), F.col(f"h{s}"))
                    for s in range(_MH_CAL_BANDS)
                ]
            )
        ).alias("key"),
    )
    cand = capped_key_pairs(keyed, _BAND_CAP)
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("g").alias("ga"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(_MH_CAL_SEEDS)],
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("g").alias("gb"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(_MH_CAL_SEEDS)],
    )
    pairs = cand.join(a, "id_a").join(b, "id_b")
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(_MH_CAL_SEEDS)
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    est = matches / F.lit(float(_MH_CAL_SEEDS))
    jac = inter / union
    return pairs.select(
        "id_a",
        "id_b",
        matches.alias("n_matching"),
        F.round(est, 6).alias("jaccard_est"),
        F.round(jac, 6).alias("jaccard_exact"),
        F.round(F.abs(est - jac), 6).alias("abs_err"),
        (F.abs(est - jac) <= 0.375).alias("within_3sigma"),
    )


def text_zipf_alpha(spark, sf_dir):
    """Corpus Zipf exponent: log-log OLS over the top-50 term
    frequencies — rank r vs count c should follow c ∝ r^(−α) with
    α ≈ 1 for natural language; α far from 1 flags template/generated
    corpora before they poison a training mix. One term-count shuffle
    (map-side combined), a 50-row TakeOrderedAndProject with a total
    order (count DESC, term), then a single-row OLS fold.

    Determinism: ln(rank)/ln(count) come from exact integers, but OLS
    SUMS over 50 doubles are association-sensitive — so each log
    snaps to integer MICRO-units first (the CUSUM rule; micro not
    nano because the OLS needs xi*yi products and nano-units squared
    overflow int64 under ANSI mode). The snapped integers ARE the
    definition on both sides, so granularity costs no parity; slope/
    r² derive from the exact integer moments in one identical double
    expression per engine."""
    from warpdb_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("term")
    )
    top = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(50)
    )
    w = Window.orderBy(F.col("c").desc(), "term")
    ranked = top.select("term", "c", F.row_number().over(w).alias("r"))
    xi = F.round(F.log(F.col("r").cast("double")) * 1e6, 0).cast("long")
    yi = F.round(F.log(F.col("c").cast("double")) * 1e6, 0).cast("long")
    m = ranked.select(xi.alias("xi"), yi.alias("yi")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        # bounded (50 rows, |log·1e6| ≤ ~3e7 → Σ ≤ 5e16) but held to
        # the repo-wide rule: integer product-moments accumulate in
        # decimal(38,0) (tools/lint_moment_overflow.py enforces it)
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("xi")).alias("sxx"),
        F.sum(F.col("yi").cast("decimal(38,0)") * F.col("yi")).alias("syy"),
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("yi")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    varx = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    vary = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    slope = cov / varx
    # degenerate corpora (all top terms tied -> varx or vary 0) yield
    # NULL, not NaN: Spark's 0/0 is NaN, DuckDB's is NULL — agree
    return m.select(
        F.col("n").alias("n_terms"),
        F.when(varx > 0, F.round(-slope, 6)).alias("zipf_alpha"),
        F.when((varx > 0) & (vary > 0), F.round((cov * cov) / (varx * vary), 6)).alias(
            "r2"
        ),
    )


def agg_weighted_median(spark, sf_dir):
    """WEIGHTED median per group — the importance-weighted order
    statistic plain median/percentile can't express (corpus stats
    where each record carries a weight: dedup multiplicity, sampling
    weight, token count). Weights here are deterministic integers
    (user_id % 5 + 1); the lower weighted median is the smallest value
    whose running cumulative weight reaches half the group total.

    One event_type window shuffle; the cumulative sum is INTEGER (the
    determinism rule — DuckDB's segment-tree windowed SUM and Spark's
    sequential one agree exactly on ints), ties on equal values are
    ordered by event_id so both engines walk the identical prefix, and
    the median is a SELECTED raw value (no arithmetic) — exact hash.

    Scale shape (r8 — formerly the sf-bounded diagnostic): the
    cumulative-weight walk now runs through
    operators/sequence.grouped_prefix_sum — a local running sum per
    (event_type, floor(value)) chunk plus exclusive prefix offsets
    over one aggregated row per chunk — so the EXACT weighted median
    no longer sorts a whole type in one task.
    ``agg_weighted_median_approx`` (weight-expanded percentile_approx
    sketch) remains the one-scan approximate path. NULL values chunk
    to +inf, matching the asc_nulls_last order (Spark's bare ASC is
    NULLS FIRST while DuckDB's is NULLS LAST — spelled so both
    engines walk the identical prefix; fuzz-pinned)."""
    from warpdb_spark.operators.sequence import grouped_prefix_sum

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        (F.col("user_id") % 5 + 1).alias("wt"),
    )
    vchunk = _nulls_last_value_chunk("value")
    d = grouped_prefix_sum(
        ev,
        "event_type",
        [F.asc_nulls_last("value"), "event_id"],
        vchunk,
        "wt",
        prefix_col="cumw",
        total_col="totw",
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("totw").alias("total_weight"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("value"))).alias(
            "weighted_median"
        ),
    )


def agg_weighted_median_approx(spark, sf_dir):
    """The 100 TB twin of ``agg_weighted_median`` — the hot-group
    approximate path that entry's docstring promises: no per-group
    sort anywhere. Weights are bounded small integers (user_id % 5
    + 1), so the weighted median is the plain median of the
    weight-EXPANDED rows (each row duplicated wt times via
    explode(sequence) — a bounded ≤5× map-side blowup, no shuffle),
    and percentile_approx computes it with a tiny mergeable KLL-style
    sketch: map-side partials, one (type) reduce of sketch bytes.

    Verified the ``events_equidepth_approx`` way: the sketch's value
    must sit at the right WEIGHTED RANK — the weight mass strictly
    below it under half + 2%, the mass up to and including it at
    least half − 2% (the exact weighted median satisfies both with
    zero slack, so the oracle computes the exact median via the
    cumulative-weight walk and emits the same booleans — both engines
    produce all-TRUE, hash-checked). Rank checks ride one broadcast
    of the |types|-row sketch output back over a second scan.

    NULL values are filtered up front on BOTH sides: percentile_approx
    ignores NULLs but the oracle's cumulative-weight walk would count
    NULL rows' weights toward the crossing (NULLS LAST), so an
    unfiltered NULL would flip the booleans between engines."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", (F.col("user_id") % 5 + 1).alias("wt"))
    )
    expanded = ev.withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("wt"))))
    appx = expanded.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 100000).alias("wma")
    )
    j = ev.join(F.broadcast(appx), "event_type")
    g = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wt").alias("totw"),
        F.sum(F.when(F.col("value") < F.col("wma"), F.col("wt")).otherwise(0)).alias(
            "w_below"
        ),
        F.sum(F.when(F.col("value") <= F.col("wma"), F.col("wt")).otherwise(0)).alias(
            "w_incl"
        ),
    )
    return g.select(
        "event_type",
        "n",
        F.col("totw").alias("total_weight"),
        (F.col("w_below") < F.col("totw") / 2 + F.col("totw") * 0.02).alias("ok_below"),
        (F.col("w_incl") >= F.col("totw") / 2 - F.col("totw") * 0.02).alias("ok_incl"),
    )


def events_seasonality_hourly(spark, sf_dir):
    """Hour-of-day seasonality profile per event_type: event count,
    hourly mean value, the type's overall mean, and the hourly LIFT
    (hour mean / overall mean) — the load-shaping/anomaly-baseline
    table every metrics pipeline keeps (an alert threshold that
    ignores a 3× diurnal swing pages at breakfast every day).

    One aggregation shuffle on (event_type, hour) — 24×|types| result
    rows at any corpus size — plus a |types|-row broadcast join for
    the overall means. Hours derive from integer epoch-second
    arithmetic (UTC-pinned, engine-identical); value sums snap to
    integer micro-units first, and BOTH means divide exact integer
    moments inside one rounded expression, so the lift hash-matches
    in any evaluation order (the CUSUM determinism rule)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    esec = F.col("ts").cast("long")
    vi = F.round(F.col("value") * 1e6, 0).cast("long")
    base = ev.select(
        "event_type",
        F.pmod(F.floor(esec / 3600), F.lit(24)).cast("int").alias("hour"),
        vi.alias("vi"),
    )
    hourly = base.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("vi").alias("s1")
    )
    overall = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("vi").alias("s_all")
    )
    j = hourly.join(F.broadcast(overall), "event_type")
    hour_mean = F.col("s1") / F.col("n_events") / 1e6
    overall_mean = F.col("s_all") / F.col("n_all") / 1e6
    return j.select(
        "event_type",
        "hour",
        "n_events",
        F.round(hour_mean, 6).alias("hour_mean"),
        F.round(overall_mean, 6).alias("overall_mean"),
        # NULL, not NaN/Inf, when the overall mean is exactly zero —
        # Spark's 0/0 is NaN but DuckDB's is NULL; agree on NULL
        F.when(
            F.col("s_all") != 0,
            F.round(
                (F.col("s1") / F.col("n_events")) / (F.col("s_all") / F.col("n_all")),
                6,
            ),
        ).alias("lift"),
    )


_SHARD_BUDGET = 16_000  # chars per output shard


def shard_assign_bytes(spark, sf_dir):
    """Deterministic byte-budget shard assignment: docs in doc_id
    (ingest) order pack into output shards of ~16k chars — shard id =
    floor(byte_start / budget) where byte_start is the exclusive
    prefix sum of n_chars. The write-planning operator that turns a
    curated corpus into evenly-sized training files with a
    run-reproducible doc→file map (no rand(), no partition-count
    dependence).

    Same two-phase shape as reshape_global_ordinal: range-repartition
    on doc_id into a corpus-proportional partition count, per-partition
    n_chars SUMS (one row per range partition) prefix-summed into
    offsets and broadcast-joined back, then a within-partition running
    sum + offset — no single-task global window, no driver collect.
    All-integer state, so any evaluation order yields the identical
    prefix sums and the oracle's one-window formulation replays it
    exactly.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    parts, offsets = _partition_prefix_offsets(docs, F.sum("n_chars"))
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    byte_start = (
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)) + F.col("__off")
    )
    return parts.join(offsets, "pid").select(
        "doc_id",
        "n_chars",
        byte_start.alias("byte_start"),
        F.floor(byte_start / F.lit(_SHARD_BUDGET)).alias("shard"),
    )


# -----------------------------------------------------------------------------

_VJ_TOP = 100  # per-source vocabulary signature size


def text_source_vocab_jaccard(spark, sf_dir):
    """Pairwise vocabulary similarity BETWEEN sources: each source is
    signed by its top-100 terms (count DESC, term tie-break — a total
    order both engines replay), then every source pair gets
    |A ∩ B| and Jaccard — the corpus-mixing diagnostic that flags two
    "different" crawls as the same feed before they double-weight a
    training mix.

    Scale shape: term counts are one map-side-combined shuffle; the
    top-100 per source is a bounded window over per-source vocab; the
    pair grid is |sources|² rows (tiny at any corpus size — sources
    are a catalog dimension, not data) built from one broadcast
    self-join of the signature frame on term, LEFT-joined back to the
    grid so zero-overlap pairs report 0, not absence."""
    from warpdb_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    terms = docs.filter(T.normalized_text(F.col("text")) != "").select(
        "source", F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("term")
    )
    cnt = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "term")
    # persist + eager count (r13): the signature frame is BOUNDED
    # (≤ _VJ_TOP × |sources| rows at any corpus size) but feeds THREE
    # parentless branches (sizes + both self-join sides) — un-persisted,
    # each branch re-ran the corpus term count and the top-100 window
    # (4 parquet scans in the r12 plan). The eager count matters here
    # because the branches are independent leaf stages an adaptive plan
    # can launch concurrently against a cold cache.
    top = persist_scoped(
        cnt.select("source", "term", F.row_number().over(w).alias("rn")).filter(
            F.col("rn") <= _VJ_TOP
        ),
        eager=True,
    )
    sizes = top.groupBy("source").agg(F.count(F.lit(1)).alias("n_sig"))
    a = top.select(F.col("source").alias("src_a"), "term")
    b = top.select(F.col("source").alias("src_b"), "term")
    inter = (
        # broadcast: both sides are the ≤ _VJ_TOP × |sources| cached
        # signature — the self-join was a SortMergeJoin (2 exchanges)
        a.join(F.broadcast(b), "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_sig").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_sig").alias("nb"))
    grid = sa.crossJoin(sb).filter(F.col("src_a") < F.col("src_b"))
    # broadcast: inter is ≤ |sources|² rows (and the build side of a
    # LEFT join may broadcast) — the planner picked SortMergeJoin
    j = grid.join(F.broadcast(inter), ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        F.round(
            F.coalesce("n_common", F.lit(0))
            / (F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0))),
            6,
        ).alias("vocab_jaccard"),
    )
    return j


def events_interarrival_profile(spark, sf_dir):
    """Per-type inter-arrival-time profile: gap count, mean gap, and
    exact p50/p90 gaps in integer seconds — the feed-health table that
    separates "the producer slowed down" from "the producer died"
    (a dead feed's max gap explodes while its median stays flat).

    Gaps are differences of consecutive epoch-second values — integer,
    so every statistic is exact. Percentiles are SELECTED by explicit
    rank (value at rank ceil(q·n) in gap order) rather than an engine
    quantile builtin — Spark's percentile and DuckDB's quantile_cont
    interpolate with different position formulas, selected-rank values
    are identical by construction.

    Both sequential steps use the r8 chunked primitives
    (operators/sequence.py; the previous spelling was two
    corpus-scale windows on the 5-value event_type key): consecutive
    (prev, next) second pairs via grouped_lead_pairs over hour chunks,
    then gap ranks via grouped_global_rank with the gap VALUE itself
    as the chunk — a rank-via-value-histogram, exact because rank ties
    share a gap value and the selection only reads values at ranks."""
    from warpdb_spark.operators.sequence import grouped_global_rank, grouped_lead_pairs

    ev = _t(spark, sf_dir, "events")
    esec = F.col("ts").cast("long")
    pairs = grouped_lead_pairs(
        ev.withColumn("__esec", esec),
        "event_type",
        ["__esec", "event_id"],
        "__esec",
        (F.col("__esec") / 3600).cast("long"),
    )
    # persist (r13): grouped_global_rank consumes its input from two
    # parentless branches (local ranks + per-chunk totals), so the
    # whole lead-pairs pipeline above ran twice (4 parquet scans in the
    # r12 plan). Two narrow columns (the events_sessionize_by_type
    # pattern).
    g = persist_scoped(
        pairs.select("event_type", (F.col("dst") - F.col("src")).alias("gap"))
    )
    r = grouped_global_rank(
        g, "event_type", ["gap"], F.col("gap"), rank_col="rn", n_col="n"
    )
    return r.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        F.round(F.sum("gap") / F.max("n"), 6).alias("mean_gap_s"),
        F.min(
            F.when(F.col("rn") >= F.ceil(F.col("n") * 0.5), F.col("gap"))
        ).alias("p50_gap_s"),
        F.min(
            F.when(F.col("rn") >= F.ceil(F.col("n") * 0.9), F.col("gap"))
        ).alias("p90_gap_s"),
        F.max("gap").alias("max_gap_s"),
    )


def events_value_winsorize(spark, sf_dir):
    """Winsorization report per event_type: clamp values to exact
    [p5, p95] cutpoints and report how much the tails moved — the
    outlier-taming step metrics pipelines run before any mean-based
    rollup (one fat-finger event can drag an hourly mean for weeks).

    Cutpoints are SELECTED raw values by explicit rank (the
    ``events_interarrival_profile`` rule — engine quantile builtins
    interpolate differently), broadcast back over a second scan
    (|types| rows). The clamp itself is pure selection
    (least/greatest — no arithmetic), then means snap to integer
    micro-units before summing so evaluation order can't flip the
    hash.

    Ranks come from operators/sequence.grouped_global_rank (r8 plan
    audit: the previous ``row_number() OVER (PARTITION BY event_type
    ORDER BY value)`` sorted the whole corpus in |types| tasks):
    row_number within (type, floor(value)) value-chunks plus
    prefix-count offsets over one aggregated row per chunk. Rank ties
    inside a chunk share a value, so rank-SELECTED cutpoints are
    unchanged. NULL values chunk to +inf, matching the NULLS LAST
    order (the agg_weighted_median rule — Spark's bare ASC is NULLS
    FIRST)."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    vchunk = _nulls_last_value_chunk("value")
    r = grouped_global_rank(
        ev,
        "event_type",
        [F.asc_nulls_last("value"), "event_id"],
        vchunk,
        rank_col="rn",
        n_col="n",
    )
    cuts = r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.05), F.col("value"))).alias(
            "lo"
        ),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.95), F.col("value"))).alias(
            "hi"
        ),
    )
    j = ev.join(F.broadcast(cuts), "event_type")
    vi = F.round(F.col("value") * 1e6, 0).cast("long")
    # CASE-form clamp: NULL value falls through to ELSE → stays NULL on
    # BOTH engines (Spark's greatest/least skip NULLs, DuckDB's don't)
    clamped = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    wi = F.round(clamped * 1e6, 0).cast("long")
    g = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias("n_clamped_lo"),
        F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias("n_clamped_hi"),
        F.sum(vi).alias("s_raw"),
        F.sum(wi).alias("s_win"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
    )
    return g.select(
        "event_type",
        "n",
        "n_clamped_lo",
        "n_clamped_hi",
        F.round("lo", 6).alias("p5_cut"),
        F.round("hi", 6).alias("p95_cut"),
        F.round(F.col("s_raw") / F.col("n") / 1e6, 6).alias("mean_raw"),
        F.round(F.col("s_win") / F.col("n") / 1e6, 6).alias("mean_winsorized"),
    )


def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the user-interaction graph (same
    session-transition edge derivation as ``graph_triangle_count``):
    histogram of undirected degree → user count, the first thing to
    read before running PageRank/components at scale (a power-law
    tail says "expect hub skew"; a spike at degree 1 says the graph
    is mostly pairs and component-finding is trivial).

    Edge derivation rides one event_type window; distinct undirected
    edges one shuffle; degrees one map-side-combined count; the
    histogram reduces to at most max-degree rows. Nothing here is
    quadratic — hubs add counts, not pairs."""
    edges = _user_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("user_id"))
        .unionAll(edges.select(F.col("b").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_users"))


_LPA_ROUNDS = 2  # fixed so the DuckDB oracle can unroll the rounds

def graph_label_propagation(spark, sf_dir):
    """Label-propagation community detection (Raghavan et al. 2007)
    over the user-interaction graph — 2 synchronized rounds from
    identity labels: each node adopts the MOST FREQUENT label among
    its neighbors (neighbors only, not self), ties to the SMALLEST
    label; output is the node-level assignment plus each community's
    size. Distinct from dedup_cluster_components' min-label
    connected components: the mode update finds dense sub-communities
    INSIDE one component, which is what you want when near-dup
    clusters or user cohorts live in a single giant component.

    Scale shape, per round: one labels⋈edges hash join on the node
    key + one (node, label) count + one min_by argmax per node — all
    partitioned by keys whose cardinality grows with the graph; no
    bounded-key window, no driver-side state. The round count is the
    only sequential dimension (as in every LPA/Pregel formulation);
    each extra round repeats the same three-shuffle plan. The argmax
    is min_by over struct(-count, label) — deterministic on ties, the
    same (cnt DESC, label ASC) row_number pick the oracle spells."""
    E = _user_edges(spark, sf_dir)
    directed = persist_scoped(
        E.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            E.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    )
    labels = None
    for _round in range(_LPA_ROUNDS):
        if _round == 0:
            # Round-1 identity-join elimination (r13): the initial
            # labels frame is (node, label=node) over the distinct
            # nodes, and the edge set is SYMMETRIZED — every v value
            # also occurs as a u — so joining it on directed.v is the
            # identity mapping label := v. Algebraically equal to the
            # join (labels is distinct, so exactly one match per edge
            # row and no row is dropped); saves the initial distinct
            # (two exchanges) plus a graph-sized hash join per run.
            cand = directed.select("u", F.col("v").alias("label"))
        else:
            cand = directed.join(labels, directed.v == labels.node).select("u", "label")
        counts = cand.groupBy("u", "label").agg(F.count(F.lit(1)).alias("cnt"))
        labels = counts.groupBy("u").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label")
        ).select(F.col("u").alias("node"), "label")
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labels.join(sizes, "label")
        .select("node", "label", "n_members")
        .orderBy("node")
    )


def events_sessionize_by_type(spark, sf_dir):
    """Stream-level sessionization on a BOUNDED key — activity episodes
    of each event TYPE's whole stream (outage/burst episode detection:
    a type goes quiet for > 30 min, a new episode starts). This is the
    shape ``events_sessionize`` cannot reach scale-safely: user_id
    cardinality grows with the corpus, event_type (5 values) never
    does, so the classic lag + cumsum spelling would sort ~1/5 of the
    corpus in one task. Both sequential passes run through the chunked
    primitives (operators/sequence.py):

    1. gap detection: grouped_lag attaches each event's previous
       timestamp — lag within (type, hour chunk) + each chunk's first
       row taking the previous chunk's last ts from one aggregated row
       per chunk. (A first spelling used grouped_global_rank + a
       (type, rank) row-volume self-join; replay_sessionize.py
       measured it 2x the naive cost at 20M — the lag primitive
       removes the join and a full rank pass.)
    2. episode numbering: grouped_prefix_sum of the new-episode flag
       under the same order.

    The only bare-event_type windows in the plan are the two offset
    stitches over per-chunk aggregates (audit tier: agg_input).
    Completing include/expression.hpp:112-121 (the reference parses
    OVER and never executes it) with the 100 TB-safe spelling."""
    from warpdb_spark.operators.sequence import (
        grouped_lag,
        grouped_prefix_sum,
        hour_chunk,
    )

    # Chunk computed ONCE as a column (r13): both chunked passes
    # partition their corpus window by (event_type, chunk). With the
    # chunk as a fresh expression in each pass, the prefix pass could
    # not prove its partitioning matched the lag pass's and re-shuffled
    # the full event stream; carried as a column, ProjectExec's
    # alias-aware partitioning propagates (event_type, __ck) through
    # the lag's boundary-stitch join and the second corpus exchange
    # (and its sort) collapses. Same rows, same chunking — the column
    # IS hour_chunk(ts).
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_type", "event_id", "ts")
        .withColumn("__ck", hour_chunk("ts"))
    )
    sec = F.col("ts").cast("long")
    psec = F.col("prev_ts").cast("long")
    # persist (r13): grouped_prefix_sum consumes its input from TWO
    # parentless branches (the local running sum and the per-chunk
    # totals), so the whole lag pipeline — corpus window + boundary
    # stitch — executed twice (verified in the r12 plan: two full
    # Window+join subtrees from separate scans). The frame is 5 narrow
    # columns.
    j = persist_scoped(
        grouped_lag(
            ev, "event_type", ["ts", "event_id"], "ts", F.col("__ck"),
            out_col="prev_ts",
        )
        .withColumn(
            "new_s",
            F.when(psec.isNull() | ((sec - psec) > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .select("event_type", "event_id", "ts", "new_s", "__ck")
    )
    s = grouped_prefix_sum(
        j, "event_type", ["ts", "event_id"], F.col("__ck"), "new_s",
        prefix_col="session_seq", total_col=None,
    )
    return s.groupBy(
        "event_type", F.col("session_seq").cast("int").alias("session_seq")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(sec) - F.min(sec)).cast("bigint").alias("duration_secs"),
    )


QUERIES = {
    "events_sessionize_by_type": events_sessionize_by_type,
    "graph_triangle_count": graph_triangle_count,
    "text_source_vocab_jaccard": text_source_vocab_jaccard,
    "events_interarrival_profile": events_interarrival_profile,
    "events_value_winsorize": events_value_winsorize,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_adamic_adar": graph_adamic_adar,
    "similarity_mmr_rerank": similarity_mmr_rerank,
    "dedup_containment_ngram": dedup_containment_ngram,
    "dedup_max_shared_run": dedup_max_shared_run,
    "events_user_rfm": events_user_rfm,
    "events_ewma_smooth": events_ewma_smooth,
    "text_quality_classifier": text_quality_classifier,
    "sketch_countmin_words": sketch_countmin_words,
    "text_subword_segment": text_subword_segment,
    "text_bpe_learn_merges": text_bpe_learn_merges,
    "graph_label_propagation": graph_label_propagation,
    "text_kneser_ney_bigram": text_kneser_ney_bigram,
    "events_trend_ols": events_trend_ols,
    "events_markov_transitions": events_markov_transitions,
    "text_perplexity_bigram": text_perplexity_bigram,
    "range_join_session_overlap": range_join_session_overlap,
    "reshape_global_ordinal": reshape_global_ordinal,
    "corpus_ngram_novelty": corpus_ngram_novelty,
    "shard_assign_bytes": shard_assign_bytes,
    "events_seasonality_hourly": events_seasonality_hourly,
    "agg_weighted_median": agg_weighted_median,
    "agg_weighted_median_approx": agg_weighted_median_approx,
    "dedup_minhash_estimate_calibration": dedup_minhash_estimate_calibration,
    "text_zipf_alpha": text_zipf_alpha,
}

ORACLES = {
    "events_sessionize_by_type": (
        "WITH o AS (SELECT event_type, ts, event_id, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s "
        "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)), "
        "s AS (SELECT event_type, ts, CAST(sum(new_s) OVER ("
        "PARTITION BY event_type ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT) "
        "AS session_seq FROM o) "
        "SELECT event_type, session_seq, count(*) AS n_events, "
        "min(ts) AS session_start, max(ts) AS session_end, "
        "CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_secs "
        "FROM s GROUP BY 1, 2"
    ),
    # selected-rank cutpoints + micro-snapped means; clamp is pure
    # selection (least/greatest) so both engines pick identical values
    "events_value_winsorize": (
        "WITH r AS (SELECT event_type, event_id, value, "
        "row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn, "
        "count(*) OVER (PARTITION BY event_type) AS n FROM events), "
        "cuts AS (SELECT event_type, "
        "min(CASE WHEN rn >= ceil(n * 0.05) THEN value END) AS lo, "
        "min(CASE WHEN rn >= ceil(n * 0.95) THEN value END) AS hi "
        "FROM r GROUP BY event_type), "
        "j AS (SELECT e.event_type, e.value, c.lo, c.hi, "
        "CAST(round(e.value * 1e6, 0) AS BIGINT) AS vi, "
        "CAST(round((CASE WHEN e.value < c.lo THEN c.lo "
        "WHEN e.value > c.hi THEN c.hi ELSE e.value END) * 1e6, 0) AS BIGINT) AS wi "
        "FROM events e JOIN cuts c USING (event_type)) "
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo, "
        "CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi, "
        "round(min(lo), 6) AS p5_cut, round(min(hi), 6) AS p95_cut, "
        "round(sum(vi) * 1.0 / count(*) / 1e6, 6) AS mean_raw, "
        "round(sum(wi) * 1.0 / count(*) / 1e6, 6) AS mean_winsorized "
        "FROM j GROUP BY event_type"
    ),
    # same edge derivation as graph_triangle_count; degrees then a
    # counts-of-counts histogram
    "graph_degree_distribution": (
        "WITH nx AS (SELECT user_id AS src, "
        "lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst "
        "FROM events), "
        "E AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
        "FROM nx WHERE dst IS NOT NULL AND dst <> src), "
        "d AS (SELECT user_id, CAST(count(*) AS BIGINT) AS degree FROM ("
        "SELECT a AS user_id FROM E UNION ALL SELECT b FROM E) GROUP BY user_id) "
        "SELECT degree, CAST(count(*) AS BIGINT) AS n_users FROM d GROUP BY degree"
    ),
    # identical total order (count DESC, term) -> identical signatures
    "text_source_vocab_jaccard": (
        r"WITH norm AS (SELECT source, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS nrm FROM documents), "
        "t AS (SELECT source, unnest(string_split(nrm, ' ')) AS term "
        "FROM norm WHERE nrm <> ''), "
        "c AS (SELECT source, term, count(*) AS c FROM t GROUP BY source, term), "
        "top AS (SELECT source, term FROM (SELECT source, term, "
        "row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rn FROM c) "
        "WHERE rn <= 100), "
        "sz AS (SELECT source, count(*) AS n_sig FROM top GROUP BY source), "
        "i AS (SELECT a.source AS src_a, b.source AS src_b, "
        "CAST(count(*) AS BIGINT) AS n_common "
        "FROM top a JOIN top b ON a.term = b.term AND a.source < b.source "
        "GROUP BY 1, 2), "
        "g AS (SELECT sa.source AS src_a, sb.source AS src_b, "
        "sa.n_sig AS na, sb.n_sig AS nb FROM sz sa, sz sb "
        "WHERE sa.source < sb.source) "
        "SELECT g.src_a, g.src_b, "
        "CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common, "
        "round(coalesce(i.n_common, 0) * 1.0 / "
        "(g.na + g.nb - coalesce(i.n_common, 0)), 6) AS vocab_jaccard "
        "FROM g LEFT JOIN i ON i.src_a = g.src_a AND i.src_b = g.src_b"
    ),
    # selected-rank percentiles (engine quantile builtins interpolate
    # with different position formulas; explicit ranks are identical)
    "events_interarrival_profile": (
        "WITH e AS (SELECT event_type, event_id, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS esec FROM events), "
        "g AS (SELECT event_type, event_id, esec - lag(esec) OVER "
        "(PARTITION BY event_type ORDER BY esec, event_id) AS gap FROM e), "
        "r AS (SELECT event_type, gap, "
        "row_number() OVER (PARTITION BY event_type ORDER BY gap, event_id) AS rn, "
        "count(*) OVER (PARTITION BY event_type) AS n "
        "FROM g WHERE gap IS NOT NULL) "
        "SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps, "
        "round(sum(gap) * 1.0 / max(n), 6) AS mean_gap_s, "
        "CAST(min(CASE WHEN rn >= ceil(n * 0.5) THEN gap END) AS BIGINT) AS p50_gap_s, "
        "CAST(min(CASE WHEN rn >= ceil(n * 0.9) THEN gap END) AS BIGINT) AS p90_gap_s, "
        "CAST(max(gap) AS BIGINT) AS max_gap_s FROM r GROUP BY event_type"
    ),
    # id-ordered 3-way self-join enumerates the identical triangle set
    # the degree-oriented Spark path produces
    "graph_triangle_count": (
        "WITH nx AS (SELECT user_id AS src, "
        "lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst "
        "FROM events), "
        "E AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
        "FROM nx WHERE dst IS NOT NULL AND dst <> src), "
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM E e1 "
        "JOIN E e2 ON e2.a = e1.b JOIN E e3 ON e3.a = e1.a AND e3.b = e2.b), "
        "corners AS (SELECT x AS user_id FROM tri UNION ALL "
        "SELECT y FROM tri UNION ALL SELECT z FROM tri) "
        "SELECT user_id, count(*) AS n_triangles FROM corners GROUP BY user_id"
    ),
    "graph_adamic_adar": _AA_ORACLE,
    "similarity_mmr_rerank": _mmr_oracle(),
    "dedup_containment_ngram": _CONTAIN_ORACLE,
    "dedup_max_shared_run": _max_run_oracle(),
    "events_user_rfm": _RFM_ORACLE,
    "events_ewma_smooth": _ewma_oracle(),
    # plain pairwise overlap join over the sessionize CTE — the banded
    # Spark path must produce the identical pair set
    "range_join_session_overlap": (
        "WITH e0 AS (SELECT user_id, ts, event_id, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS esec FROM events), "
        "f AS (SELECT user_id, ts, event_id, esec, "
        "CASE WHEN lag(esec) OVER w IS NULL "
        "OR esec - lag(esec) OVER w > 3600 THEN 1 ELSE 0 END AS new_s "
        "FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "s AS (SELECT user_id, esec, "
        "CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS session_seq "
        "FROM f), "
        "sess AS (SELECT user_id, session_seq, "
        "min(esec) AS st, max(esec) AS en "
        "FROM s GROUP BY 1, 2) "
        "SELECT a.user_id AS user_a, a.session_seq AS session_a, "
        "b.user_id AS user_b, b.session_seq AS session_b, "
        "CAST(least(a.en, b.en) - greatest(a.st, b.st) AS BIGINT) AS overlap_secs "
        "FROM sess a JOIN sess b ON a.user_id < b.user_id "
        "AND a.st <= b.en AND b.st <= a.en"
    ),
    "text_quality_classifier": _QC_ORACLE,
    "sketch_countmin_words": _cms_oracle(),
    "text_subword_segment": _SW_ORACLE,
    "text_bpe_learn_merges": _bpe_oracle(),
    # two unrolled LPA rounds; argmax = row_number (cnt DESC, label)
    "graph_label_propagation": (
        "WITH nx AS (SELECT user_id AS src, lead(user_id) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id) AS dst FROM events), "
        "E AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
        "FROM nx WHERE dst IS NOT NULL AND dst <> src), "
        "D AS (SELECT a AS u, b AS v FROM E UNION ALL SELECT b, a FROM E), "
        "l0 AS (SELECT DISTINCT u AS node FROM D), "
        "c1 AS (SELECT D.u, l.node AS label, count(*) AS cnt FROM D "
        "JOIN l0 l ON D.v = l.node GROUP BY 1, 2), "
        "l1 AS (SELECT u AS node, label FROM (SELECT u, label, "
        "row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label) AS rn "
        "FROM c1) WHERE rn = 1), "
        "c2 AS (SELECT D.u, l1.label, count(*) AS cnt FROM D "
        "JOIN l1 ON D.v = l1.node GROUP BY 1, 2), "
        "l2 AS (SELECT u AS node, label FROM (SELECT u, label, "
        "row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label) AS rn "
        "FROM c2) WHERE rn = 1), "
        "sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members "
        "FROM l2 GROUP BY label) "
        "SELECT node, l2.label, n_members FROM l2 JOIN sz ON l2.label = sz.label "
        "ORDER BY node"
    ),
    "events_trend_ols": _OLS_ORACLE,
    "events_markov_transitions": _MARKOV_ORACLE,
    "text_perplexity_bigram": _BIGRAM_ORACLE,
    "text_kneser_ney_bigram": _KN_ORACLE,
    "reshape_global_ordinal": (
        "SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS ordinal, n_chars "
        "FROM documents"
    ),
    # same tokenization as _max_run_oracle; min-per-gram = first corpus
    # occurrence, novelty = share of self-first grams
    "corpus_ngram_novelty": (
        r"WITH norm AS (SELECT doc_id, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS nrm FROM documents), "
        "tok AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM norm), "
        "g AS (SELECT doc_id, unnest(list_distinct("
        "[array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)]"
        ")) AS gm FROM tok), "
        "first AS (SELECT gm, min(doc_id) AS first_id FROM g GROUP BY gm) "
        "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, "
        "CAST(sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, "
        "round(sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS novelty "
        "FROM g JOIN first f USING (gm) GROUP BY g.doc_id"
    ),
    # integer cumulative weights -> association-proof; median is a
    # selected raw value, no arithmetic
    "agg_weighted_median": (
        "WITH d AS (SELECT event_type, event_id, value, user_id % 5 + 1 AS wt, "
        "CAST(sum(user_id % 5 + 1) OVER (PARTITION BY event_type "
        "ORDER BY value, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS cumw, "
        "CAST(sum(user_id % 5 + 1) OVER (PARTITION BY event_type) AS BIGINT) AS totw "
        "FROM events) "
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
        "max(totw) AS total_weight, "
        "min(CASE WHEN 2 * cumw >= totw THEN value END) AS weighted_median "
        "FROM d GROUP BY event_type"
    ),
    # exact weighted median via the same cumw walk, then the entry's
    # rank-tolerance booleans evaluated AT it (zero slack -> all TRUE)
    "agg_weighted_median_approx": (
        "WITH d AS (SELECT event_type, event_id, value, "
        "user_id % 5 + 1 AS wt, "
        "CAST(sum(user_id % 5 + 1) OVER (PARTITION BY event_type "
        "ORDER BY value, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS cumw, "
        "CAST(sum(user_id % 5 + 1) OVER (PARTITION BY event_type) AS BIGINT) AS totw "
        "FROM events WHERE value IS NOT NULL), "
        "m AS (SELECT event_type, "
        "min(CASE WHEN 2 * cumw >= totw THEN value END) AS wm "
        "FROM d GROUP BY event_type), "
        "g AS (SELECT d.event_type, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(wt) AS BIGINT) AS totw, "
        "CAST(sum(CASE WHEN value < wm THEN wt ELSE 0 END) AS BIGINT) AS w_below, "
        "CAST(sum(CASE WHEN value <= wm THEN wt ELSE 0 END) AS BIGINT) AS w_incl "
        "FROM d JOIN m ON m.event_type = d.event_type GROUP BY d.event_type) "
        "SELECT event_type, n, totw AS total_weight, "
        "w_below < totw / 2.0 + totw * 0.02 AS ok_below, "
        "w_incl >= totw / 2.0 - totw * 0.02 AS ok_incl FROM g"
    ),
    # full signature replay: md5-derived per-seed string-min components
    # are engine-portable, so the banded candidate set, estimate,
    # exact, and verdict all hash
    "dedup_minhash_estimate_calibration": (
        r"WITH norm AS (SELECT doc_id, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS nrm "
        "FROM documents WHERE doc_id % 3 = 0), "
        "tok AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM norm), "
        "sh0 AS (SELECT doc_id, "
        "list_distinct([array_to_string(toks[i:i+2], ' ') "
        "for i in generate_series(1, len(toks) - 2)]) AS g FROM tok), "
        "sh AS (SELECT doc_id, g, "
        + ", ".join(
            f"list_min(list_transform(g, gm -> substr(md5('{s}|' || gm), 1, 16))) AS h{s}"
            for s in range(16)
        )
        + " FROM sh0 WHERE len(g) > 0), "
        "inv AS (SELECT doc_id, unnest(["
        + ", ".join(f"'{s}|' || h{s}" for s in range(_MH_CAL_BANDS))
        + "]) AS key FROM sh), "
        + _capped_pairs_sql("inv", _BAND_CAP)
        + ", p AS (SELECT id_a, id_b, ("
        + " + ".join(f"CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END" for s in range(16))
        + ") AS n_matching, "
        "len(list_intersect(a.g, b.g)) AS inter, "
        "len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS un "
        "FROM cand JOIN sh a ON a.doc_id = cand.id_a "
        "JOIN sh b ON b.doc_id = cand.id_b) "
        "SELECT id_a, id_b, CAST(n_matching AS INT) AS n_matching, "
        "round(n_matching / 16.0, 6) AS jaccard_est, "
        "round(inter * 1.0 / un, 6) AS jaccard_exact, "
        "round(abs(n_matching / 16.0 - inter * 1.0 / un), 6) AS abs_err, "
        "abs(n_matching / 16.0 - inter * 1.0 / un) <= 0.375 AS within_3sigma FROM p"
    ),
    # micro-snapped log moments -> identical OLS double expression
    "text_zipf_alpha": (
        r"WITH norm AS (SELECT trim(regexp_replace(lower(text),'\s+',' ','g')) AS nrm "
        "FROM documents), "
        "t AS (SELECT unnest(string_split(nrm, ' ')) AS term FROM norm WHERE nrm <> ''), "
        "cnt AS (SELECT term, count(*) AS c FROM t GROUP BY term "
        "ORDER BY c DESC, term LIMIT 50), "
        "rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM cnt), "
        "s AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6, 0) AS BIGINT) AS xi, "
        "CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT) AS yi FROM rk), "
        "m AS (SELECT count(*) AS n, CAST(sum(xi) AS HUGEINT) AS sx, "
        "CAST(sum(yi) AS HUGEINT) AS sy, CAST(sum(xi * xi) AS HUGEINT) AS sxx, "
        "CAST(sum(yi * yi) AS HUGEINT) AS syy, CAST(sum(xi * yi) AS HUGEINT) AS sxy FROM s) "
        "SELECT n AS n_terms, "
        "CASE WHEN sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n) > 0 THEN "
        "round(-((sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n)) / "
        "(sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))), 6) END AS zipf_alpha, "
        "CASE WHEN sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n) > 0 "
        "AND syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n) > 0 THEN "
        "round(((sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n)) * "
        "(sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))) / "
        "((sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n)) * "
        "(syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))), 6) END AS r2 FROM m"
    ),
    # identical integer-moment arithmetic; hour from floor(epoch).
    # Pre-1970 epochs: Spark floors the division and pmod is
    # non-negative, while DuckDB's // TRUNCATES and % keeps sign ->
    # explicit floor() + double-mod normalization
    "events_seasonality_hourly": (
        "WITH b AS (SELECT event_type, "
        "CAST(((CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 24) + 24) % 24 AS INT) AS hour, "
        "CAST(round(value * 1e6, 0) AS BIGINT) AS vi FROM events), "
        "h AS (SELECT event_type, hour, count(*) AS n_events, "
        "CAST(sum(vi) AS BIGINT) AS s1 FROM b GROUP BY 1, 2), "
        "o AS (SELECT event_type, count(*) AS n_all, "
        "CAST(sum(vi) AS BIGINT) AS s_all FROM b GROUP BY 1) "
        "SELECT h.event_type, h.hour, h.n_events, "
        "round(s1 * 1.0 / n_events / 1e6, 6) AS hour_mean, "
        "round(s_all * 1.0 / n_all / 1e6, 6) AS overall_mean, "
        "CASE WHEN s_all <> 0 THEN "
        "round((s1 * 1.0 / n_events) / (s_all * 1.0 / n_all), 6) END AS lift "
        "FROM h JOIN o USING (event_type)"
    ),
    # one-window formulation of the two-phase prefix sum (integer
    # state: identical in any evaluation order)
    "shard_assign_bytes": (
        "WITH p AS (SELECT doc_id, n_chars, "
        "CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS byte_start "
        "FROM documents) "
        "SELECT doc_id, n_chars, byte_start, "
        "CAST(floor(byte_start / 16000) AS BIGINT) AS shard FROM p"
    ),
}
