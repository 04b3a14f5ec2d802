"""Retrieval / semantic-curation inventory (round 3, continued).

The training-data-pipeline families that sit on top of the core engine:
lexical retrieval (BM25 over an inverted-postings shape), semantic
deduplication (SemDeDup: cluster-then-prune, Abbas et al. 2023),
sketch-mergeable distinct counts (Apache DataSketches HLL via Spark's
``hll_sketch_agg``/``hll_union_agg``), and linear-interpolation
resampling (the gap-fill variant LOCF can't express).

Reference parity: the reference engine (src/warpdb.cpp) stops at scans
+ filter/project/aggregate; these are superset operators its users
would otherwise leave the engine for. Every entry is oracle-checked
against DuckDB (the HLL entry uses the in-tolerance-boolean pattern —
the sketch estimate itself is library-specific).

Scale notes inline; common theme: query-term/centroid broadcasts, one
key-shuffle maximum on the fact side, and per-cluster quadratic work
bounded by cluster size (the SemDeDup point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warpdb_spark.persist import persist_scoped
from warpdb_spark.sources.readers import cached_table, ns_to_timestamp


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-keyed metadata memo (r12): see sources.readers.cached_table
    return cached_table(spark, sf_dir, name)


# --- lexical retrieval -------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ["hash", "join", "spark"]


def _bm25_scored(spark, sf_dir) -> DataFrame:
    """Shared BM25 scoring frame: (doc_id, bm25, n_terms_hit) for every
    document matching ≥1 query term. See text_bm25_search for the plan
    shape."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.size("toks").alias("dl"), "toks"
    )
    # one-row global stats → broadcast cross join
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    postings = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(_BM25_QUERY))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (_BM25_K1 + 1))
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("w"), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )


def text_bm25_search(spark, sf_dir):
    """BM25 top-20 document retrieval for a fixed query (Robertson /
    Lucene formulation: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    tf-saturation k1=1.2, length-norm b=0.75).

    Inverted-index shape without materializing an index: the corpus
    explodes to (doc, term) postings, but the ``isin(query_terms)``
    filter sits UNDER the exchange, so only postings for the query's
    terms ever shuffle — at 100 TB the shuffled volume is
    O(matching postings), not O(corpus tokens). Doc length rides the
    explode (no second scan); N/avgdl is a one-row broadcast; df per
    term is a |query|-row broadcast. Final top-20 is
    TakeOrderedAndProject on the rounded score (ties → doc_id).
    """
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# --- semantic dedup (SemDeDup) ----------------------------------------------

_SEMDEDUP_K = 8
_SEMDEDUP_TAU = 0.45


def dedup_semantic_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space, then drop near-duplicates WITHIN each cluster only — the
    cluster bound turns the quadratic cosine check into
    sum-over-clusters |c|², which is the whole reason the method
    scales. Keeper rule is deterministic: a vector is dropped iff some
    LOWER-id vector in the same cluster has cosine ≥ τ (0.45 — this
    corpus's near-dup band, see dedup_embedding_cosine).

    Spark shape: md5-deterministic centroid init + one nearest-centroid
    assignment pass (operators/clustering.py — engine-replayable), one
    cluster-key self-join for the pair check (never all-pairs), then a
    pair→survivor anti-join. Output: every vector with its cluster and
    verdict, so the oracle checks assignment AND prune decisions.
    """
    from warpdb_spark.functions import vectors as V
    from warpdb_spark.operators import clustering as K

    emb = _t(spark, sf_dir, "embeddings")
    cents = K.init_centroids(emb, k=_SEMDEDUP_K)
    assigned = K.assign_step(emb, cents).select("vec_id", "cluster")
    vecs = emb.select("vec_id", "embedding").join(assigned, "vec_id")
    a = vecs.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
    )
    b = vecs.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", F.round(V.cosine_similarity(F.col("v_a"), F.col("v_b")), 6)
        )
        .filter(F.col("cos") >= _SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").alias("centroid_id"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dropped"),
        )
    )


# --- sketch-mergeable distinct counts ---------------------------------------


def agg_hll_union_days(spark, sf_dir):
    """Warehouse rollup of distinct users via Apache DataSketches HLL:
    one sketch per day (``hll_sketch_agg``), merged across the month
    (``hll_union_agg``) — the composable shape that lets a 100 TB
    warehouse keep per-partition sketches and answer any date-range
    distinct count by merging kilobyte states instead of rescanning
    raw data. Map-side partial aggregation applies to the sketch
    build, so the fact table shuffles only sketch states.

    The estimate itself is library-specific, so the checkable contract
    is the tolerance pattern (cf. agg_approx_count_distinct): exact
    distinct count + a boolean asserting the merged-sketch estimate
    lands within 5% of it (HLL lgK=12 → ~1.6% rse; 5% is >3 sigma).
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch"),
        F.countDistinct("user_id").alias("exact_day_users"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_month"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("exact_day_users").alias("sum_daily_users"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_month_users"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "sum_daily_users",
        "exact_month_users",
        (
            F.abs(F.col("est_month") - F.col("exact_month_users"))
            <= 0.05 * F.col("exact_month_users")
        ).alias("estimate_within_5pct"),
    )


# --- linear-interpolation resample ------------------------------------------


def events_resample_interpolate(spark, sf_dir):
    """Resample per-event-type mean value to a 6-hour grid with LINEAR
    interpolation across empty buckets (the gap-fill LOCF can't
    express: an empty bucket between observations at v_prev..v_next
    gets the distance-weighted blend). Endpoints with no neighbor on
    one side stay NULL — interpolation never extrapolates.

    Same scale shape as events_resample_locf: raw events collapse in
    ONE partial-aggregated shuffle to the tiny (types × buckets) frame
    (persisted once for its three consumers); the interpolation windows
    run over that aggregate, never over raw events.
    """
    bucket_s = 6 * 3600
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / bucket_s).alias("bucket"),
        "value",
    )
    agg = persist_scoped(
        ev.groupBy("event_type", "bucket").agg(F.avg("value").alias("mean_value")),
        eager=True,
    )
    bounds = agg.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = bounds.select(F.explode(F.sequence("lo", "hi")).alias("bucket")).crossJoin(
        F.broadcast(agg.select("event_type").distinct())
    )
    filled = grid.join(agg, ["event_type", "bucket"], "left")
    # carry the last/next OBSERVED (bucket, value) pair to each grid
    # row — two-pass grouped_carry per direction (r11, retiring the
    # audit's KNOWN_RAW pin): the carry runs within (event_type,
    # 512-bucket chunk) partitions with the cross-chunk stitch over one
    # aggregated row per chunk, so no task ever holds a type's whole
    # grid timeline.
    from warpdb_spark.operators.sequence import grouped_carry

    obs = F.when(
        F.col("mean_value").isNotNull(), F.struct("bucket", "mean_value")
    )
    chunk = F.floor(F.col("bucket") / 512)
    out = grouped_carry(
        filled, "event_type", ["bucket"], value=obs, chunk_expr=chunk,
        out_col="p", broadcast_offsets=True,  # grid chunks are span-bounded
    )
    out = grouped_carry(
        out, "event_type", ["bucket"], value=obs, chunk_expr=chunk,
        out_col="n", backward=True, broadcast_offsets=True,
    )
    out = out.select(
        "event_type",
        "bucket",
        F.col("mean_value").isNotNull().alias("observed"),
        "p",
        "n",
    )
    frac = (F.col("bucket") - F.col("p.bucket")) / (
        F.col("n.bucket") - F.col("p.bucket")
    )
    interp = F.when(
        F.col("p").isNotNull() & F.col("n").isNotNull(),
        F.when(
            F.col("n.bucket") == F.col("p.bucket"), F.col("p.mean_value")
        ).otherwise(
            F.col("p.mean_value")
            + frac * (F.col("n.mean_value") - F.col("p.mean_value"))
        ),
    )
    return out.select(
        "event_type",
        "bucket",
        "observed",
        F.round(interp, 6).alias("value_interp"),
    )


# --- hybrid search -----------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 50


def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: fuse the BM25 lexical ranking and an exact
    embedding-cosine ranking (query vector = the vec_id-0 embedding;
    vec_id keys the same corpus as doc_id) with reciprocal-rank fusion
    (Cormack et al. 2009): rrf = Σ_lists 1/(60 + rank). The standard
    two-tower + lexical hybrid serving shape.

    Scale: each leg is its own top-50 (BM25 = filtered-postings
    aggregation, ANN = broadcast query vector + one scan —
    TakeOrderedAndProject both), so the rank windows and the fusion
    full-outer join run over ≤50-row frames — the corpus is scanned
    once per leg and never joined pairwise. Ranks sit on round-6
    scores with id tie-breaks, so DuckDB replays both lists and the
    fused order exactly.
    """
    from warpdb_spark.functions import vectors as V

    # lexical leg — same scoring pipeline as text_bm25_search
    bm = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_TOPN)
    )
    w_bm = Window.orderBy(F.col("bm25").desc(), "doc_id")
    bm_ranked = bm.select("doc_id", F.row_number().over(w_bm).alias("bm25_rank"))

    # semantic leg — exact cosine vs the broadcast query vector
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec")
    )
    ann = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                V.cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(_RRF_TOPN)
    )
    w_ann = Window.orderBy(F.col("cos").desc(), "vec_id")
    ann_ranked = ann.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_ann).alias("ann_rank"),
    )

    # ranks coalesce to 0 ("absent from this list") — a NULL int column
    # would round-trip as float64 through pandas on the oracle side
    fused = bm_ranked.join(ann_ranked, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("bm25_rank", F.lit(0)).alias("bm25_rank"),
        F.coalesce("ann_rank", F.lit(0)).alias("ann_rank"),
        F.round(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("ann_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(20)


def search_rerank_cross_features(spark, sf_dir):
    """Cross-encoder-style feature rerank over the hybrid-RRF candidate
    list — the standard retrieve-then-rerank serving shape: the cheap
    first stage (search_hybrid_rrf) nominates 20 candidates, then a
    second-stage scorer computes QUERY-DOCUMENT CROSS features (here:
    bm25_rank, ann_rank, and the query-doc distinct-token overlap that
    neither single-leg ranking sees) and combines them with a hashed
    linear model (md5-derived integer pseudo-weights — the same
    deterministic stand-in discipline as text_quality_classifier; swap
    in a broadcast learned vector in production).

    Scale: the expensive cross features are computed for 20 candidates,
    not the corpus — the first stage bounds second-stage cost, exactly
    like a real cross-encoder deployment. Scoring is integer-space
    (exact in any engine); the one join against documents is a 20-row
    broadcast lookup. DuckDB replays both retrieval legs, the overlap
    feature, the weights, and the fused order bit-for-bit."""
    fused = search_hybrid_rrf(spark, sf_dir)  # doc_id, bm25_rank, ann_rank, rrf_score
    docs = _t(spark, sf_dir, "documents")

    def alnum(c):
        return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda t: t != F.lit(""))

    def w(name):
        # one exact integer weight per feature, derivable in any engine:
        # first 4 md5 hex chars of 'w_<name>' - 32768  ∈ [-32768, 32767]
        return (
            F.conv(F.substring(F.md5(F.lit("w_" + name)), 1, 4), 16, 10).cast("long")
            - 32768
        )

    q_toks = docs.filter(F.col("doc_id") == 0).select(
        F.array_distinct(alnum(F.col("text"))).alias("q_toks")
    )
    cand = fused.join(docs.select("doc_id", "text"), "doc_id", "left").crossJoin(
        F.broadcast(q_toks)
    )
    overlap = F.coalesce(
        F.size(F.array_intersect(F.array_distinct(alnum(F.col("text"))), F.col("q_toks"))),
        F.lit(0),
    ).cast("long")
    feats = cand.select(
        "doc_id",
        "bm25_rank",
        "ann_rank",
        overlap.alias("overlap_tokens"),
    )
    score = (
        w("bm25") * F.col("bm25_rank")
        + w("ann") * F.col("ann_rank")
        + w("overlap") * F.col("overlap_tokens")
    )
    return feats.select(
        "doc_id",
        "bm25_rank",
        "ann_rank",
        "overlap_tokens",
        score.alias("rerank_score"),
        F.row_number()
        .over(Window.orderBy(score.desc(), "doc_id"))
        .alias("rerank_pos"),
    )


_HN_TOPN = 50
_HN_TAU = 0.05


def search_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retriever training: documents that the
    LEXICAL ranker loves (BM25 top-50) but that are semantically far
    from the query (cosine to the query embedding < 0.05) — the
    classic "lexically plausible, semantically wrong" negatives that
    teach a dual-encoder or cross-encoder what keyword overlap alone
    can't distinguish (DPR / ANCE-style mining, done entirely
    in-engine).

    Scale: the BM25 leg is the shared filtered-postings aggregation
    (shuffle volume O(matching postings), not corpus tokens) cut to 50
    rows by TakeOrderedAndProject; those 50 broadcast into one
    embeddings scan (query vector is a one-row broadcast), so no
    embedding ever shuffles. Output ordered by bm25_rank — a total
    order on an integer, replayed exactly by the oracle.
    """
    from warpdb_spark.functions import vectors as V

    bm = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_HN_TOPN)
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    bm_ranked = bm.select(
        "doc_id", "bm25", F.row_number().over(w).alias("bm25_rank")
    )
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    cos = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(V.cosine_similarity(F.col("embedding"), F.col("q_vec")), 6).alias(
            "cos"
        ),
    )
    return (
        cos.join(F.broadcast(bm_ranked), "doc_id")
        .filter(F.col("cos") < F.lit(_HN_TAU))
        .select("doc_id", "bm25", "bm25_rank", "cos")
        .orderBy("bm25_rank")
    )


def search_eval_ndcg(spark, sf_dir):
    """Graded retrieval evaluation IN-QUERY: nDCG@20 of the hybrid-RRF
    ranking, with relevance grades derived from the exact-cosine rank
    of each candidate (rank ≤5 → rel 3, ≤10 → 2, ≤20 → 1, else 0 —
    the standard graded-judgment ladder with the exact ranking as the
    judge). Emits per-position gain, cumulative DCG, ideal DCG, and
    nDCG — the eval table a retrieval deployment tracks per release.

    Scale: exact ranks come from ONE broadcast-query corpus scan joined
    against the 20 broadcast candidates (O(20·N) predicate work, no
    global sort — rank = 1 + count-ahead); the DCG windows run over a
    20-row frame. Cosines are round-6 with id tie-breaks and both
    engines accumulate the running sums in the same position order, so
    DuckDB replays every value."""
    from warpdb_spark.functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    scored = emb.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        F.round(V.cosine_similarity(F.col("embedding"), F.col("q_vec")), 6).alias("cos"),
    )
    fused = search_hybrid_rrf(spark, sf_dir)
    w_pos = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    cand = fused.select("doc_id", F.row_number().over(w_pos).alias("pos"))
    # Persist the ≤20-row candidate frame (r12, guide §5): it feeds
    # TWO parentless branches (the count-ahead broadcast and the rank
    # assembly), and the final DCG/ideal-DCG join references the rank
    # assembly TWICE more — un-persisted, Catalyst replicated the
    # ENTIRE upstream (the hybrid-RRF fusion pipeline and the
    # corpus-cosine scan) once per reference: 29 Exchanges / 6 corpus
    # scans in the optimized plan for a 20-row eval table. Two
    # bounded eager materializations truncate every copy; at 100 TB
    # each avoided copy is a full corpus scan + fusion recompute.
    cc = persist_scoped(
        cand.join(
            scored.select(F.col("vec_id").alias("doc_id"), F.col("cos").alias("c_cos")),
            "doc_id",
        ),
        eager=True,
    )
    ahead = (
        scored.crossJoin(
            F.broadcast(cc.select(F.col("doc_id").alias("c_id"), "c_cos"))
        )
        .filter(
            (F.col("cos") > F.col("c_cos"))
            | ((F.col("cos") == F.col("c_cos")) & (F.col("vec_id") < F.col("c_id")))
        )
        .groupBy("c_id")
        .agg(F.count(F.lit(1)).alias("n_ahead"))
    )
    # ≤20 rows; both the DCG and ideal-DCG branches read it
    rk = persist_scoped(
        cc.join(ahead, cc.doc_id == ahead.c_id, "left").select(
            "doc_id",
            "pos",
            (F.coalesce("n_ahead", F.lit(0)) + 1).cast("int").alias("exact_rank"),
        ),
        eager=True,
    )
    rel = (
        F.when(F.col("exact_rank") <= 5, 3)
        .when(F.col("exact_rank") <= 10, 2)
        .when(F.col("exact_rank") <= 20, 1)
        .otherwise(0)
    )
    g = rk.select("doc_id", "pos", "exact_rank", rel.alias("rel"))
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("pos") + 1)
    w_seq = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = g.select(
        "doc_id", "pos", "exact_rank", "rel",
        gain.alias("__gain"),
        F.sum(gain).over(w_seq).alias("__dcg"),
    )
    w_ideal = Window.orderBy(F.col("rel").desc(), "pos")
    ideal = g.select(
        F.row_number().over(w_ideal).alias("ipos"), F.col("rel").alias("irel")
    )
    igain = (F.pow(F.lit(2.0), F.col("irel")) - 1) / F.log2(F.col("ipos") + 1)
    w_iseq = Window.orderBy("ipos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    icum = ideal.select("ipos", F.sum(igain).over(w_iseq).alias("__idcg"))
    return (
        d.join(icum, d.pos == icum.ipos)
        .select(
            "pos",
            "doc_id",
            "exact_rank",
            "rel",
            F.round("__gain", 6).alias("gain"),
            F.round("__dcg", 6).alias("dcg"),
            F.round("__idcg", 6).alias("idcg"),
            F.round(
                F.coalesce(F.try_divide(F.col("__dcg"), F.col("__idcg")), F.lit(0.0)), 6
            ).alias("ndcg"),
        )
        .orderBy("pos")
    )


# --- contrastive pair mining -------------------------------------------------


def embedding_contrastive_pairs(spark, sf_dir):
    """Contrastive-training triplet mining over the embedding corpus:
    for each anchor (vec_id % 10 = 0), the POSITIVE is its
    highest-cosine neighbor (hard positive; round-6 with id tie-break
    → engine-replayable) and the NEGATIVE is a content-addressed
    pseudo-random draw — the candidate minimizing
    md5(anchor || '-' || cand) (deterministic in any engine, unlike
    rand()), excluding the anchor and its positive.

    Scale shape: anchors are a small broadcast side, the corpus is
    scanned once per pass (pos, then neg with the pos excluded via a
    broadcast join) — never corpus × corpus. Output: one triplet per
    anchor with both similarities.
    """
    from warpdb_spark.functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_vec")
    )
    cands = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_vec")
    )
    pairs = (
        cands.crossJoin(F.broadcast(anchors))
        .filter(F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "cand_id",
            F.round(
                V.cosine_similarity(F.col("a_vec"), F.col("c_vec")), 6
            ).alias("cos"),
            F.md5(
                F.concat_ws("-", F.col("anchor_id"), F.col("cand_id"))
            ).alias("h"),
        )
    )
    pos = pairs.groupBy("anchor_id").agg(
        F.max(F.struct(F.col("cos"), (-F.col("cand_id")).alias("nid"))).alias("p")
    ).select(
        "anchor_id",
        (-F.col("p.nid")).alias("pos_id"),
        F.col("p.cos").alias("pos_cos"),
    )
    negs = (
        pairs.join(F.broadcast(pos), "anchor_id")
        .filter(F.col("cand_id") != F.col("pos_id"))
        .groupBy("anchor_id")
        .agg(F.min(F.struct(F.col("h"), F.col("cand_id"), F.col("cos"))).alias("n"))
        .select(
            "anchor_id",
            F.col("n.cand_id").alias("neg_id"),
            F.col("n.cos").alias("neg_cos"),
        )
    )
    return pos.join(negs, "anchor_id").select(
        "anchor_id", "pos_id", "pos_cos", "neg_id", "neg_cos"
    )


# --- graph analytics ---------------------------------------------------------


def graph_pagerank_users(spark, sf_dir):
    """PageRank over the user-interaction digraph (d=0.85, FIXED 5
    iterations): an edge links each event's user to the next user in
    time within the same event_type (linear construction, no pair
    explosion — two-pass chunked lead per the r8 plan audit; see
    ``scale_ops._user_edges`` for why the single-window spelling is a
    corpus-scale sort on a 5-value key), self-loops dropped, edges
    deduplicated.

    The fixed iteration count + per-iteration round-9 make the whole
    loop engine-replayable, so the DuckDB oracle unrolls the identical
    5 recurrence steps and hash-matches every rank (same pattern as
    the fixed-iteration Lloyd entries). Per iteration: ONE rank⋈edges
    shuffle + a partial-aggregated sum; lineage truncated per round
    (operators/graph.py::pagerank). The open-ended convergence variant
    is pytest-covered (rank mass, dangling behavior, convergence).
    """
    from warpdb_spark.operators import graph as G
    from warpdb_spark.operators.sequence import grouped_lead_pairs, hour_chunk

    ev = _t(spark, sf_dir, "events")
    nx = grouped_lead_pairs(
        ev, "event_type", ["ts", "event_id"], "user_id", hour_chunk("ts")
    )
    edges = nx.filter(F.col("dst") != F.col("src")).select("src", "dst").distinct()
    pr = G.pagerank(edges, damping=0.85, n_iter=5, round_dp=9)
    return pr.select(
        F.col("id").alias("user_id"),
        F.round("rank", 6).alias("pagerank"),
        "out_degree",
    )


# -----------------------------------------------------------------------------

QUERIES = {
    "text_bm25_search": text_bm25_search,
    "dedup_semantic_semdedup": dedup_semantic_semdedup,
    "agg_hll_union_days": agg_hll_union_days,
    "events_resample_interpolate": events_resample_interpolate,
    "graph_pagerank_users": graph_pagerank_users,
    "search_hybrid_rrf": search_hybrid_rrf,
    "search_rerank_cross_features": search_rerank_cross_features,
    "search_eval_ndcg": search_eval_ndcg,
    "search_hard_negatives": search_hard_negatives,
    "embedding_contrastive_pairs": embedding_contrastive_pairs,
}


def _pr_iter(prev: str, out: str) -> str:
    """One unrolled PageRank step: r' = (1-d)/N + d·Σ_in r/outdeg,
    rounded to 9 dp (all constants forced DOUBLE — DuckDB decimal
    literals would otherwise run the recurrence in DECIMAL)."""
    return (
        f"{out} AS (SELECT nd.id, "
        f"round((1e0 - 0.85e0) / (SELECT nn FROM n) + 0.85e0 * coalesce(c.s, 0e0), 9) AS r "
        f"FROM nodes nd LEFT JOIN "
        f"(SELECT e.dst AS id, sum(p.r / o.deg) AS s FROM edges e "
        f"JOIN {prev} p ON e.src = p.id JOIN od o ON o.id = e.src "
        f"GROUP BY e.dst) c ON c.id = nd.id)"
    )

_Q = ", ".join(f"'{t}'" for t in _BM25_QUERY)

# the shared BM25 scoring pipeline (mirrors _bm25_scored) as a CTE chain
_BM25_CTE = (
    "base AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents), "
    "b AS (SELECT doc_id, len(toks) AS dl, toks FROM base), "
    "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b), "
    "post AS (SELECT doc_id, dl, t AS term, count(*) AS tf FROM "
    "(SELECT doc_id, dl, unnest(toks) AS t FROM b) "
    f"WHERE t IN ({_Q}) GROUP BY doc_id, dl, t), "
    "dft AS (SELECT term, count(*) AS df FROM post GROUP BY term), "
    "scored AS (SELECT p.doc_id, "
    "ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * "
    f"(p.tf * ({_BM25_K1} + 1)) / "
    f"(p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl)) AS w "
    "FROM post p JOIN dft d USING (term) CROSS JOIN stats s)"
)

ORACLES = {
    "text_bm25_search": (
        f"WITH {_BM25_CTE} "
        "SELECT doc_id, round(sum(w), 6) AS bm25, count(*) AS n_terms_hit "
        "FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20"
    ),
    "search_hybrid_rrf": (
        f"WITH {_BM25_CTE}, "
        "bmagg AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM scored GROUP BY doc_id), "
        "bmtop AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank "
        f"FROM bmagg ORDER BY bm25 DESC, doc_id LIMIT {_RRF_TOPN}), "
        "ann AS (SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos FROM embeddings), "
        "anntop AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS ann_rank "
        f"FROM ann ORDER BY cos DESC, vec_id LIMIT {_RRF_TOPN}), "
        "fused AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id, "
        "coalesce(b.bm25_rank, 0) AS bm25_rank, coalesce(a.ann_rank, 0) AS ann_rank, "
        f"round(coalesce(1e0 / ({_RRF_K} + b.bm25_rank), 0e0) + "
        f"coalesce(1e0 / ({_RRF_K} + a.ann_rank), 0e0), 6) AS rrf_score "
        "FROM bmtop b FULL OUTER JOIN anntop a ON b.doc_id = a.doc_id) "
        "SELECT doc_id, bm25_rank, ann_rank, rrf_score FROM fused "
        "ORDER BY rrf_score DESC, doc_id LIMIT 20"
    ),
    # same md5-ordered init + round-6 argmin as embedding_kmeans_assign,
    # then the within-cluster lower-id prune
    "dedup_semantic_semdedup": (
        "WITH init AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_SEMDEDUP_K}), "
        "d AS (SELECT e.vec_id, i.c_id, "
        "round(list_sum([(CAST(e.embedding[j] AS DOUBLE) - i.ce[j]) * "
        "(CAST(e.embedding[j] AS DOUBLE) - i.ce[j]) for j in generate_series(1, len(e.embedding))]), 6) AS dist2 "
        "FROM embeddings e CROSS JOIN init i), "
        "assigned AS (SELECT vec_id, c_id AS cluster FROM "
        "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn FROM d) WHERE rn = 1), "
        "v AS (SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS ve "
        "FROM assigned a JOIN embeddings e USING (vec_id)), "
        "pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, "
        "round(list_cosine_similarity(x.ve, y.ve), 6) AS cos "
        "FROM v x JOIN v y ON x.cluster = y.cluster AND x.vec_id < y.vec_id) "
        "SELECT a.vec_id, a.cluster AS centroid_id, "
        f"EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = a.vec_id AND p.cos >= {_SEMDEDUP_TAU}) AS is_dropped "
        "FROM assigned a"
    ),
    # tolerance-boolean pattern: oracle computes the exact counts and
    # asserts the sketch landed (TRUE)
    "agg_hll_union_days": (
        "WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS du FROM events GROUP BY day) "
        "SELECT count(*) AS n_days, CAST(sum(du) AS BIGINT) AS sum_daily_users, "
        "(SELECT count(DISTINCT user_id) FROM events) AS exact_month_users, "
        "TRUE AS estimate_within_5pct FROM daily"
    ),
    "events_resample_interpolate": (
        "WITH agg AS (SELECT event_type, CAST(floor(epoch(ts) / 21600) AS BIGINT) AS bucket, "
        "avg(value) AS mean_value FROM events GROUP BY 1, 2), "
        "bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM agg), "
        "grid AS (SELECT t.event_type, g.bucket FROM "
        "(SELECT unnest(range(lo, hi + 1)) AS bucket FROM bounds) g "
        "CROSS JOIN (SELECT DISTINCT event_type FROM agg) t), "
        "f AS (SELECT g.event_type, g.bucket, a.mean_value FROM grid g "
        "LEFT JOIN agg a USING (event_type, bucket)), "
        "marked AS (SELECT *, "
        "max(CASE WHEN mean_value IS NOT NULL THEN bucket END) OVER "
        "(PARTITION BY event_type ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS pb, "
        "min(CASE WHEN mean_value IS NOT NULL THEN bucket END) OVER "
        "(PARTITION BY event_type ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb "
        "FROM f), "
        "vals AS (SELECT m.*, pa.mean_value AS pv, na.mean_value AS nv FROM marked m "
        "LEFT JOIN agg pa ON pa.event_type = m.event_type AND pa.bucket = m.pb "
        "LEFT JOIN agg na ON na.event_type = m.event_type AND na.bucket = m.nb) "
        "SELECT event_type, bucket, mean_value IS NOT NULL AS observed, "
        "round(CASE WHEN pb IS NULL OR nb IS NULL THEN NULL "
        "WHEN nb = pb THEN pv "
        "ELSE pv + (CAST(bucket - pb AS DOUBLE) / (nb - pb)) * (nv - pv) END, 6) AS value_interp "
        "FROM vals"
    ),
    # hard positive = rank-1 by (cos DESC, id); negative = min md5 hash
    # with the positive excluded — both fully engine-replayable
    "embedding_contrastive_pairs": (
        "WITH a AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av "
        "FROM embeddings WHERE vec_id % 10 = 0), "
        "c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), "
        "p AS (SELECT a.anchor_id, c.cand_id, "
        "round(list_cosine_similarity(av, cv), 6) AS cos, "
        "md5(CAST(a.anchor_id AS VARCHAR) || '-' || CAST(c.cand_id AS VARCHAR)) AS h "
        "FROM a CROSS JOIN c WHERE c.cand_id <> a.anchor_id), "
        "pos AS (SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM "
        "(SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rn FROM p) "
        "WHERE rn = 1), "
        "neg AS (SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos FROM "
        "(SELECT p.anchor_id, p.cand_id, p.cos, "
        "row_number() OVER (PARTITION BY p.anchor_id ORDER BY p.h, p.cand_id) AS rn "
        "FROM p JOIN pos USING (anchor_id) WHERE p.cand_id <> pos.pos_id) t WHERE rn = 1) "
        "SELECT anchor_id, pos_id, pos_cos, neg_id, neg_cos FROM pos JOIN neg USING (anchor_id)"
    ),
    # same edge construction + 5 unrolled recurrence steps; initial
    # rank 1e0/N is deliberately UNrounded (Spark's float literal)
    "graph_pagerank_users": (
        "WITH nx AS (SELECT user_id AS src, "
        "lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst FROM events), "
        "edges AS (SELECT DISTINCT src, dst FROM nx WHERE dst IS NOT NULL AND dst <> src), "
        "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges), "
        "n AS (SELECT count(*) AS nn FROM nodes), "
        "od AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src), "
        "p0 AS (SELECT id, 1e0 / (SELECT nn FROM n) AS r FROM nodes), "
        + ", ".join(_pr_iter(f"p{i}", f"p{i + 1}") for i in range(5))
        + " SELECT p5.id AS user_id, round(p5.r, 6) AS pagerank, "
        "coalesce(od.deg, 0) AS out_degree "
        "FROM p5 LEFT JOIN od ON od.id = p5.id"
    ),
}


# search_rerank_cross_features reuses the full hybrid-RRF replay: the
# first stage's final SELECT becomes a cand20 CTE, then the cross
# features (documents join + distinct-token overlap vs the doc-0 query)
# and the md5-derived integer weights replay the second stage exactly.
_ALNUM_DD = "list_distinct(list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), x -> x <> ''))"

_RRF_HEAD, _RRF_TAIL = ORACLES["search_hybrid_rrf"].split(
    "SELECT doc_id, bm25_rank, ann_rank, rrf_score FROM fused "
)
assert _RRF_TAIL == "ORDER BY rrf_score DESC, doc_id LIMIT 20"

ORACLES["search_rerank_cross_features"] = (
    _RRF_HEAD
    + ", cand20 AS (SELECT doc_id, bm25_rank, ann_rank FROM fused "
    "ORDER BY rrf_score DESC, doc_id LIMIT 20), "
    f"qt AS (SELECT {_ALNUM_DD.format(col='text')} AS q_toks FROM documents WHERE doc_id = 0), "
    "f AS (SELECT c.doc_id, c.bm25_rank, c.ann_rank, "
    "CAST(coalesce(len(list_intersect("
    f"{_ALNUM_DD.format(col='d.text')}, qt.q_toks)), 0) AS BIGINT) AS overlap_tokens "
    "FROM cand20 c LEFT JOIN documents d ON c.doc_id = d.doc_id CROSS JOIN qt), "
    "w AS (SELECT "
    "CAST(concat('0x', substr(md5('w_bm25'), 1, 4)) AS BIGINT) - 32768 AS w_bm, "
    "CAST(concat('0x', substr(md5('w_ann'), 1, 4)) AS BIGINT) - 32768 AS w_ann, "
    "CAST(concat('0x', substr(md5('w_overlap'), 1, 4)) AS BIGINT) - 32768 AS w_ov) "
    "SELECT doc_id, bm25_rank, ann_rank, overlap_tokens, "
    "w_bm * bm25_rank + w_ann * ann_rank + w_ov * overlap_tokens AS rerank_score, "
    "CAST(row_number() OVER (ORDER BY w_bm * bm25_rank + w_ann * ann_rank + "
    "w_ov * overlap_tokens DESC, doc_id) AS INT) AS rerank_pos "
    "FROM f CROSS JOIN w"
)


# search_eval_ndcg: candidate list from the RRF replay, exact ranks via
# count-ahead against the one-scan cosine frame, DCG/IDCG as running
# sums in position order (both engines accumulate sequentially).
ORACLES["search_eval_ndcg"] = (
    _RRF_HEAD
    + ", cand20 AS (SELECT doc_id, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS pos "
    "FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20), "
    "sc AS (SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos "
    "FROM embeddings), "
    "cc AS (SELECT c.doc_id, c.pos, s.cos AS c_cos FROM cand20 c "
    "JOIN sc s ON s.vec_id = c.doc_id), "
    "rk AS (SELECT cc.doc_id, cc.pos, CAST(1 + count(v.vec_id) AS INT) AS exact_rank "
    "FROM cc LEFT JOIN sc v ON v.cos > cc.c_cos OR (v.cos = cc.c_cos AND v.vec_id < cc.doc_id) "
    "GROUP BY cc.doc_id, cc.pos), "
    "g AS (SELECT doc_id, pos, exact_rank, CASE WHEN exact_rank <= 5 THEN 3 "
    "WHEN exact_rank <= 10 THEN 2 WHEN exact_rank <= 20 THEN 1 ELSE 0 END AS rel FROM rk), "
    "d AS (SELECT doc_id, pos, exact_rank, rel, "
    "(pow(2.0, rel) - 1) / log2(pos + 1) AS gain_raw, "
    "sum((pow(2.0, rel) - 1) / log2(pos + 1)) OVER (ORDER BY pos) AS dcg_raw FROM g), "
    "idl AS (SELECT row_number() OVER (ORDER BY rel DESC, pos) AS ipos, rel AS irel FROM g), "
    "icm AS (SELECT ipos, sum((pow(2.0, irel) - 1) / log2(ipos + 1)) OVER (ORDER BY ipos) "
    "AS idcg_raw FROM idl) "
    "SELECT d.pos, d.doc_id, d.exact_rank, d.rel, round(d.gain_raw, 6) AS gain, "
    "round(d.dcg_raw, 6) AS dcg, round(i.idcg_raw, 6) AS idcg, "
    "round(CASE WHEN i.idcg_raw > 0 THEN d.dcg_raw / i.idcg_raw ELSE 0.0 END, 6) AS ndcg "
    "FROM d JOIN icm i ON d.pos = i.ipos ORDER BY d.pos"
)


# search_hard_negatives: BM25 top-50 replay + one-pass cosine frame;
# the filter and the integer-rank total order replay exactly.
ORACLES["search_hard_negatives"] = (
    f"WITH {_BM25_CTE}, "
    "bmagg AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM scored GROUP BY doc_id), "
    "bmtop AS (SELECT doc_id, bm25, "
    "CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS bm25_rank "
    f"FROM bmagg ORDER BY bm25 DESC, doc_id LIMIT {_HN_TOPN}), "
    "ann AS (SELECT vec_id AS doc_id, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos "
    "FROM embeddings) "
    "SELECT b.doc_id, b.bm25, b.bm25_rank, a.cos "
    "FROM bmtop b JOIN ann a USING (doc_id) "
    f"WHERE a.cos < {_HN_TAU} ORDER BY bm25_rank"
)
