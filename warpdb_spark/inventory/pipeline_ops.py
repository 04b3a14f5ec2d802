"""LLM-data-pipeline operator inventory (SURVEY §7 Phase 3 /
BASELINE.json north star): dedup, similarity search, multimodal
columns, text analysis, as-of/range joins, event-time windowing.

Oracle strategy: at sf0.01 the documents/embeddings tables are small
enough (500 rows) that even near-dup ground truth is exactly
expressible in DuckDB (all-pairs n-gram Jaccard / cosine), so the LSH
paths are verified against EXACT answers, not just row counts.
Engine-specific hashes (xxhash64 minhash signatures, SimHash) are
rows-only here and cross-checked by unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from warpdb_spark.functions import text as T
from warpdb_spark.operators import curation as C
from warpdb_spark.operators import dedup as D
from warpdb_spark.operators import multimodal as M
from warpdb_spark.operators import similarity as S
from warpdb_spark.operators.asof import asof_join, range_join
from warpdb_spark.sources.readers import cached_table, ns_to_timestamp
from warpdb_spark.streaming.windows import (
    interval_join,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-keyed metadata memo (r12): see sources.readers.cached_table
    return cached_table(spark, sf_dir, name)


# DuckDB fragments shared by several oracles. The normalizer is the
# shared functions.text.DD_NORM (one authoritative copy — a drift
# between the two would silently split Spark/oracle normalization).
_DD_TOKS = "string_split_regex(trim({col}), '\\s+')"
_DD_NORM = T.DD_NORM
_DD_SHINGLES = (
    "CASE WHEN len(toks) < 3 THEN [norm] ELSE list_distinct(list_transform("
    "range(1, greatest(len(toks) - 1, 1)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END"
)


# --- text analysis -----------------------------------------------------------

def text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


def text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))


def text_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


def text_lang_confidence(spark, sf_dir):
    """Language-ID confidence calibration over the text_lang_id
    heuristic: per-doc stopword/CJK scores for all five languages, then
    confidence = best_score / total_score (share-of-evidence — the
    standard cheap calibration when scores are count-valued) and
    margin = best − runner-up (0 on ties, so ambiguous docs are
    flaggable). ``reliable`` gates on confidence ≥ 0.5 AND margin ≥ 2 —
    the filter a corpus pipeline applies before trusting lang routing.
    All scores are exact integers (same stopword lists as lang_id);
    the only float is one final rounded division, so DuckDB replays
    every value. Zero-shuffle codegen scan, same scale shape as
    text_lang_id."""
    docs = _t(spark, sf_dir, "documents")
    scored = [
        (lang, T.stopword_hits(F.col("text"), words))
        for lang, words in sorted(T.STOPWORDS.items())
    ]
    scored.append(("zh", T.cjk_char_count(F.col("text"))))
    scored.sort(key=lambda kv: kv[0])
    arr = F.sort_array(F.array(*[s.cast("long") for _, s in scored]), asc=False)
    d = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_pred"),
        arr[0].alias("best_score"),
        arr[1].alias("second_score"),
        (arr[0] - arr[1]).alias("margin"),
        F.aggregate(
            F.array(*[s.cast("long") for _, s in scored]),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_score"),
    )
    conf = F.when(
        F.col("total_score") > 0,
        F.round(F.col("best_score") / F.col("total_score"), 6),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        "lang_pred",
        "best_score",
        "second_score",
        "margin",
        conf.alias("confidence"),
        ((F.col("best_score") > 0) & (conf >= 0.5) & (F.col("margin") >= 2)).alias(
            "reliable"
        ),
    )


def text_md5_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.md5_fingerprint(F.col("text")).alias("fingerprint"))


def text_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprint: min md5-prefix hash over word 5-grams —
    the hash is engine-portable, so the full fingerprint value is
    oracle-checked against a DuckDB list-comprehension replica."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.rolling_fingerprint(F.col("text")).alias("fingerprint"))


def text_keywords_rake(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010) — per-document, no
    corpus statistics (the complement of text_tfidf_top_terms):
    candidate phrases are maximal stopword-free token runs, each word
    scores degree/frequency within ITS document (degree = summed length
    of the phrases it appears in), and a phrase scores the sum of its
    words' scores. Output: each document's top phrase (score desc,
    phrase asc tie-break).

    Scale: posexplode → per-doc windows → per-(doc,word) aggregates —
    everything partitions on doc_id, so the operator is embarrassingly
    parallel across documents with one shuffle; degree/frequency are
    integers, each word's score is snapped to integer micro-units
    before the (order-free, exact) sum, and phrase assembly is an
    ordered string_agg twin, so DuckDB replays it exactly."""
    docs = _t(spark, sf_dir, "documents")
    alnum = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    stop = T.STOPWORDS["en"]
    toks = docs.select("doc_id", F.posexplode(alnum).alias("pos", "w"))
    t = toks.withColumn("is_stop", F.col("w").isin(stop).cast("int"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    nt = t.withColumn("phrase_id", F.sum("is_stop").over(w_doc)).filter(
        F.col("is_stop") == 0
    )
    plen = nt.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos").alias("p"), F.col("w").alias("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("phrase"),
    )
    occ = nt.join(plen.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"])
    wstat = occ.groupBy("doc_id", "w").agg(
        F.sum("plen").alias("deg"), F.count(F.lit(1)).alias("freq")
    )
    # per-word score snapped to integer micro-units BEFORE the sum — a
    # float sum's association differs between engines (the CUSUM rule:
    # rounded per-row values wash out noise, accumulated float state
    # does not), and the rounded sum is the RANKING key, so it must be
    # bit-exact. deg/freq are identical ints in both engines, so the
    # division and 6dp snap are too; the int64 sum is order-free.
    wscore_int = F.round((F.col("deg") / F.col("freq")) * 1e6, 0).cast("long")
    pscore = (
        occ.join(wstat, ["doc_id", "w"])
        .groupBy("doc_id", "phrase_id")
        .agg(F.round(F.sum(wscore_int) / 1e6, 6).alias("score"))
        .join(plen, ["doc_id", "phrase_id"])
    )
    w_top = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase")
    )
    return (
        pscore.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select("doc_id", "phrase", "score", F.col("plen").cast("long").alias("n_words"))
    )


def text_tfidf_top_terms(spark, sf_dir):
    """Top-3 characteristic terms per doc by TF-IDF."""
    from warpdb_spark.operators.text_analytics import top_terms

    return top_terms(_t(spark, sf_dir, "documents"), k=3)


def dedup_span_boilerplate(spark, sf_dir):
    """Boilerplate-span removal (C4/RefinedWeb line-dedup analog on a
    corpus without newlines): word 5-grams shared by ≥2 distinct docs
    are dropped token-by-token and the doc reassembled; output carries
    the exact md5 of the cleaned text so the oracle replays removal
    and reassembly bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return C.remove_boilerplate_spans(docs, "doc_id", "text", span=5, min_docs=2)


def corpus_stats_by_stratum(spark, sf_dir):
    """Corpus accounting per (lang, source) stratum — the report every
    training-data run starts and ends with: doc/token/char totals, mean
    quality, and the exact token-count median. The running aggregates
    are one partial-aggregated shuffle on the (tiny) stratum key; the
    exact p50 is a ``grouped_global_rank`` value-chunk rank selection
    (r12, replacing the exact-``percentile`` aggregate the audit's
    collect tier flagged: its per-group buffer never spills while the
    stratum domain is bounded, so one buffer held a stratum's every
    token count forever). Chunk = the token count itself (order-
    monotone, ties share a chunk — exact for value-at-rank); median =
    mean of ranks floor((n+1)/2) and floor(n/2)+1, the same
    interpolation as percentile/DuckDB median. The two stratum-keyed
    frames join broadcast — one row per stratum each."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "lang",
        "source",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    base = enriched.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
    )
    ranked = grouped_global_rank(
        enriched.select("lang", "source", "n_tokens").withColumn(
            "__g", F.concat_ws("\x1f", "lang", "source")
        ),
        "__g",
        [F.asc("n_tokens")],
        F.col("n_tokens").cast("long"),
        rank_col="rk",
        n_col="n",
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor(F.col("n") / 2) + 1
    p50 = (
        ranked.filter((F.col("rk") == lo) | (F.col("rk") == hi))
        .groupBy("lang", "source")
        .agg(F.avg("n_tokens").alias("p50_tokens"))
    )
    return base.join(F.broadcast(p50), ["lang", "source"]).select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        "total_chars",
        "mean_quality",
        "p50_tokens",
    )


# --- dedup -------------------------------------------------------------------

def dedup_exact(spark, sf_dir):
    """Exact dedup on a composite key, survivor = min doc_id.

    Columns are pruned BEFORE the dedup: ``exact_dedup`` aggregates a
    whole-row struct (min_by), which Catalyst cannot prune through —
    selecting first keeps ``text`` out of the scan and the aggregation
    buffer (ReadSchema: 3 of 5 columns, plan-pinned)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return D.exact_dedup(docs, ["lang", "source"], "doc_id")


def dedup_exact_text(spark, sf_dir):
    """Content-hash dedup stats over normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return D.duplicate_stats(docs, T.normalized_text(F.col("text")), "doc_id").select(
        "keep_id", "n_dups"
    )


def dedup_minhash_lsh(spark, sf_dir, docs=None):
    """Near-dup pairs (3-gram Jaccard ≥ 0.8) found via MinHash-LSH
    banding + exact verification; the oracle recomputes ground truth
    with an all-pairs Jaccard (feasible at sf0.01). ``docs``
    overrides the corpus (the planted cross-modal entry injects a
    cloned frame)."""
    docs = docs if docs is not None else _t(spark, sf_dir, "documents")
    return D.lsh_verified_pairs(docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16)


def dedup_minhash_survivors(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_dedup(docs, "doc_id", "text", threshold=0.8).select("doc_id")


def sample_hash_bucket(spark, sf_dir):
    """Deterministic content-addressed sampling: keep docs whose
    md5(doc_id) starts with '0' or '1' (a stable ~1/8 sample). The
    standard way to cut a reproducible subset of a 100 TB corpus —
    stable across runs, partitions, and engines, unlike rand()-based
    sampling; the predicate is codegen'd and needs no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    return docs.filter(F.substring(h, 1, 1).isin("0", "1")).select(
        "doc_id", "lang", "source"
    )


def reshape_train_val_split(spark, sf_dir):
    """Deterministic train/val/test split report (95/4/1 by the
    md5-hex-prefix uniform, the ``sample_weighted`` trick): per
    (split, source), document count, character volume, and the
    split's share WITHIN the source — the pre-training sanity table
    that catches a source whose val slice went empty (or a split
    whose shares drifted) before a single GPU-hour is spent.

    The split predicate is a codegen'd scan (no shuffle, stable
    across runs, partitions, AND engines — rand()-based splits are
    none of these); one (split, source) aggregation + a |sources|-row
    broadcast for the within-source shares."""
    docs = _t(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    split = (
        F.when(u < 0.95, "train").when(u < 0.99, "val").otherwise("test")
    )
    per = docs.select(split.alias("split"), "source", "n_chars").groupBy(
        "split", "source"
    ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("src_docs"))
    return per.join(F.broadcast(tot), "source").select(
        "split",
        "source",
        "n_docs",
        "n_chars",
        F.round(F.col("n_docs") / F.col("src_docs"), 6).alias("share_of_source"),
    )


def _hash_split_expr(key) -> "F.Column":
    """95/4/1 split label from a deterministic md5-hex-prefix uniform
    of ``key`` — the same math ``reshape_train_val_split`` inlines
    (stable across runs, partitions, and engines; left un-refactored
    there to keep that entry's fingerprint unchanged)."""
    u = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    return F.when(u < 0.95, "train").when(u < 0.99, "val").otherwise("test")


def reshape_leakage_safe_split(spark, sf_dir):
    """Leakage-free train/val/test split: near-duplicate documents
    must land on the SAME side of a split, or the held-out slice
    scores training content through its near-dups (the eval-leakage
    failure documented by the dedup literature — Lee et al. 2022
    §6, public). Each document's split key is its near-dup CLUSTER
    label (the transitive component's min doc_id from the SAME
    LSH→exact-Jaccard→connected-components pipeline as
    ``dedup_cluster_components``) when clustered, else its own
    doc_id; the 95/4/1 assignment hashes that key with
    ``reshape_train_val_split``'s md5-hex-prefix uniform. ``moved``
    marks docs whose cluster key changed their split vs the naive
    per-doc hash — each one is a leak the naive split would have
    shipped (its near-dup sits on the other side).

    Scale: the cluster pipeline is the audited banded-LSH +
    bounded-round label propagation (never all-pairs); the docs ↔
    components join shuffles on doc_id (components cover only
    clustered docs, a corpus-scale frame — no broadcast); the split
    labels are one codegen'd map stage. Oracle: the recursive-CTE
    component ground truth + the same CASE/md5 arithmetic."""
    from warpdb_spark.operators.graph import cluster_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    verified = D.lsh_verified_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16
    )
    comp = cluster_near_duplicates(docs, verified)
    keyed = (
        docs.select("doc_id", "source")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("component", F.col("doc_id")).alias("split_key"),
        )
    )
    return keyed.select(
        "doc_id",
        "source",
        "split_key",
        _hash_split_expr(F.col("split_key")).alias("split"),
        (
            _hash_split_expr(F.col("split_key"))
            != _hash_split_expr(F.col("doc_id"))
        ).alias("moved"),
    ).orderBy("doc_id")


def dedup_loss_by_source(spark, sf_dir):
    """Exact-dedup impact report per source: documents and character
    volume before vs after normalized-content dedup (md5 fingerprint,
    survivor = smallest doc_id), plus the char-loss share — the
    budget table a curation run publishes so downstream consumers
    know how much of each source was boilerplate (a source losing
    40% to exact dedup is a crawler bug, not a corpus).

    One fingerprint aggregation (map-side combined min) + one
    broadcast-scale join back; survivors attribute their volume to
    their own source. Loss shares divide exact integers once."""
    docs = _t(spark, sf_dir, "documents")
    fp = T.md5_fingerprint(F.col("text"))
    d = docs.select("doc_id", "source", "n_chars", fp.alias("fp"))
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    flagged = d.join(keep, "fp").select(
        "source",
        "n_chars",
        (F.col("doc_id") == F.col("keep_id")).alias("kept"),
    )
    g = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_docs_kept"),
        F.sum("n_chars").alias("n_chars"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0)).alias(
            "n_chars_kept"
        ),
    )
    return g.select(
        "source",
        "n_docs",
        "n_docs_kept",
        "n_chars",
        "n_chars_kept",
        F.round(1 - F.col("n_chars_kept") / F.col("n_chars"), 6).alias(
            "char_loss_share"
        ),
    )


def sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling: doc i survives iff
    u(i) < n_chars/max_chars where u(i) is a uniform-ish [0,1) value
    derived from the first 8 hex digits of md5(doc_id) — longer docs
    are proportionally likelier to be kept. The engine-portable-hash
    trick makes the sample bit-reproducible across runs AND engines
    (the oracle replays it exactly); the predicate is a codegen'd scan,
    zero shuffle, so it cuts a weighted subset of a 100 TB corpus at
    read speed. Swap n_chars for any quality/temperature weight."""
    docs = _t(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    return docs.filter(u < F.col("n_chars") / F.lit(553.0)).select(
        "doc_id", "lang", "source", "n_chars"
    )


def sample_mixture_alpha(spark, sf_dir):
    """Temperature-scaled data-mixture weights (the mT5/XLM-R α-sampling
    rule, α=0.3): per-language token counts c_i from one corpus scan,
    then p_i = c_i^α / Σ c_j^α — upweighting low-resource languages
    relative to their natural share p_nat = c_i / Σ c_j. Output carries
    both distributions plus the boost factor p_α/p_nat — the table a
    training run feeds its sampler.

    Scale: one partial-aggregated shuffle on the (tiny) lang key; the
    Σ-normalizers are a one-row broadcast cross join. Shares and boosts
    are round-6 (pow/div are the only float steps), so DuckDB replays
    the whole computation."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    alpha = 0.3
    per = per.withColumn("w_alpha", F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)))
    totals = per.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w_alpha").alias("tot_w")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("p_natural"),
            F.round(F.col("w_alpha") / F.col("tot_w"), 6).alias("p_alpha"),
            F.round(
                (F.col("w_alpha") / F.col("tot_w"))
                / (F.col("n_tokens") / F.col("tot_tokens")),
                6,
            ).alias("boost"),
        )
        .orderBy("lang")
    )


def events_zscore_outliers(spark, sf_dir):
    """Per-key anomaly screen: flag events whose value is >2 population
    standard deviations from their event_type mean. The (tiny) per-type
    moment table broadcasts back onto the stream — one partial-agg
    shuffle of events, then a map-only scan; the 100 TB shape for any
    per-key normalization. Output carries the rounded z-score so the
    oracle checks the math, not just the flags. try_divide NULLs a
    zero-variance key (matching DuckDB's float 0/0) instead of throwing
    under this session's ANSI mode, and the filter compares the ROUNDED
    z so a boundary row can't flip between the engines' different
    partial-aggregation orders."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn(
            "zscore",
            F.round(F.try_divide(F.col("value") - F.col("mu"), F.col("sigma")), 6),
        )
        .filter(F.abs(F.col("zscore")) > 2)
        .select("event_id", "event_type", "zscore")
    )


def events_cusum_changepoints(spark, sf_dir):
    """One-sided CUSUM change-point detection per event_type (Page
    1954): s_i = max(0, s_{i-1} + (x_i − μ − k)) with slack k = σ/2 and
    alarm threshold h = 4σ — the standard drift monitor for metric
    streams. The recurrence LOOKS sequential, but the classic identity
    s_i = S_i − min_{j≤i} S_j (S = prefix sum of deviations) turns it
    into TWO stock window functions — cumsum and running-min — so the
    whole operator is shuffle-once-on-type, zero-Python, and works on a
    100 TB stream exactly like any other window.

    Determinism: μ and σ are rounded to 6dp, then each deviation is
    SNAPPED TO INTEGER MICRO-UNITS before accumulating — float prefix
    sums are association-sensitive (DuckDB's windowed SUM runs on a
    segment tree, Spark's sequentially, and the ~1e-13 disagreement
    flips round-6 boundaries; measured on this table), while int64
    sums are exact in any evaluation order. Output: every event with
    its CUSUM statistic and the alarm flag, both derived from the
    integer state, so the hash check is exact. Headroom: the prefix sum
    drifts LINEARLY at −k = −σ/2 per row (μ is the in-sample mean, so
    Σ(x−μ) telescopes to 0 and only the slack accumulates) — int64
    micro-units would overflow a single event_type around 1.8e10 rows
    at σ=1e3, so the accumulator is DECIMAL(38,0): still exact in any
    evaluation order in both engines, with ~1e38-unit range (≥1e28
    rows per type before re-baselining is needed).

    Scale shape (r8 plan audit — the previous spelling ran both
    windows over ``PARTITION BY event_type``, sorting the corpus in
    |types| tasks): the prefix decomposes over hour CHUNKS. Within
    (type, chunk): local prefix sum Sloc and local running min mloc
    (two stacked windows, ONE sort). Per chunk (one aggregated row):
    total T and whole-chunk min cmin = min(Sloc); exclusive prefix
    offsets O = Σ earlier T and P = min over earlier chunks of
    (O' + cmin') come from two stacked windows over that tiny frame.
    Then S_i = O + Sloc_i and min_{j≤i} S_j = least(P, O + mloc_i) —
    all identities on exact decimals, so the hash is unchanged. Cost
    note: the chunk-summary branch re-derives the local prefix (its
    own scan + (type, chunk) shuffle + sorted pass, pruned to Sloc
    only) — two fully-parallel passes over the corpus, vs one pass
    pinned to |types| tasks before."""
    from warpdb_spark.operators.sequence import hour_chunk

    DEC = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    d = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn(
            "__d",
            F.round((F.col("value") - F.col("mu") - F.col("sigma") / 2) * 1e6, 0).cast(
                DEC
            ),
        )
        .withColumn("__chunk", hour_chunk("ts"))
    )
    w_loc = (
        Window.partitionBy("event_type", "__chunk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__Sloc", F.sum("__d").over(w_loc)).withColumn(
        "__mloc", F.min("__Sloc").over(w_loc)
    )
    summ = d.groupBy("event_type", "__chunk").agg(
        F.sum("__d").alias("__T"), F.min("__Sloc").alias("__cmin")
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        summ.withColumn(
            "__O", F.coalesce(F.sum("__T").over(w_prev), F.lit(0).cast(DEC))
        )
        .withColumn("__G", F.col("__O") + F.col("__cmin"))
        .withColumn("__P", F.min("__G").over(w_prev))  # NULL on first chunk
        .select("event_type", "__chunk", "__O", "__P")
    )
    j = d.join(F.broadcast(offs), ["event_type", "__chunk"])
    S = F.col("__O") + F.col("__Sloc")
    # least() skips NULLs in both branches' engines: first chunk has no
    # earlier-chunk min, so M degrades to the local running min.
    Smin = F.least(F.col("__P"), F.col("__O") + F.col("__mloc"), F.lit(0).cast(DEC))
    cusum_int = S - Smin
    return j.select(
        "event_id",
        "event_type",
        F.round(cusum_int / 1e6, 6).alias("cusum"),
        (
            cusum_int > F.round(4 * F.col("sigma") * 1e6, 0).cast(DEC)
        ).alias("is_alarm"),
    )


def events_anomaly_mad(spark, sf_dir):
    """Robust per-key anomaly screen: median/MAD instead of mean/stddev,
    so a handful of extreme values cannot inflate the very threshold
    that is supposed to catch them (the classic failure of z-scores on
    heavy-tailed data). Both exact medians are rank selections via
    ``grouped_global_rank`` value-chunks (the udaf_group_median_chunked
    discipline, r12 — replacing the exact-``percentile`` aggregate
    whose per-group value buffer the audit's collect tier flagged:
    buffers never spill, and event_type is a bounded domain, so one
    buffer held 1/|types| of events forever). Median = mean of the
    values at ranks floor((n+1)/2) and floor(n/2)+1 — numpy/DuckDB
    interpolation exactly; ``value`` is non-null in the events
    contract, matching percentile's null-skipping. The per-type stat
    table stays tiny and broadcasts back; the score emit is a
    map-only scan. The filter compares the ROUNDED score so a
    boundary row cannot flip between the engines' different median
    summation orders."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def _exact_median(df, col, out):
        d = grouped_global_rank(
            df,
            "event_type",
            [F.asc(col)],
            F.floor(F.col(col) / 10.0).cast("long"),
            rank_col="rk",
            n_col="n",
        )
        lo = F.floor((F.col("n") + 1) / 2)
        hi = F.floor(F.col("n") / 2) + 1
        return (
            d.filter((F.col("rk") == lo) | (F.col("rk") == hi))
            .groupBy("event_type")
            .agg(F.avg(col).alias(out))
        )

    med = _exact_median(ev.select("event_type", "value"), "value", "med")
    mad = (
        _exact_median(
            ev.join(F.broadcast(med), "event_type").select(
                "event_type",
                F.abs(F.col("value") - F.col("med")).alias("adev"),
            ),
            "adev",
            "mad",
        )
        .join(F.broadcast(med), "event_type")
        .select("event_type", "mad", "med")
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .withColumn(
            "score",
            F.round(
                F.try_divide(F.abs(F.col("value") - F.col("med")), F.col("mad")), 6
            ),
        )
        .filter(F.col("score") > 3.5)
        .select("event_id", "event_type", "score")
    )


def dedup_cluster_components(spark, sf_dir):
    """Transitive-closure near-dup clustering: LSH candidate pairs →
    exact-Jaccard verification → connected components (iterative
    min-label propagation, operators/graph.py) → every clustered doc
    labeled with its cluster's minimum doc id. The oracle recomputes
    ground truth with all-pairs Jaccard + a recursive CTE."""
    from warpdb_spark.operators.graph import cluster_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    verified = D.lsh_verified_pairs(docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16)
    return cluster_near_duplicates(docs, verified).orderBy("doc_id")


def dedup_keeper_by_quality(spark, sf_dir):
    """Quality-aware cluster canonicalization — the POLICY layer over
    ``dedup_cluster_components``' transitive clusters: instead of the
    min-id keeper, each near-dup cluster keeps its LONGEST member
    (n_chars, ties to lowest doc_id) — the standard "best copy"
    rule when near-dups differ by truncation or boilerplate (the
    longest variant usually carries the full content). Output: every
    clustered doc with its cluster, the chosen keeper, and its keep
    verdict.

    Scale: clusters come from the same LSH-verified pairs + min-label
    propagation; the keeper pick is one map-side-combinable
    max_by(struct(n_chars, -doc_id)) per component (components are
    dup clusters — tiny relative to the corpus) joined back on the
    component key. No windows, no Python. Oracle replays the
    recursive-CTE components + an argmax with the same tiebreak."""
    from warpdb_spark.operators.graph import cluster_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    verified = D.lsh_verified_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16
    )
    clustered = cluster_near_duplicates(docs, verified).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    keepers = clustered.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).alias("keeper_id")
    )
    return (
        clustered.join(keepers, "component")
        .select(
            "doc_id",
            "component",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def dedup_ngram_jaccard(spark, sf_dir):
    """Blocked dedup, the classic metadata-block + content-verify shape:
    candidate pairs share a (lang, source) block (cheap equi-join — at
    scale the block key prunes the quadratic term), then exact word
    3-gram Jaccard scores each pair via two hash joins + array
    intersect/union. Full-value DuckDB oracle (list ops replicate the
    shingle sets)."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), "lang", "source")
    b = docs.select(F.col("doc_id").alias("id_b"), "lang", "source")
    pairs = a.join(b, ["lang", "source"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    return D.ngram_jaccard(docs, pairs, "doc_id", "text", shingle_size=3)


def text_edit_distance_pairs(spark, sf_dir):
    """Blocked edit-distance near-dup: candidate pairs share a (lang,
    source) block, then Levenshtein over an 80-char prefix scores each
    pair JVM-side (``F.levenshtein`` — whole-stage codegen, no Python).
    The prefix bound caps the O(len²) DP per pair, and the block join
    prunes the quadratic pair space the same way ``dedup_ngram_jaccard``
    does — at 100 TB you'd block on a minhash band or simhash bucket
    instead of metadata, but the verify shape is identical. Both
    engines implement the standard unit-cost Levenshtein DP, so the
    distances hash-check exactly."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.substring("text", 1, 80).alias("prefix")
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"), "lang", "source",
        F.col("prefix").alias("pa"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), "lang", "source",
        F.col("prefix").alias("pb"),
    )
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein("pa", "pb").cast("int").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 60)
    )


def dedup_simhash_candidates(spark, sf_dir):
    """SimHash Hamming-≤3 candidate pairs. The md5-vote signature is
    engine-portable, and 4×16-bit banding is exact for hamming ≤ 3
    (pigeonhole), so the whole candidate set — ids AND hamming values —
    hash-checks against a DuckDB replica of the signature."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_candidates(docs, "doc_id", "text", max_hamming=3)


def dedup_embedding_cosine(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine ≥ 0.45). Exact variant is
    oracle-checked; the LSH-bucketed scale path is the rows-only entry
    below."""
    emb = _t(spark, sf_dir, "embeddings")
    from warpdb_spark.functions import vectors as V

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    return (
        a.join(b, a.id_a < b.id_b)
        .select(
            "id_a",
            "id_b",
            F.round(V.cosine_similarity(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.45)
    )


def dedup_embedding_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed near-dup pairs — the 100 TB shape (one
    O(docs) shuffle per table, no all-pairs). 4 planes × 16 OR-amplified
    tables reach full recall on this corpus's weakly separated vectors
    (pair cosines ≈0.45-0.51), so the output hash-checks against the
    exact all-pairs oracle; production thresholds (≥0.9) would use
    fewer, finer tables."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.45, num_planes=4, num_tables=16
    )


# --- similarity search ---------------------------------------------------------

def similarity_topk_bruteforce(spark, sf_dir):
    """Arrow-batched BLAS scoring path (cosine_topk_np): 3.7x faster
    than the HOF-expression variant with identical results — see
    PLANS.md."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.cosine_topk_np(emb, queries, k=5, id_col="vec_id", vec_col="embedding")


def similarity_dim_truncation(spark, sf_dir):
    """Dimension-truncation retrieval agreement — the Matryoshka
    (Kusupati et al. 2022) deployment question: how much of the
    full-dimension top-k survives if retrieval runs on only the first
    16 of 64 dims (4× cheaper scan, 4× smaller index)? Per query:
    |top5(cos, 64d) ∩ top5(cos, 16d)| and the overlap fraction — the
    go/no-go reading before switching the ANN tier to truncated
    vectors (MRL-trained encoders hold overlap high; PCA-ordered or
    untrained dims collapse it).

    Both rankings ride the Arrow-batched BLAS path
    (cosine_topk_np: per-batch local top-k, rank shuffle carries
    O(partitions × queries × k)); the truncated leg scans a 16-dim
    slice (at 100 TB: a column of 4× fewer bytes, or a separate
    prefix-dim index table). Deterministic: round-6 cosine with
    neighbor-id tiebreak on both legs, overlap is an integer."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    full = S.cosine_topk_np(emb, queries, k=5, id_col="vec_id", vec_col="embedding")
    t_emb = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    t_q = t_emb.filter(F.col("vec_id") < 10)
    trunc = S.cosine_topk_np(t_emb, t_q, k=5, id_col="vec_id", vec_col="embedding")
    common = (
        full.select("query_id", "neighbor_id")
        .join(trunc.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(common, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("overlap5"),
            F.round(F.coalesce(F.col("n_common"), F.lit(0)) / 5.0, 2).alias(
                "overlap_frac"
            ),
        )
    )


def similarity_knn_indegree(spark, sf_dir):
    """kNN-graph in-degree profile — the hub detector run before
    trusting any embedding-neighborhood operation (a "hub" vector that
    appears in everyone's top-k list poisons kNN-based dedup and
    retrieval; isotropic embeddings show a tight in-degree spread,
    degenerate ones a fat tail). Queries are the deterministic
    vec_id % 5 == 0 sample; each one's exact top-5 (the
    ``similarity_topk_bruteforce`` scoring path, round-6 cosine with
    id tie-break) votes for its neighbors, then in-degrees reduce to
    a counts-of-counts histogram — bounded by max in-degree rows.

    Scale: the sample is a fixed-rate slice (hash-prefix rate at
    100 TB); scoring is the Arrow-batched BLAS path; the histogram is
    two map-side-combined aggregations. Nothing quadratic in the
    corpus — only sample × corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    topk = S.cosine_topk_np(emb, queries, k=5, id_col="vec_id", vec_col="embedding")
    deg = topk.groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("in_degree"))
    return deg.groupBy("in_degree").agg(F.count(F.lit(1)).alias("n_vecs"))


_BATCH_REPLICAS = 21  # 21 rotations × 500 base vectors = 10,500 queries at sf0.01


def similarity_topk_batch(spark, sf_dir):
    """Batch-query exact retrieval with a DISTRIBUTED query side
    (r10 verdict item 5): ≥10k query vectors — every embedding under
    ``_BATCH_REPLICAS`` distinct left-rotations, qid = 1e6 + vec_id ×
    R + r, each rotation a genuinely different vector — ranked top-3
    against the corpus through ``cosine_topk_blocked``: queries stay
    a DataFrame end to end (no driver collect, no ``max_queries``
    cap; contract-pinned by test_similarity_batch_plan_has_no_collect).

    Scale shape: corpus and queries hash into blocks sized by their
    scan partitioning; each (corpus block, query block) pair cogroups
    once and scores with one float64 matmul emitting local top-(k+1),
    so the shuffle is |C|·NQB + |Q|·NCB rows and the final rank
    carries O(blocks × queries × k) — the batch-inference retrieval
    shape (embed a shard of prompts, fetch neighbors for all of them
    in one job). Rotation keeps the oracle exact: DuckDB replays the
    slice-concat spelling bit-for-bit on the same floats, and the
    synthetic qid offset keeps query ids disjoint from corpus ids so
    the shared self-match exclusion never fires."""
    emb = _t(spark, sf_dir, "embeddings")
    reps = spark.range(_BATCH_REPLICAS).select(F.col("id").cast("int").alias("r"))
    queries = emb.crossJoin(F.broadcast(reps)).select(
        (F.lit(1_000_000) + F.col("vec_id") * _BATCH_REPLICAS + F.col("r")).alias("qid"),
        F.concat(
            F.slice("embedding", F.col("r") + 1, F.lit(64) - F.col("r")),
            F.slice("embedding", F.lit(1), F.col("r")),
        ).alias("qv"),
    )
    return S.cosine_topk_blocked(
        emb,
        queries,
        k=3,
        id_col="vec_id",
        vec_col="embedding",
        query_id_col="qid",
        query_vec_col="qv",
    )


def similarity_pair_margin(spark, sf_dir):
    """Top-1 vs top-2 margin per query — the retrieval-confidence
    signal: a large margin means the nearest neighbor is
    unambiguous (safe to auto-label / auto-dedup), a thin one means
    the answer is a coin flip and needs review. Pivoted from the
    exact top-k ranking (round-6 cosine, id tie-break), so both
    engines select identical winners; margin is one subtraction of
    two already-rounded values, rounded once more."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = S.cosine_topk_np(emb, queries, k=2, id_col="vec_id", vec_col="embedding")
    g = topk.groupBy("query_id").agg(
        F.min(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias("top1_id"),
        F.min(F.when(F.col("rank") == 1, F.col("cosine"))).alias("top1_cos"),
        F.min(F.when(F.col("rank") == 2, F.col("cosine"))).alias("top2_cos"),
    )
    margin = F.round(F.col("top1_cos") - F.col("top2_cos"), 6)
    return g.select(
        "query_id",
        "top1_id",
        "top1_cos",
        "top2_cos",
        margin.alias("margin"),
        (margin >= 0.05).alias("is_confident"),
    )


def embedding_cosine_histogram(spark, sf_dir):
    """Pairwise-cosine distribution over a deterministic sample
    (vec_id % 7 == 0) — the corpus-isotropy check: healthy embedding
    spaces pile mass near 0, collapsed ("anisotropic") ones shift the
    whole histogram right, and that shift predicts ANN recall loss
    before any index is built. All sample pairs score with round-6
    cosine, bin into 10 equal [-1, 1) buckets (floor on the rounded
    value — identical in both engines), and reduce to bin counts plus
    a micro-snapped mean per bin.

    The sample is FIXED-SIZE by rate (hash-prefix rate at 100 TB), so
    the pair count is sample², bounded regardless of corpus size —
    the same budget argument as the calibration entry."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 == 0)
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    c = F.round(dot / (na * nb), 6)
    binned = pairs.select(
        F.least(F.lit(9), F.floor((c + 1.0) * 5).cast("int")).alias("bin"),
        F.round(c * 1e6, 0).cast("long").alias("ci"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("ci").alias("s")
    )
    return g.select(
        "bin",
        "n_pairs",
        F.round(F.col("s") / F.col("n_pairs") / 1e6, 6).alias("mean_cosine"),
    )


def similarity_ann_lsh(spark, sf_dir):
    """Approximate top-k via random-hyperplane LSH + Hamming-1
    multiprobe. The hyperplanes are md5-derived (engine-portable
    deterministic — similarity._planes), so the DuckDB oracle replays
    the bucket assignment, probing, and ranking EXACTLY; recall vs the
    exact path is additionally pytest-asserted
    (tests/test_operators.py::TestSimilarity)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ann_lsh_topk(emb, queries, k=5, num_planes=8)


def similarity_ivf(spark, sf_dir):
    """Approximate top-k via IVF lists. Centroid sampling is md5-ordered
    (the clustering.py init pattern) and list assignment uses
    6dp-rounded cosine with lowest-list tie-break, so the DuckDB oracle
    replays assignment, probing, and ranking exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ivf_topk(emb, queries, k=5, num_lists=16, nprobe=4)


def similarity_ann_recall(spark, sf_dir):
    """ANN recall/cost trade-off measurement IN-QUERY: run the
    hyperplane-LSH top-5 at two index settings (num_planes=4 — coarse
    buckets, more candidates, higher recall; num_planes=8 — finer
    buckets, cheaper probes) and score each against the exact BLAS
    top-5, emitting per-query n_hits / recall@5 / matches_exact. This
    is the calibration query an ANN deployment runs before picking its
    index parameters — recall is computed by the engine itself, not by
    an offline script.

    Scale: each ANN leg is the bucketed-probing plan of
    similarity_ann_lsh (shuffle O(candidates), never all-pairs); the
    exact leg is one broadcast-query scan; the recall joins touch ≤100
    rows per leg. Every stage is md5-deterministic, so DuckDB replays
    both index settings, the exact ranking, and the recall arithmetic
    bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = S.cosine_topk_np(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id")
    qids = queries.select(F.col("vec_id").alias("query_id"))
    legs = []
    for p in (4, 8):
        ap = S.ann_lsh_topk(emb, queries, k=5, num_planes=p).select(
            "query_id", "neighbor_id"
        )
        # the approx top-k is ≤ |queries|·k rows — broadcast it so the
        # recall check is a map-side semi join, not a sort-merge
        hits = (
            exact.join(F.broadcast(ap), ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        n = F.coalesce(F.col("n"), F.lit(0))
        legs.append(
            qids.join(hits, "query_id", "left").select(
                "query_id",
                F.lit(p).alias("num_planes"),
                n.cast("int").alias("n_hits"),
                F.round(n / 5.0, 2).alias("recall_at_5"),
                (n == 5).alias("matches_exact"),
            )
        )
    return legs[0].unionAll(legs[1])


def similarity_ivf_recall(spark, sf_dir):
    """IVF recall@5 GO/NO-GO gate — the quality check an IVF
    deployment runs before trusting an nprobe setting, completing the
    ANN-calibration family (``similarity_ann_recall`` gates the LSH
    index the same way; ``dedup_minhash_estimate_calibration`` is the
    analogous table for MinHash). Runs the IVF top-5 at nprobe=2
    (cheap, scans 1/8 of the lists) and nprobe=4, scores each leg
    against the exact BLAS top-5, and verdicts per query with the
    production threshold recall@5 ≥ 0.8 — read the go column, pick
    the cheapest passing nprobe.

    Scale: each IVF leg probes only its nprobe lists (corpus shuffles
    ONCE on list id, shared across legs by plan reuse); the exact leg
    is one broadcast-query scan — at 1M×64 the same plan measures
    recall in tools/replay_ann_recall.py. Centroid sampling,
    assignment (6dp cosine, lowest-list tie-break), probing, and the
    hit arithmetic are all md5-deterministic, so DuckDB replays both
    legs bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = S.cosine_topk_np(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id")
    qids = queries.select(F.col("vec_id").alias("query_id"))
    legs = []
    for nprobe in (2, 4):
        ap = S.ivf_topk(
            emb, queries, k=5, num_lists=16, nprobe=nprobe
        ).select("query_id", "neighbor_id")
        hits = (
            exact.join(F.broadcast(ap), ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        n = F.coalesce(F.col("n"), F.lit(0))
        legs.append(
            qids.join(hits, "query_id", "left").select(
                "query_id",
                F.lit(nprobe).alias("nprobe"),
                n.cast("int").alias("n_hits"),
                F.round(n / 5.0, 2).alias("recall_at_5"),
                (n >= 4).alias("go"),
            )
        )
    return legs[0].unionAll(legs[1])


def embedding_label_agreement(spark, sf_dir):
    """Label-noise screen via neighborhood agreement (confident-learning
    lite): for each labeled vector, take its exact top-5 cosine
    neighbors, vote their labels (majority, smallest-label tie-break),
    and flag vectors whose own label disagrees — the standard cheap
    mislabeled-example detector for classifier training sets. Output:
    vec_id, own label, neighborhood majority, agreement fraction, and
    the suspect flag.

    Scale: the kNN leg is the similarity_topk_bruteforce BLAS scan
    (broadcast queries, mapInArrow batches — swap in the LSH/IVF leg
    for larger query sets); the vote is a ≤5-row-per-vector aggregate.
    Counts are integers and the ranking is round-6 with id tie-breaks,
    so DuckDB replays neighbors, votes, and flags exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    nn = S.cosine_topk_np(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id")
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_mode = Window.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("nl"))
    majority = (
        votes.withColumn("rk", F.row_number().over(w_mode))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("nl").alias("knn_label"))
    )
    # n_match falls out of the SAME votes aggregate (the count for
    # nl == own label, 0 if absent) — no second pass over the kNN join
    own = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("own")
    )
    agree_n = (
        own.join(
            votes,
            (votes.query_id == own.query_id) & (votes.nl == own.own),
            "left",
        )
        .select(own.query_id, "own", F.coalesce("c", F.lit(0)).alias("n_match"))
    )
    return (
        agree_n.join(majority, "query_id")
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("own").alias("label"),
            "knn_label",
            F.round(F.col("n_match") / 5.0, 2).alias("agreement_frac"),
            (F.col("own") != F.col("knn_label")).alias("is_suspect"),
        )
    )


def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column (the
    standard vector-index compression step): per-vector scale =
    max|x|/127, codes = round(x/scale), plus max reconstruction error.
    Pure HOF codegen scan — zero shuffle, zero Python — and every
    arithmetic step is IEEE-double-reproducible, so codes and error are
    exact-hash-checked (code vector via md5 of the joined codes)."""
    from warpdb_spark.functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings")
    scale = V.int8_scale(F.col("embedding"))
    e = emb.select("vec_id", "embedding", scale.alias("scale"))
    codes = V.int8_codes(F.col("embedding"), F.col("scale"))
    c = e.select("vec_id", "embedding", "scale", codes.alias("codes"))
    # error must reconstruct with the UNROUNDED scale — alias the
    # display-rounded copy last so it can't shadow the real one
    c = c.withColumn(
        "max_abs_err",
        F.round(
            V.int8_max_abs_err(F.col("embedding"), F.col("scale"), F.col("codes")), 9
        ),
    )
    return c.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round("scale", 9).alias("scale"),
        F.aggregate("codes", F.lit(0), lambda acc, x: acc + x).alias("code_sum"),
        F.md5(F.concat_ws(",", F.transform("codes", lambda x: x.cast("string")))).alias(
            "code_md5"
        ),
        "max_abs_err",
    )


def embedding_kmeans_assign(spark, sf_dir):
    """One Lloyd assignment step from engine-portable deterministic
    init (k=8 centroids = vectors with lowest md5(vec_id)): one
    Arrow-batched numpy pass scores every vector against all centroids
    (the HOF squared-L2 fold, bit for bit) + min-struct argmin. dist2 is
    rounded before the argmin with ties to the lowest centroid id, so
    the assignment is reproducible in any double-precision engine —
    the DuckDB oracle replays it exactly. The iterative path on top of
    this step is operators/clustering.py::lloyd (pytest-verified;
    inherently un-SQL-able)."""
    from warpdb_spark.operators import clustering as K

    emb = _t(spark, sf_dir, "embeddings")
    cents = K.init_centroids(emb, k=8)
    return (
        K.assign_step(emb, cents)
        .select("vec_id", F.col("cluster").alias("centroid_id"), "dist2")
    )


def embedding_kmeans_clusters(spark, sf_dir):
    """Lloyd k-means cluster profile (k=8, FIXED 2 iterations, tol=0):
    per-cluster size + mean dist2. The fixed iteration count + md5
    init + round-6 assignment make the whole loop engine-replayable,
    so the DuckDB oracle runs the identical two Lloyd steps (init →
    assign → mean-update → assign → mean-update → final assign) and
    hash-matches. The open-ended convergence loop (max_iter=10,
    tol-based early stop) is pytest-asserted instead
    (tests/test_clustering.py) — an early-stop condition on float
    movement is not portably replayable."""
    from warpdb_spark.operators import clustering as K

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _cents, _n = K.lloyd(emb, k=8, max_iter=2, tol=0.0)
    return assigned.groupBy(F.col("cluster").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("dist2"), 4).alias("mean_dist2"),
    )


# --- multimodal ----------------------------------------------------------------

def multimodal_blob_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    blobs = M.attach_blob(docs)
    return blobs.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


def multimodal_features(spark, sf_dir):
    """mapInPandas feature extraction (deterministic fake decoder: 8-bucket
    byte histogram, L1-normalized; real decode is stubbed, SURVEY
    north-star note). The emitted columns derive integer byte-bucket
    COUNTS back out of the normalized float features
    (round(f[b]·n_bytes) is exact at these byte counts), which DuckDB
    reproduces by per-char bucketing — so the decoder's actual output
    values are hash-checked, not just row counts."""
    docs = _t(spark, sf_dir, "documents")
    feats = M.extract_features(M.attach_blob(docs))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.size("features").alias("n_features"),
        *[
            F.round(F.col("features")[b] * F.col("n_bytes")).cast("long").alias(f"n_bucket{b}")
            for b in (1, 2, 3)
        ],
    )


def multimodal_frame_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    frames = M.sample_frames(M.attach_blob(docs), frame_size=64, every_n=4)
    return frames.select("doc_id", "frame_no", F.octet_length("frame").alias("frame_len"))


def multimodal_ppm_decode(spark, sf_dir):
    """REAL image decode in the loop (no imaging library needed): each
    doc gets a deterministic 16x12 P6 PPM — pixel byte i is
    (doc_id*31 + i*7) % 256 — encoded AND decoded by the pure-numpy
    codec (operators/multimodal.py::ppm_encode/ppm_decode, full header
    grammar), then per-channel means stream out via mapInPandas. Pixel
    sums are integers (exact in f64), so DuckDB replays the identical
    means from the formula alone — the oracle checks the codec
    round-trips the arithmetic bit-for-bit. PIL-class formats decode
    via the feature-checked pil_decode path (real when Pillow is
    installed); PPM proves the decoder plumbing with an actual decoder
    in any environment."""
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType as _Bin,
        LongType as _Long,
        StructField as _SF,
        StructType as _ST,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    w, h = 16, 12
    encode = M.ppm_encode  # nested-def closure — pickles by value

    def gen(batches):
        import numpy as _np

        ppm_encode = encode

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                arr = (
                    (int(doc_id) * 31 + _np.arange(w * h * 3) * 7) % 256
                ).astype(_np.uint8).reshape(h, w, 3)
                payloads.append(ppm_encode(arr))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    blobs = docs.mapInPandas(
        gen, _ST([_SF("doc_id", _Long()), _SF("payload", _Bin())])
    )
    stats = M.image_stats(blobs)
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def multimodal_dhash_neardup(spark, sf_dir, docs=None):
    """Perceptual-hash (dHash) near-duplicate detection for the image
    modality — image dedup joining the text-dedup family: each doc
    gets a deterministic 9x8 grayscale P6 PPM (pixel i of doc d is
    ``(i*((d%25)*37+11) + i*i*7 + noise) % 256`` with noise 5 when
    ``(d*13+i)%97 < 2`` — 25 base patterns plus per-doc pixel noise,
    so same-pattern docs land hamming ≤ 2 and cross-pattern ≥ 22),
    encoded AND decoded by the pure-numpy codec
    (operators/multimodal.py::ppm_encode/ppm_decode); the 64-bit
    dHash (row-wise adjacent-pixel comparisons over the DECODED
    frame) streams out of mapInPandas as a 64-char bit string. A real
    photo would be decoded via the feature-checked pil_decode path and
    resized (resize_nearest) to 9x8 grayscale first; the synthetic
    frame is already 9x8, so the hash/band/pair plumbing is fully real.

    Candidates ride the round-6 shared capped generator
    (operators/dedup.py::capped_key_pairs) with 4 hamming-LSH bands
    (16 bits each — identical-band collision is the classic
    Hamming-space LSH), bucket cap 100: candidate count stays linear
    in corpus size, boilerplate-frame buckets drop wholesale. The
    DuckDB oracle replays pixels, hash, bands, cap, and hamming from
    the formula alone, so the codec round-trip is hash-checked end to
    end. hamming ≤ 6 flags a near-dup."""
    import pandas as _pd
    from pyspark.sql.types import (
        LongType as _Long,
        StringType as _Str,
        StructField as _SF,
        StructType as _ST,
    )

    from warpdb_spark.operators.dedup import capped_key_pairs

    docs = (docs if docs is not None else _t(spark, sf_dir, "documents")).select("doc_id")
    encode, decode = M.ppm_encode, M.ppm_decode  # closures — pickle by value

    def gen(batches):
        import numpy as _np

        for pdf in batches:
            bits = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                i = _np.arange(72)
                noise = _np.where((d * 13 + i) % 97 < 2, 5, 0)
                g = ((i * ((d % 25) * 37 + 11) + i * i * 7 + noise) % 256).astype(
                    _np.uint8
                )
                arr = _np.repeat(g.reshape(8, 9, 1), 3, axis=2)
                dec = decode(encode(arr))[:, :, 0].astype(_np.int64)
                bits.append(
                    "".join(
                        "1" if dec[y, x + 1] > dec[y, x] else "0"
                        for y in range(8)
                        for x in range(8)
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "bits": bits})

    hb = docs.mapInPandas(
        gen, _ST([_SF("doc_id", _Long()), _SF("bits", _Str())])
    ).persist()
    keyed = hb.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|", F.lit(str(s)), F.substring("bits", s * 16 + 1, 16)
                    )
                    for s in range(4)
                ]
            )
        ).alias("key"),
    )
    cand = capped_key_pairs(keyed, 100)
    a = hb.select(F.col("doc_id").alias("id_a"), F.col("bits").alias("bits_a"))
    b = hb.select(F.col("doc_id").alias("id_b"), F.col("bits").alias("bits_b"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    hamming = F.expr(
        "aggregate(sequence(1, 64), 0, (acc, i) -> "
        "acc + IF(substring(bits_a, i, 1) <> substring(bits_b, i, 1), 1, 0))"
    )
    return pairs.select(
        "id_a",
        "id_b",
        hamming.alias("hamming"),
        (hamming <= 6).alias("is_near"),
    )


def multimodal_wav_decode(spark, sf_dir):
    """REAL audio decode in the loop: each doc gets a deterministic
    480-sample mono PCM16 WAV — sample t is ((doc_id*7 + t*13) % 2001)
    - 1000 — encoded AND decoded by the pure-numpy RIFF codec
    (operators/multimodal.py::wav_encode/wav_decode — chunk walking,
    fmt validation), then RMS + zero-crossing stats stream out via
    mapInPandas. Integer sample sums/squares are exact in f64, so
    DuckDB replays the identical stats from the formula — verifying
    the codec round-trips bit-for-bit."""
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType as _Bin,
        LongType as _Long,
        StructField as _SF,
        StructType as _ST,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = 480
    encode = M.wav_encode  # nested-def closure — pickles by value

    def gen(batches):
        import numpy as _np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                s = (
                    (int(doc_id) * 7 + _np.arange(n) * 13) % 2001 - 1000
                ).astype(_np.int16)
                payloads.append(encode(s, 8000))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    blobs = docs.mapInPandas(
        gen, _ST([_SF("doc_id", _Long()), _SF("payload", _Bin())])
    )
    return M.audio_stats(blobs).select(
        "doc_id",
        "n_samples",
        "sample_rate",
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
    )


def multimodal_audio_neardup(spark, sf_dir, docs=None):
    """Audio near-duplicate detection — completing the dedup×modality
    matrix (text MinHash/SimHash, image dHash, now audio): each doc
    gets a deterministic 480-sample mono PCM16 WAV from one of 25
    base waveforms plus per-doc sample noise (sample t of doc d is
    ``(t*((d%25)*37+11) + t*t*13 + noise) % 2001 − 1000`` with noise
    50 when ``(d*13+t)%97 < 2``), encoded AND decoded by the real
    RIFF codec (operators/multimodal.py::wav_encode/wav_decode), then
    fingerprinted as a 31-bit ENERGY-ENVELOPE DELTA hash: 32 windows
    of 15 samples, bit w = 1 iff Σ|s| of window w+1 exceeds window w
    — integer sums, so the comparison is exact on both engines (the
    same reason dHash compares decoded ints). Same-base docs differ
    only in the sparse noise, landing hamming ≤ 2; cross-base
    waveforms decorrelate.

    Candidates ride the shared capped generator
    (operators/dedup.py::capped_key_pairs) with 3 hamming-LSH bands
    (10+10+11 bits — a band space wide enough that random collisions
    are ~2⁻¹⁰ per band), bucket cap 100 — linear candidate growth,
    hot buckets dropped wholesale. The DuckDB oracle replays waveform, envelope,
    bits, bands, cap, and hamming from the formula alone, so the
    codec round-trip is hash-checked end to end. hamming ≤ 2 flags a
    near-dup."""
    import pandas as _pd
    from pyspark.sql.types import (
        LongType as _Long,
        StringType as _Str,
        StructField as _SF,
        StructType as _ST,
    )

    from warpdb_spark.operators.dedup import capped_key_pairs

    docs = (docs if docs is not None else _t(spark, sf_dir, "documents")).select("doc_id")
    n = 480
    encode, decode = M.wav_encode, M.wav_decode  # closures — pickle by value

    def gen(batches):
        import numpy as _np

        for pdf in batches:
            bits = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                t = _np.arange(n, dtype=_np.int64)
                noise = _np.where((d * 13 + t) % 97 < 2, 50, 0)
                s = ((t * ((d % 25) * 37 + 11) + t * t * 13 + noise) % 2001
                     - 1000).astype(_np.int16)
                dec, _rate = decode(encode(s, 8000))
                env = _np.abs(dec.astype(_np.int64)).reshape(32, 15).sum(axis=1)
                bits.append(
                    "".join("1" if env[w + 1] > env[w] else "0" for w in range(31))
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "bits": bits})

    hb = docs.mapInPandas(
        gen, _ST([_SF("doc_id", _Long()), _SF("bits", _Str())])
    ).persist()
    bands = [(0, 1, 10), (1, 11, 10), (2, 21, 11)]
    keyed = hb.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|", F.lit(str(i)), F.substring("bits", start, width)
                    )
                    for i, start, width in bands
                ]
            )
        ).alias("key"),
    )
    cand = capped_key_pairs(keyed, 100)
    a = hb.select(F.col("doc_id").alias("id_a"), F.col("bits").alias("bits_a"))
    b = hb.select(F.col("doc_id").alias("id_b"), F.col("bits").alias("bits_b"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    hamming = F.expr(
        "aggregate(sequence(1, 31), 0, (acc, i) -> "
        "acc + IF(substring(bits_a, i, 1) <> substring(bits_b, i, 1), 1, 0))"
    )
    return pairs.select(
        "id_a",
        "id_b",
        hamming.alias("hamming"),
        (hamming <= 2).alias("is_near"),
    )


def dedup_cross_modal_verdict(spark, sf_dir):
    """Cross-modal near-dup FUSION — the per-document verdict a
    curation owner actually acts on, joining the three modality legs
    that are each independently driver-checked: text (MinHash-LSH
    verified 3-gram Jaccard ≥ 0.8, ``dedup_minhash_lsh``), image
    (dHash hamming ≤ 6, ``multimodal_dhash_neardup``), and audio
    (energy-envelope delta hash hamming ≤ 2,
    ``multimodal_audio_neardup``). A pair flagged by ≥ 2 modalities is
    CORROBORATED (the false-positive rates multiply — independent
    fingerprint spaces agreeing is the precision lever); a
    single-modality flag stays a weak signal. The per-doc rollup
    counts flagged pairs per modality and verdicts the doc.

    Scale shape: the legs' candidate generation is already bucketed
    and capped (linear in corpus size); fusion adds ONE union +
    groupBy on (id_a, id_b) — pair-count-bounded, not corpus-bounded —
    and one explode+groupBy on doc_id. No new all-pairs surface. The
    oracle replays all three legs AND the fusion in one DuckDB query
    (the legs' oracles nest as subqueries), so the verdict is
    hash-checked end to end."""
    t = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("m", F.lit("text"))
    )
    i = (
        multimodal_dhash_neardup(spark, sf_dir)
        .filter(F.col("is_near"))
        .select("id_a", "id_b")
        .withColumn("m", F.lit("image"))
    )
    a = (
        multimodal_audio_neardup(spark, sf_dir)
        .filter(F.col("is_near"))
        .select("id_a", "id_b")
        .withColumn("m", F.lit("audio"))
    )
    return fuse_modalities(t, i, a)


def fuse_modalities(t, i, a):
    """The fusion layer of ``dedup_cross_modal_verdict``, shared with
    the planted variant and the scale replay: union the three (id_a,
    id_b, m) pair legs, corroborate per pair (>= 2 distinct
    modalities), roll up per document. One pair-bounded union+groupBy
    and one doc rollup — no corpus-scale surface of its own."""
    per_pair = (
        t.unionByName(i)
        .unionByName(a)
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("m") == "text", 1).otherwise(0)).alias("is_text"),
            F.max(F.when(F.col("m") == "image", 1).otherwise(0)).alias("is_image"),
            F.max(F.when(F.col("m") == "audio", 1).otherwise(0)).alias("is_audio"),
            F.countDistinct("m").alias("n_modalities"),
        )
    )
    e = per_pair.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id"),
        "is_text",
        "is_image",
        "is_audio",
        "n_modalities",
    )
    return e.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("is_text").cast("bigint").alias("n_text"),
        F.sum("is_image").cast("bigint").alias("n_image"),
        F.sum("is_audio").cast("bigint").alias("n_audio"),
        F.sum(F.when(F.col("n_modalities") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_corroborated"),
    ).withColumn(
        "verdict",
        F.when(F.col("n_corroborated") > 0, "corroborated").otherwise(
            "single-modality"
        ),
    )


_PLANT_MOD = 37
_PLANT_OFFSET = 10_000_000  # ≡ 0 (mod 25): clones keep their blob base pattern


def dedup_cross_modal_planted(spark, sf_dir):
    """Cross-modal fusion on a corpus WITH planted multi-modal
    duplicates — the positive-control twin of
    ``dedup_cross_modal_verdict`` (whose honest r7 replay produced
    zero verdict rows because the base corpus plants none): every doc
    with doc_id % 37 == 0 gains a clone at doc_id + 10,000,000 with
    IDENTICAL text. The offset is ≡ 0 (mod 25), so the clone's
    synthetic image/audio blobs keep the original's base pattern and
    differ only in the per-doc noise — by construction the planted
    pairs should be flagged by text (Jaccard 1.0), image (dHash
    hamming ≤ 6) and audio (envelope hamming ≤ 2) alike, exercising
    the >= 2-modality corroboration path the base corpus never
    reaches. Legs and fusion are the SAME code as the verdict entry
    (docs-injection parameter); the oracle shadows the ``documents``
    table with the planted CTE and replays everything. Output: the
    verdict rollup plus is_planted."""
    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % _PLANT_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + _PLANT_OFFSET
    )
    planted = docs.unionByName(clones)
    t = (
        dedup_minhash_lsh(spark, sf_dir, docs=planted)
        .select("id_a", "id_b")
        .withColumn("m", F.lit("text"))
    )
    i = (
        multimodal_dhash_neardup(spark, sf_dir, docs=planted)
        .filter(F.col("is_near"))
        .select("id_a", "id_b")
        .withColumn("m", F.lit("image"))
    )
    a = (
        multimodal_audio_neardup(spark, sf_dir, docs=planted)
        .filter(F.col("is_near"))
        .select("id_a", "id_b")
        .withColumn("m", F.lit("audio"))
    )
    return fuse_modalities(t, i, a).withColumn(
        "is_planted", F.col("doc_id") >= _PLANT_OFFSET
    )


def multimodal_video_frames(spark, sf_dir):
    """REAL video-shaped decode: each doc gets an 8-frame 'video' —
    a concatenation of 16x12 P6 PPM frames (fixed 589-byte stride —
    13-byte header + 576 pixel bytes; frame f's pixel i is
    (doc_id*31 + f*97 + i*7) % 256) — then every 2nd frame is sampled
    (operators/multimodal.py::sample_frames, pure JVM byte slicing)
    and DECODED with the real PPM codec; per-frame channel means
    stream out via mapInPandas. DuckDB replays the formula arithmetic,
    so the oracle checks byte-accurate frame slicing AND decoding.
    At scale: frame sampling is a zero-shuffle map-side expansion and
    decodes stream Arrow-batch-at-a-time."""
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType as _Bin,
        DoubleType as _Dbl,
        IntegerType as _Int,
        LongType as _Long,
        StructField as _SF,
        StructType as _ST,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    w, h, n_frames = 16, 12, 8
    # fixed stride: every frame's header renders identically
    frame_bytes = len(f"P6\n{w} {h}\n255\n".encode("ascii")) + w * h * 3
    encode = M.ppm_encode
    decode = M.ppm_decode

    def gen_video(batches):
        import numpy as _np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                frames = []
                for f in range(n_frames):
                    arr = (
                        (int(doc_id) * 31 + f * 97 + _np.arange(w * h * 3) * 7) % 256
                    ).astype(_np.uint8).reshape(h, w, 3)
                    frames.append(encode(arr))
                payloads.append(b"".join(frames))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    videos = docs.mapInPandas(
        gen_video, _ST([_SF("doc_id", _Long()), _SF("payload", _Bin())])
    )
    sampled = M.sample_frames(videos, frame_size=frame_bytes, every_n=2)

    def gen_stats(batches):
        for pdf in batches:
            rows = []
            for doc_id, fno, fb in zip(pdf["doc_id"], pdf["frame_no"], pdf["frame"]):
                img = decode(bytes(fb))
                means = img.reshape(-1, 3).mean(axis=0)
                rows.append((doc_id, int(fno), *means))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "frame_no", "mean_r", "mean_g", "mean_b"]
            )

    out = sampled.mapInPandas(
        gen_stats,
        _ST(
            [
                _SF("doc_id", _Long()),
                _SF("frame_no", _Int()),
                _SF("mean_r", _Dbl()),
                _SF("mean_g", _Dbl()),
                _SF("mean_b", _Dbl()),
            ]
        ),
    )
    return out.select(
        "doc_id",
        "frame_no",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# --- statistical / array / regex functions --------------------------------------

def agg_statistical(spark, sf_dir):
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    return _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_returnflag").alias("flag")
    ).agg(
        F.round(F.stddev("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("cov_pd"),
    )


def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (the non-sketch path; the sketch
    variant is agg_approx_count_distinct's HLL cousin)."""
    return _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_returnflag").alias("flag")
    ).agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
    )


def expr_array_functions(spark, sf_dir):
    """Array-column functions over embeddings."""
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vmax"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("vmin"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("vsum"),
    )


def expr_regexp_extract(spark, sf_dir):
    """Regex extraction: numeric suffix of the source tag."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract("source", "src(\\d+)", 1).cast("int").alias("src_num"),
    )


# --- reshaping / semi-structured ------------------------------------------------

def reshape_pivot(spark, sf_dir):
    """Pivot: per-user event counts by type → wide table. At scale:
    one shuffle on the group key; pivot values are declared so no extra
    distinct-discovery job runs."""
    events = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        F.col("user_id").alias("uid"),
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def reshape_explode_tokens(spark, sf_dir):
    """Explode word tokens → corpus term frequencies (the lateral-view
    pattern; partial aggregation collapses counts map-side)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def json_extract_props(spark, sf_dir):
    """Semi-structured access: parse the events.props JSON column."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").alias("eid"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


# --- corpus curation (PII / packing / sampling / end-to-end) --------------------

def pii_scrub(spark, sf_dir):
    """PII scrubbing: redact emails/phones/IPs/SSNs/credit-cards with
    placeholder tokens and count each category. The synthetic corpus has
    no natural PII, so deterministic PII derived from doc_id is injected
    in-query (both engines build the identical string) — the regexes are
    exercised for real and the scrubbed text is hash-checked via md5.
    Pure codegen'd regexp chain: zero Python, zero shuffle at any scale."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com call 202-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
        F.when(did % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" card 4111-1111-1111-1111")).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", injected.alias("__txt"))
    counts = C.pii_counts(F.col("__txt"))
    return d.select(
        "doc_id",
        *[cnt.alias(f"n_{name}") for name, cnt in counts.items()],
        F.md5(C.scrub_pii(F.col("__txt"))).alias("scrubbed_md5"),
    )


def _packing_input(spark, sf_dir):
    """(doc_id, grp, n_tokens): packer groups = doc_id % 8. A BOUNDED
    group domain — consumers must not sort or materialize whole groups
    (pack_sequences_chunked routes its cumsum through the chunked
    two-pass prefix sum for exactly this reason; a whole-group consumer
    needs _packing_input_scaled)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("grp"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )


def _packing_input_scaled(spark, sf_dir):
    """(doc_id, grp, n_tokens) with the packer-group COUNT scaled to
    the corpus: grp = doc_id % N, N = greatest(8, ceil(n_docs/2048)) —
    ~2048 docs per group at any scale, so a per-group sequential
    consumer (pack_greedy's applyInPandas) holds a bounded pandas frame
    and parallelism grows with the data. N = 8 at every test sf (≤16384
    docs), so results match the fixed-8 spelling there; the corpus
    count rides a 1-row broadcast, not a driver collect."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.agg(
        F.greatest(F.lit(8).cast("long"), F.ceil(F.count(F.lit(1)) / 2048.0)).alias("__n_grp")
    )
    return docs.crossJoin(F.broadcast(n)).select(
        "doc_id",
        (F.col("doc_id") % F.col("__n_grp")).alias("grp"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )


def pack_sequences_chunked(spark, sf_dir):
    """GPT-style concat-then-chunk sequence packing: docs laid out
    back-to-back per packer group, cut into 512-token blocks. The
    running offset is the chunked two-pass prefix sum (chunk = 4096-doc
    id range): the corpus-scale window partitions by (grp, chunk) —
    ~512 rows per task at any scale despite the 8-value group key —
    and the per-group offset window sees one aggregated row per chunk.
    Bit-identical to the plain window cumsum (integer sums)."""
    out = C.pack_chunks(
        _packing_input(spark, sf_dir), "doc_id", "grp", "n_tokens",
        block_size=512, chunk_expr=F.floor(F.col("doc_id") / 4096).cast("long"),
    )
    return out.select(
        "doc_id", "grp", "n_tokens", "start_tok", "first_block", "last_block", "n_blocks"
    )


def pack_sequences_greedy(spark, sf_dir):
    """First-fit-sequential bin packing (docs never split) per packer
    group via Arrow-batched applyInPandas — the custom-stateful-operator
    tier. The group domain scales with the corpus (~2048 docs/group via
    _packing_input_scaled), so no worker ever holds more than one
    bounded frame. Oracle replays the same sequential fold as a
    recursive CTE with the same corpus-derived group count."""
    return C.pack_greedy(
        _packing_input_scaled(spark, sf_dir), "doc_id", "grp", "n_tokens", budget=1024
    )


def pack_batches_bucketed(spark, sf_dir):
    """Length-bucketed training-batch formation — the padding-efficiency
    step between packing and the data loader: docs are bucketed by
    token length (width-64 ranges), ordered (n_tokens, doc_id) within
    the bucket, and grouped into fixed-size batches of 16; each batch
    reports its member count, max/sum tokens, and the padding fraction
    wasted if padded to the batch max (the number dynamic batching is
    tuned to minimize). Length-sorted batching is what keeps that
    fraction low — random batching pads every batch to its longest
    straggler.

    Scale (r10 respell): the per-bucket rank runs through
    operators/sequence.grouped_global_rank chunked on the EXACT token
    count — row_number within (bucket, n_tokens) ordered by doc_id
    plus prefix offsets over one aggregated row per distinct length,
    which equals row_number() OVER (PARTITION BY bucket ORDER BY
    n_tokens, doc_id) deterministically (equal leading values share a
    chunk; within-chunk order is the full doc_id tiebreak). The
    previous plain per-bucket window sorted corpus/|buckets| rows in
    one task with |buckets| bounded by max doc LENGTH, not corpus —
    the fixed-parallelism class. Residual skew note: all docs of one
    exact length land in one task; chunking on (n_tokens, doc_id
    range) would split that at the cost of a struct chunk. The
    per-batch aggregate is map-side combinable. All integers except
    the final rounded division, so DuckDB replays every row."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    docs = _t(spark, sf_dir, "documents")
    d = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", T.token_count(F.col("text")).cast("long").alias("n_tokens"))
        .withColumn("bucket", (F.col("n_tokens") / 64).cast("long"))
    )
    ranked = grouped_global_rank(
        d, "bucket", ["n_tokens", "doc_id"], F.col("n_tokens"),
        rank_col="__rn", n_col=None,
    )
    batched = ranked.withColumn(
        "batch_no", ((F.col("__rn") - 1) / 16).cast("long")
    )
    return (
        batched.groupBy("bucket", "batch_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "batch_no",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            F.round(
                1 - F.col("sum_tokens") / (F.col("max_tokens") * F.col("n_docs")), 6
            ).alias("padding_frac"),
        )
    )


def embedding_dim_profile(spark, sf_dir):
    """Per-DIMENSION embedding health profile — the collapsed/dead-
    dimension screen run before trusting any ANN index built on a new
    encoder drop: per dim, count / mean / std / min / max / zero
    fraction and a dead-dim flag (max == min). A dimension with ~zero
    variance wastes index bits; a saturated one distorts cosine.

    Shape: posexplode to (dim, value) — at 100 TB this is the one
    shuffle, keyed on the (tiny, fixed) dim id with map-side partial
    aggregation, so reducers see num_dims rows of partial sums, not
    vectors. Determinism: values snap to INTEGER micro-units before
    any sum (float sums are association-sensitive across engines —
    the CUSUM lesson); mean/var/std derive from the exact integer
    moments with the identical double expression on both sides
    (explicit m1*m1, no pow). The x² micro-moment sum crosses int64
    at only ~9e6 vectors per dim at |x|≤1, so it accumulates in
    DECIMAL(38,0) — exact, order-proof, ~1e38 headroom (the rule
    tools/lint_moment_overflow.py enforces repo-wide); DuckDB's
    BIGINT SUM widens to HUGEINT natively, so the oracle stays
    bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("dim", "x"))
    xi = F.round(F.col("x").cast("double") * 1e6, 0).cast("long")
    per = (
        d.select("dim", xi.alias("xi"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("xi").alias("s1"),
            F.sum(F.col("xi").cast("decimal(38,0)") * F.col("xi")).alias("s2"),
            F.min("xi").alias("mn"),
            F.max("xi").alias("mx"),
            F.sum(F.when(F.col("xi") == 0, 1).otherwise(0)).alias("nz"),
        )
    )
    m1 = F.col("s1") / F.col("n_vecs")
    # explicit double division: decimal/long division in Spark rounds
    # at a fixed decimal scale, which is NOT the oracle's double math
    var_micro2 = F.col("s2").cast("double") / F.col("n_vecs") - m1 * m1
    return per.select(
        "dim",
        "n_vecs",
        F.round(m1 / 1e6, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(var_micro2, F.lit(0.0))) / 1e6, 6).alias("std"),
        F.round(F.col("mn") / 1e6, 6).alias("min_val"),
        F.round(F.col("mx") / 1e6, 6).alias("max_val"),
        F.round(F.col("nz") / F.col("n_vecs"), 6).alias("zero_frac"),
        (F.col("mx") == F.col("mn")).alias("is_dead"),
    )


def sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: 3 docs per (lang, source)
    stratum with the smallest md5 content address — stable across runs,
    partitions, and engines, unlike rand()-based sampling."""
    docs = _t(spark, sf_dir, "documents")
    out = C.stratified_sample(docs, ["lang", "source"], "doc_id", 3, keep_cols=["doc_id"])
    return out.select("doc_id", "lang", "source", "rk")


def decontam_eval_overlap(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing word 3-grams with
    a held-out eval set (deterministic membership doc_id % 17 = 0). The
    eval shingle table is broadcast — one corpus scan, no self-join."""
    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return C.contamination_report(corpus, eval_df, "doc_id", "text", shingle_size=3)


def text_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document — the
    standard gibberish/boilerplate screen orthogonal to the token-level
    heuristics (random noise scores HIGH, repeated padding scores LOW;
    natural text sits in a mid band, here flagged at [2.5, 5.0] bits).
    One explode + (doc, char) count + per-doc entropy fold — partitions
    on doc_id, the 100 TB shape of any per-doc distribution stat.
    Counts are integers; H = log2(n) − Σ c·log2(c)/n is computed from
    them with one rounded result, so DuckDB replays it exactly."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    ent = cc.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.round(
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
            6,
        ).alias("entropy_bits"),
    )
    return ent.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        "entropy_bits",
        F.col("entropy_bits").between(2.5, 5.0).alias("in_natural_band"),
    )


def text_hapax_ratio(spark, sf_dir):
    """Per-source vocabulary health: token count, vocabulary size,
    hapax-legomenon count (terms occurring exactly once within the
    source), hapax share, and type-token ratio — the quickest
    template-vs-natural-text discriminator a curation pipeline has
    (natural corpora run ~40-60% hapax; generated/templated text
    collapses toward 0).

    One (source, term) aggregation shuffle — map-side combined, so a
    billion tokens reduce to |vocab| partials — then a per-source
    rollup of counts-of-counts. Blank docs are excluded on BOTH sides
    (DuckDB's string_split counts a blank doc as one token while the
    shared tokenizer yields zero — the determinism rule). All outputs
    are exact integer ratios rounded once."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.filter(T.normalized_text(F.col("text")) != "").select(
        "source", F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("term")
    )
    cnt = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    g = cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return g.select(
        "source",
        "n_tokens",
        "vocab",
        "n_hapax",
        F.round(F.col("n_hapax") / F.col("vocab"), 6).alias("hapax_share"),
        F.round(F.col("vocab") / F.col("n_tokens"), 6).alias("type_token_ratio"),
    )


def text_script_shares(spark, sf_dir):
    """Per-document script/character-class composition — the writing-
    system screen a multilingual 100 TB corpus needs before language-ID
    is even meaningful (a 'lang=en' doc that is 60% CJK is mislabeled;
    a doc that is 40% digits is a table dump). Counts for the
    ENUMERABLE classes (alpha, digit, whitespace) come from
    `translate` delete-and-measure — a per-char map lookup, measured
    12× faster than the equivalent regexp_replace strip at 1M docs
    (36.6s → 3.4s, bit-identical results; the regex engine's
    per-char class test dominates the scan) — while CJK keeps the
    regex (20k+ chars can't be enumerated in a translate set).
    Shares are one rounded division each, and the dominant class is a
    fixed-precedence CASE over the integer counts — all codegen'd in
    the scan projection, ZERO shuffle at any scale. DuckDB replays
    regex strip-and-measure for every class; both methods count the
    same chars, so results are value-identical."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    alpha = T.translate_count(F.col("text"), T.ASCII_ALPHA)
    digit = T.translate_count(F.col("text"), T.ASCII_DIGIT)
    cjk = F.length(F.regexp_replace(F.col("text"), "[^一-鿿]", ""))
    ws = T.translate_count(F.col("text"), T.ASCII_WS)
    other = n - alpha - digit - cjk - ws
    dominant = (
        F.when((alpha >= digit) & (alpha >= cjk) & (alpha >= other), "alpha")
        .when((digit >= cjk) & (digit >= other), "digit")
        .when(cjk >= other, "cjk")
        .otherwise("other")
    )
    return docs.filter(n > 0).select(
        "doc_id",
        n.alias("n_chars_total"),
        F.round(alpha / n, 6).alias("share_alpha"),
        F.round(digit / n, 6).alias("share_digit"),
        F.round(cjk / n, 6).alias("share_cjk"),
        F.round(ws / n, 6).alias("share_ws"),
        F.round(other / n, 6).alias("share_other"),
        dominant.alias("dominant_class"),
    )


def text_readability_fk(spark, sf_dir):
    """Flesch-Kincaid-style readability grade per document — the
    classic curation knob for filtering toward a target reading level
    (web corpora skew bimodal: listicles and legalese). All three
    inputs are exact integer counts with deterministic rules: words =
    the shared whitespace tokenizer; sentences = the literal '. '
    split (the sentence_split contract); syllables ≈ vowel-group runs
    ([aeiouy]+ in lowercased text — the standard proxy; true syllable
    counting needs a dictionary). grade = 0.39·(W/S) + 11.8·(Syl/W) −
    15.59 computed once from the integers and rounded — zero shuffle,
    pure codegen scan at any scale."""
    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(T.tokens(T.normalized_text(F.col("text"))))
    n_sents = F.size(F.split(F.col("text"), "\\. "))
    n_syll = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^aeiouy]+"),
            lambda x: x != F.lit(""),
        )
    )
    grade = F.round(
        0.39 * (n_words / n_sents) + 11.8 * (n_syll / n_words) - 15.59, 6
    )
    return (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            n_sents.alias("n_sentences"),
            n_syll.alias("n_syllable_groups"),
            F.when(n_words > 0, grade).alias("fk_grade"),
        )
    )


def text_repetition_stats(spark, sf_dir):
    """Repetition/boilerplate signals (duplicate-bigram fraction, top
    token ratio) — pure HOF quality-filter inputs."""
    docs = _t(spark, sf_dir, "documents")
    return C.repetition_stats(docs, "doc_id", "text")


def text_vocab_oov(spark, sf_dir):
    """Vocabulary coverage for tokenizer planning: build the corpus
    top-50 token vocabulary (freq desc, token asc tie-break) and report
    per-doc in-vocab/OOV token rates. The top-K is a distributed
    TakeOrderedAndProject (never a global window over all distinct
    tokens) and the resulting vocab is broadcast — corpus side stays
    one explode + one groupBy shuffle at any scale."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("token"))
        .limit(50)
        .select("token", F.lit(1).alias("__in_v"))
    )
    j = toks.join(F.broadcast(vocab), "token", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("__in_v").alias("n_in_vocab"),
        F.round(
            (F.count(F.lit(1)) - F.count("__in_v")) / F.count(F.lit(1)), 6
        ).alias("oov_rate"),
    )


def reshape_fim_split(spark, sf_dir):
    """Fill-in-the-middle transform (Bavarian et al. 2022): at FIM
    rate 0.5 (doc_id parity — deterministic, not rand()), split each
    selected doc at 40% / 70% of its character length and re-emit in
    PSM order ``<PRE>prefix<SUF>suffix<MID>middle``; unselected docs
    pass through. Per doc: mode, the three segment lengths, and a
    LOSSLESSNESS proof — md5(prefix||middle||suffix) == md5(text)
    (the property FIM training depends on: the permutation must be
    invertible, no byte dropped at the cut points).

    Scale: pure row-local substring arithmetic inside the scan —
    zero shuffle, one WSCG stage; the transform is exactly what a
    mapInPandas-free pipeline wants at 100 TB. Cut points are INTEGER
    arithmetic (n*4 div 10) — a fractional multiplier diverges between
    engines (Spark's 0.7 literal is a double, 90*0.7 = 62.999…;
    DuckDB's is exact DECIMAL, = 63.0 — caught by the oracle on the
    first run)."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    p1 = F.expr("int(length(text) * 4 div 10)")
    p2 = F.expr("int(length(text) * 7 div 10)")
    prefix = F.substring(F.col("text"), 1, p1)
    middle = F.expr("substring(text, int(length(text) * 4 div 10) + 1, "
                    "int(length(text) * 7 div 10) - int(length(text) * 4 div 10))")
    suffix = F.expr("substring(text, int(length(text) * 7 div 10) + 1, length(text))")
    is_fim = F.col("doc_id") % 2 == 0
    return docs.select(
        "doc_id",
        F.when(is_fim, F.lit("fim_psm")).otherwise(F.lit("plain")).alias("mode"),
        F.when(is_fim, p1).otherwise(n.cast("int")).alias("len_prefix"),
        F.when(is_fim, p2 - p1).otherwise(F.lit(0)).alias("len_middle"),
        F.when(is_fim, n.cast("int") - p2).otherwise(F.lit(0)).alias("len_suffix"),
        F.when(
            is_fim,
            F.md5(F.concat(prefix, middle, suffix)) == F.md5(F.col("text")),
        ).otherwise(F.lit(True)).alias("roundtrip_ok"),
    )


def text_gopher_rules(spark, sf_dir):
    """Gopher-style quality screens (Rae et al. 2021 §A1.1, public):
    word-count bounds, mean word length, symbol-to-word ratio,
    alphabetic-word fraction, distinct-stopword floor, and the combined
    pass flag. Pure HOF/codegen scan — the 100 TB shape is one map
    stage, no shuffle, no Python. Thresholds are tuned to the synthetic
    corpus (10-99 words) so the flag discriminates; the production
    values (50/100k etc.) are a config swap."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_words = T.token_count(t)
    mwl = T.mean_word_length(t)
    sym = T.symbol_word_ratio(t)
    alpha = T.alpha_word_fraction(t)
    stops = T.distinct_stopword_hits(t)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        alpha.alias("alpha_word_frac"),
        stops.alias("n_stop_hits"),
        (
            n_words.between(30, 90)
            & mwl.between(3.0, 10.0)
            & (sym <= 0.1)
            & (alpha >= 0.8)
            & (stops >= 1)  # production Gopher uses >= 2; corpus-tuned
        ).alias("pass_gopher"),
    )


def text_unigram_logprob(spark, sf_dir):
    """Corpus unigram-LM document scoring (the classic perplexity-proxy
    quality filter): pass 1 builds token frequencies (one explode + one
    groupBy shuffle), pass 2 joins them back and averages log(tf/N) per
    doc. The frequency table is vocabulary-sized — orders of magnitude
    smaller than the corpus — so at 100 TB the scoring join is
    broadcast-or-AQE territory while the corpus side stays two
    shuffles (token, doc_id) regardless of scale."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("n_total"))
    freq = freq.crossJoin(F.broadcast(total))
    scored = toks.join(freq, "token")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.log(F.col("tf").cast("double") / F.col("n_total"))), 6).alias(
            "avg_logprob"
        ),
    )


def reshape_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (64-token windows, stride 48)
    — the long-context training-prep reshape. Codegen'd flatMap; chunk
    content is md5-checked, not just counted."""
    docs = _t(spark, sf_dir, "documents")
    return C.chunk_documents(docs, "doc_id", "text", window=64, stride=48)


def join_salted_skew(spark, sf_dir):
    """Explicit salt-sharded equi-join (operators/skew.py) for keys too
    hot for AQE's skew splitting: lineitem scattered over 8 salt shards
    per orderkey, orders replicated 8x. The oracle is the PLAIN join —
    salting must be invisible in the result."""
    from warpdb_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, "l_orderkey", salt=8)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def pipeline_corpus_curation(spark, sf_dir):
    """End-to-end curation: quality/lang filter → exact-text dedup
    (survivor = min doc_id) → token accounting. The composition shape a
    real corpus pass runs; every stage is a primitive verified on its
    own elsewhere in the inventory."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "lang",
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.normalized_text(F.col("text")).alias("__norm"),
    )
    f = q.filter((F.col("quality") >= 0.5) & F.col("lang").isin("en", "es"))
    w = Window.partitionBy("__norm")
    return (
        f.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .select("doc_id", "lang", "n_tokens", "quality")
    )


# --- as-of / range joins --------------------------------------------------------

def asof_join_clicks_purchases(spark, sf_dir):
    """For each click, the user's most recent purchase value at-or-before
    the click (backward inclusive) — oracle is DuckDB's native ASOF JOIN."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id", right_cols=["value"])
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("value_right").alias("last_purchase_value"),
    )


def asof_join_next_purchase(spark, sf_dir):
    """Forward as-of: for each click, the user's NEXT purchase at-or-after
    the click (ts + value) — exercises the operator's forward direction;
    oracle is DuckDB's native ASOF with a <= condition. Same
    union-and-carry shape as backward: one shuffle on user_id."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on="ts",
        by="user_id",
        right_cols=["ts", "value"],
        direction="forward",
    )
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("ts_right").alias("next_purchase_ts"),
        F.col("value_right").alias("next_purchase_value"),
    )


def range_join_value_bands(spark, sf_dir):
    """Banded range join: events.value into static value bands — the
    banding turns the interval predicate into a hash join."""
    events = _t(spark, sf_dir, "events")
    bands_schema = StructType(
        [
            StructField("band", StringType()),
            StructField("lo", DoubleType()),
            StructField("hi", DoubleType()),
        ]
    )
    bands = spark.createDataFrame(
        [(f"band_{i}", float(i * 50), float((i + 1) * 50)) for i in range(10)],
        bands_schema,
    )
    out = range_join(events, bands, "value", "lo", "hi", band_width=25.0)
    return out.select(
        F.col("event_id").alias("eid"), F.col("band"), F.col("value")
    )


def stream_interval_join_attribution(spark, sf_dir):
    """Interval join (stream-stream-join shape, run on the batch events
    table): purchases attributed to a click by the same user within one
    hour after the click. On two readStream sources the same operator
    is a watermarked stream-stream join with bounded state."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    out = interval_join(
        clicks, purchases, "ts", "pts", ["user_id"],
        lower="0 seconds", upper="1 hour",
    )
    return out.select(
        "cid", F.col("user_id").alias("uid"), "pts", "purchase_value"
    )


# --- event-time windows (streaming-identical batch semantics) --------------------

def stream_ohlc_hourly(spark, sf_dir):
    """OHLC bars as a STREAMING tumbling-window aggregate — the live
    deployment of events_ohlc_bars: min_by/max_by are order-statistic
    aggregates with COMPOSABLE partial states (each state keeps its
    candidate (value, key); merge compares keys), so they run in a
    watermarked streaming window exactly like sum/count — no
    foreachBatch, no custom state. The live readStream twin is pinned
    in tests/test_streaming.py (same aggs through a real CSV stream);
    this entry runs the identical event-time semantics in batch, the
    family's oracle idiom."""
    events = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    return tumbling_window_agg(
        events,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[
            F.min_by("value", key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", key).alias("close_v"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("volume"),
        ],
    )


def stream_tumbling_hourly(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return tumbling_window_agg(
        events,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
    )


def stream_sliding_2h(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return sliding_window_agg(
        events,
        "ts",
        "2 hours",
        "1 hour",
        aggs=[F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
    ).select("window_start", "n", "sum_value")


def stream_session_windows(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return session_window_agg(
        events,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n")],
    ).select(
        F.col("user_id").alias("uid"), "session_start", "session_end", "n"
    )


def text_top_bigrams(spark, sf_dir):
    """Corpus-wide top-25 word bigrams (n-gram LM / tokenizer-training
    input). Bigrams are built per doc with a zero-shuffle HOF
    (functions/text.py::word_ngrams over normalized text), then one
    explode + partial-agg count and a distributed
    TakeOrderedAndProject — at 100 TB the only full shuffle is the
    bigram groupBy (map-side combined); the top-K never performs a
    global sort. Tie-break on the bigram text keeps the boundary
    deterministic across engines."""
    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        F.explode(T.word_ngrams(T.normalized_text(F.col("text")), 2)).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("bigram"))
        .limit(25)
    )


def sample_token_budget(spark, sf_dir):
    """Data-mixture curation: greedily fill a per-language token budget
    (2,000 whitespace tokens) in deterministic md5 content-address
    order — the "sample N tokens per language" step of assembling a
    training mix. A doc is kept iff the budget was not already
    exhausted when it arrived (its cumulative sum EXCLUDING itself is
    under budget), so the mix always overshoots by at most one doc.
    Runs through operators/curation.py::budget_fill — the TWO-LEVEL
    cumsum (md5-prefix range buckets → parallel local windows → tiny
    subtotal-offset table broadcast back), so with few languages no
    single task ever sorts a whole language; the oracle replays the
    equivalent plain per-key window."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    out = C.budget_fill(
        d, key_col="lang", weight_col="n_tokens", id_col="doc_id", budget=2000
    )
    return out.select(
        "doc_id", "lang", "n_tokens", F.col("cum").alias("cum_tokens")
    )


def sample_dsir_importance(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    in the raw pool by how target-like its HASHED N-GRAM profile is —
    per-bucket Laplace-smoothed log ratio of target vs raw bucket
    probabilities, summed over the doc's grams — and keep the top 50.
    Features: word unigrams + bigrams of the normalized text, hashed
    into 1024 buckets with the engine-portable md5-u32
    (sample_weighted idiom, bit-for-bit replayable in DuckDB). The
    target distribution is the src1/src2 slice (the "curated
    reference corpus" stand-in); the raw distribution is the whole
    pool (standard DSIR: target ⊂ raw).

    Scale shape: one gram explode (corpus-token volume, scanned twice
    — once for the bucket counts, once for scoring; at 100 TB you'd
    persist the 1024-bucket projection, which is the cheaper side);
    the bucket-count aggregate map-side-combines to EXACTLY 1024 rows
    per side computed in ONE pass (count + filtered count); the weight
    table is 1024 rows forever and broadcasts; per-doc scoring is one
    doc_id aggregate; top-50 is TakeOrderedAndProject. No pairwise
    anything, no model inference — the published method's hashed-ngram
    approximation is exactly what makes it a one-pass-per-side SQL
    plan."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source",
        T.tokens(T.normalized_text(F.col("text"))).alias("__tk"),
    )
    g = d.select(
        "doc_id", "source",
        F.explode(
            F.concat(F.col("__tk"), T.word_ngrams_from_tokens(F.col("__tk"), 2))
        ).alias("gram"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long") % 1024
    )
    is_target = F.col("source").isin("src1", "src2")
    gb = g.select("doc_id", is_target.alias("__t"), bucket.alias("bucket"))
    counts = gb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("__t"), F.lit(1))).alias("ct"),
    )
    tot = counts.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    w = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + F.lit(1024.0)))
            - F.log((F.col("cr") + 1).cast("double") / (F.col("tr") + F.lit(1024.0)))
        ).alias("w"),
    )
    scored = (
        gb.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("w"), 6).alias("dsir_score"),
        )
    )
    top = scored.orderBy(F.desc("dsir_score"), "doc_id").limit(50)
    return top.join(docs.select("doc_id", "lang", "source"), "doc_id").select(
        "doc_id", "lang", "source", "n_grams", "dsir_score"
    )


def dedup_incremental_new_docs(spark, sf_dir):
    """Incremental-ingest dedup: a "new batch" (doc_id % 5 = 0) is
    admitted only if its normalized-content md5 does not already exist
    in the standing corpus (doc_id % 5 != 0) and it is the first
    arrival of that digest within the batch. Shape: fingerprint scan on
    both sides + one hash LEFT ANTI join on the digest + a per-digest
    first-arrival window — at 100 TB the standing-corpus side is a
    pre-built fingerprint index (digest column only, bucketed on
    digest) joined against, never the raw text."""
    docs = _t(spark, sf_dir, "documents")
    fp = T.md5_fingerprint(F.col("text"))
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", fp.alias("fp"))
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select(fp.alias("fp")).distinct()
    fresh = batch.join(corpus, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fresh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "fp")
    )


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_lang_id": text_lang_id,
    "text_lang_confidence": text_lang_confidence,
    "text_quality_score": text_quality_score,
    "text_md5_fingerprint": text_md5_fingerprint,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_keywords_rake": text_keywords_rake,
    "corpus_stats_by_stratum": corpus_stats_by_stratum,
    "dedup_span_boilerplate": dedup_span_boilerplate,
    "dedup_exact": dedup_exact,
    "dedup_exact_text": dedup_exact_text,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_survivors": dedup_minhash_survivors,
    "sample_hash_bucket": sample_hash_bucket,
    "sample_weighted": sample_weighted,
    "reshape_train_val_split": reshape_train_val_split,
    "reshape_leakage_safe_split": reshape_leakage_safe_split,
    "dedup_loss_by_source": dedup_loss_by_source,
    "sample_mixture_alpha": sample_mixture_alpha,
    "events_zscore_outliers": events_zscore_outliers,
    "events_cusum_changepoints": events_cusum_changepoints,
    "events_anomaly_mad": events_anomaly_mad,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_keeper_by_quality": dedup_keeper_by_quality,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "text_edit_distance_pairs": text_edit_distance_pairs,
    "dedup_simhash_candidates": dedup_simhash_candidates,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "similarity_topk_bruteforce": similarity_topk_bruteforce,
    "similarity_dim_truncation": similarity_dim_truncation,
    "reshape_fim_split": reshape_fim_split,
    "similarity_knn_indegree": similarity_knn_indegree,
    "similarity_pair_margin": similarity_pair_margin,
    "similarity_topk_batch": similarity_topk_batch,
    "embedding_cosine_histogram": embedding_cosine_histogram,
    "similarity_ann_lsh": similarity_ann_lsh,
    "similarity_ann_recall": similarity_ann_recall,
    "similarity_ivf": similarity_ivf,
    "similarity_ivf_recall": similarity_ivf_recall,
    "multimodal_blob_meta": multimodal_blob_meta,
    "multimodal_features": multimodal_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_ppm_decode": multimodal_ppm_decode,
    "multimodal_dhash_neardup": multimodal_dhash_neardup,
    "multimodal_wav_decode": multimodal_wav_decode,
    "multimodal_audio_neardup": multimodal_audio_neardup,
    "dedup_cross_modal_verdict": dedup_cross_modal_verdict,
    "dedup_cross_modal_planted": dedup_cross_modal_planted,
    "multimodal_video_frames": multimodal_video_frames,
    "agg_statistical": agg_statistical,
    "agg_percentiles": agg_percentiles,
    "expr_array_functions": expr_array_functions,
    "expr_regexp_extract": expr_regexp_extract,
    "reshape_pivot": reshape_pivot,
    "reshape_explode_tokens": reshape_explode_tokens,
    "json_extract_props": json_extract_props,
    "pii_scrub": pii_scrub,
    "pack_sequences_chunked": pack_sequences_chunked,
    "pack_sequences_greedy": pack_sequences_greedy,
    "pack_batches_bucketed": pack_batches_bucketed,
    "sample_stratified": sample_stratified,
    "decontam_eval_overlap": decontam_eval_overlap,
    "text_repetition_stats": text_repetition_stats,
    "text_script_shares": text_script_shares,
    "text_hapax_ratio": text_hapax_ratio,
    "embedding_dim_profile": embedding_dim_profile,
    "text_readability_fk": text_readability_fk,
    "text_char_entropy": text_char_entropy,
    "text_vocab_oov": text_vocab_oov,
    "text_top_bigrams": text_top_bigrams,
    "sample_token_budget": sample_token_budget,
    "sample_dsir_importance": sample_dsir_importance,
    "dedup_incremental_new_docs": dedup_incremental_new_docs,
    "text_gopher_rules": text_gopher_rules,
    "text_unigram_logprob": text_unigram_logprob,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_label_agreement": embedding_label_agreement,
    "embedding_kmeans_assign": embedding_kmeans_assign,
    "embedding_kmeans_clusters": embedding_kmeans_clusters,
    "reshape_chunk_documents": reshape_chunk_documents,
    "join_salted_skew": join_salted_skew,
    "pipeline_corpus_curation": pipeline_corpus_curation,
    "asof_join_clicks_purchases": asof_join_clicks_purchases,
    "asof_join_next_purchase": asof_join_next_purchase,
    "range_join_value_bands": range_join_value_bands,
    "stream_interval_join_attribution": stream_interval_join_attribution,
    "stream_tumbling_hourly": stream_tumbling_hourly,
    "stream_ohlc_hourly": stream_ohlc_hourly,
    "stream_sliding_2h": stream_sliding_2h,
    "stream_session_windows": stream_session_windows,
}

_toks = _DD_TOKS.format(col="text")
_norm = _DD_NORM.format(col="text")

_LANG_SCORE = (
    "len(list_filter(list_transform({toks}, t -> lower(t)), t -> list_contains({words}, t)))"
)
_STOP = {
    "en": "['the','and','of','to','a','in','is','it','that','for']",
    "es": "['el','la','de','que','y','en','un','los','se','por']",
    "fr": "['le','la','de','et','un','les','des','en','du','que']",
    "de": "['der','die','das','und','ein','zu','den','von','mit','ist']",
}

_LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['de'])} AS s_de,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['en'])} AS s_en,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['es'])} AS s_es,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['fr'])} AS s_fr,
    length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS s_zh
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'unknown'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM scored
"""

# text_lang_confidence: same integer score matrix as _LANG_ID_SQL plus
# share-of-evidence confidence, margin, and the reliability gate —
# lang_pred tie-break (lexicographic) must match text.py::lang_id
_LANG_CONF_SQL = f"""
WITH scored AS (
  SELECT doc_id,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['de'])} AS s_de,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['en'])} AS s_en,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['es'])} AS s_es,
    {_LANG_SCORE.format(toks=_toks, words=_STOP['fr'])} AS s_fr,
    length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS s_zh
  FROM documents
), m AS (
  SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
    list_reverse_sort([CAST(s_de AS BIGINT), CAST(s_en AS BIGINT),
      CAST(s_es AS BIGINT), CAST(s_fr AS BIGINT), CAST(s_zh AS BIGINT)]) AS srt,
    CAST(s_de + s_en + s_es + s_fr + s_zh AS BIGINT) AS total_score
  FROM scored
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'unknown'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
       ELSE 'zh' END AS lang_pred,
  srt[1] AS best_score,
  srt[2] AS second_score,
  srt[1] - srt[2] AS margin,
  CASE WHEN total_score > 0 THEN round(srt[1] * 1.0 / total_score, 6) ELSE 0.0 END
    AS confidence,
  srt[1] > 0
    AND (CASE WHEN total_score > 0 THEN round(srt[1] * 1.0 / total_score, 6) ELSE 0.0 END) >= 0.5
    AND srt[1] - srt[2] >= 2 AS reliable
FROM m
"""

_QUALITY_EXPR = (
    f"round(0.4 * least(len({_toks}) / 200.0, 1.0) "
    f"+ 0.3 * least(({_LANG_SCORE.format(toks=_toks, words=_STOP['en'])} * 1.0 / len({_toks})) * 5.0, 1.0) "
    "+ 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)), 6)"
)

_QUALITY_SQL = f"SELECT doc_id, {_QUALITY_EXPR} AS quality FROM documents"


def _pii_scrub_sql() -> str:
    """DuckDB replica of the pii_scrub entry, generated from the SAME
    PII_PATTERNS list the Spark side compiles (identical regex source;
    RE2 ∩ Java-regex subset). Counts are sequential like pii_counts:
    each pattern counted on the text with earlier patterns scrubbed."""
    inj = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) "
        "|| '@example.com call 202-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
        "|| ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) "
        "|| CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END "
        "|| CASE WHEN doc_id % 5 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END"
    )
    from warpdb_spark.operators.curation import PII_PATTERNS

    ctes = [f"s0 AS (SELECT doc_id, {inj} AS t0 FROM documents)"]
    counts = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        ctes.append(
            f"s{i + 1} AS (SELECT *, regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1} FROM s{i})"
        )
        counts.append(f"len(regexp_extract_all(t{i}, '{pat}')) AS n_{name}")
    n = len(PII_PATTERNS)
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT doc_id, " + ", ".join(counts)
        + f", md5(t{n}) AS scrubbed_md5 FROM s{n}"
    )


_PACK_INPUT_SQL = (
    f"SELECT doc_id, doc_id % 8 AS grp, len({_toks}) AS n_tokens FROM documents"
)

# corpus-scaled group count: N = greatest(8, ceil(n_docs/2048)) — the
# same 1-row aggregate the Spark side broadcasts (== 8 at test sfs)
_PACK_INPUT_SCALED_SQL = (
    f"SELECT doc_id, doc_id % (SELECT CAST(GREATEST(8, CEIL(COUNT(*) / 2048.0)) AS BIGINT) "
    f"FROM documents) AS grp, len({_toks}) AS n_tokens FROM documents"
)

_JACCARD_PAIRS_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_DD_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_norm} AS norm, {_DD_TOKS.format(col='norm_src')} AS toks
        FROM (SELECT doc_id, {_norm} AS norm_src, text FROM documents))
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
      len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
"""

# Ground-truth near-dup components as a reusable CTE prefix: all-pairs
# Jaccard >= 0.8 edges + a recursive min-label closure. Consumers append
# their own CTEs / final SELECT (the keeper, leakage-safe-split, and
# cluster entries all replay the SAME clusters).
_CC_CTES = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_DD_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_norm} AS norm, {_DD_TOKS.format(col='norm_src')} AS toks
        FROM (SELECT doc_id, {_norm} AS norm_src, text FROM documents))
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
        len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
cc(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.node = e.src
)"""

_CLUSTER_CC_SQL = _CC_CTES + """
SELECT node AS doc_id, min(comp) AS component FROM cc GROUP BY node ORDER BY doc_id
"""


def _split_case_sql(key: str) -> str:
    """DuckDB replica of ``_hash_split_expr`` over ``key`` (a bigint
    SQL expression) — the md5-hex-prefix uniform, 95/4/1."""
    u = (
        f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::UBIGINT "
        "AS DOUBLE) / 4294967296.0"
    )
    return (
        f"CASE WHEN {u} < 0.95 THEN 'train' "
        f"WHEN {u} < 0.99 THEN 'val' ELSE 'test' END"
    )


_LEAKAGE_SPLIT_SQL = _CC_CTES + f""",
comp AS (SELECT node AS doc_id, min(comp) AS component FROM cc GROUP BY node),
keyed AS (SELECT d.doc_id, d.source,
                 COALESCE(c.component, d.doc_id) AS split_key
          FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT doc_id, source, split_key,
       {_split_case_sql('split_key')} AS split,
       {_split_case_sql('split_key')} <> {_split_case_sql('doc_id')} AS moved
FROM keyed ORDER BY doc_id
"""

def _km_assign(cent: str) -> str:
    """One Lloyd assignment vs centroid table ``cent``(centroid_id, ce):
    round-6 squared-L2 argmin, ties to the lowest centroid id —
    replays operators/clustering.py::assign_step."""
    return (
        "SELECT vec_id, centroid_id, dist2 FROM ("
        "SELECT vec_id, centroid_id, dist2, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rn FROM ("
        "SELECT e.vec_id, c.centroid_id, "
        "round(list_sum([(CAST(e.embedding[j] AS DOUBLE) - c.ce[j]) * "
        "(CAST(e.embedding[j] AS DOUBLE) - c.ce[j]) "
        "for j in generate_series(1, len(e.embedding))]), 6) AS dist2 "
        f"FROM embeddings e CROSS JOIN {cent} c)) WHERE rn = 1"
    )


def _km_update(asg: str, prev: str) -> str:
    """Centroid re-estimation: element-wise mean of assigned vectors;
    empty clusters keep their previous centroid (clustering.py::lloyd)."""
    return (
        f"SELECT p.centroid_id, COALESCE(m.me, p.ce) AS ce FROM {prev} p "
        "LEFT JOIN (SELECT centroid_id, list(mval ORDER BY i) AS me FROM ("
        "SELECT centroid_id, i, avg(CAST(x AS DOUBLE)) AS mval FROM ("
        # unnest + generate_subscripts: dim derives from the vector
        # itself, like _km_assign — a testdata dim change can't silently
        # desync the two steps
        "SELECT a.centroid_id, unnest(e.embedding) AS x, "
        "generate_subscripts(e.embedding, 1) AS i "
        f"FROM {asg} a JOIN embeddings e USING (vec_id)) "
        "GROUP BY 1, 2) GROUP BY 1) m "
        "ON p.centroid_id = m.centroid_id"
    )


# Two full Lloyd iterations + final assignment — the exact fixed-count
# loop embedding_kmeans_clusters runs (k=8, max_iter=2, tol=0).
_KMEANS_CLUSTERS_SQL = (
    "WITH c0 AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce "
    "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8), "
    f"a1 AS ({_km_assign('c0')}), c1 AS ({_km_update('a1', 'c0')}), "
    f"a2 AS ({_km_assign('c1')}), c2 AS ({_km_update('a2', 'c1')}), "
    f"a3 AS ({_km_assign('c2')}) "
    "SELECT centroid_id, count(*) AS n_vecs, round(avg(dist2), 4) AS mean_dist2 "
    "FROM a3 GROUP BY 1"
)


ORACLES = {
    # md5-hex-prefix uniform replayed via the 0x-cast trick
    "reshape_train_val_split": (
        "WITH d AS (SELECT source, n_chars, "
        "CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT "
        "AS DOUBLE) / 4294967296.0 < 0.95 THEN 'train' "
        "WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT "
        "AS DOUBLE) / 4294967296.0 < 0.99 THEN 'val' ELSE 'test' END AS split "
        "FROM documents), "
        "per AS (SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS n_chars FROM d GROUP BY split, source), "
        "tot AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs "
        "FROM per GROUP BY source) "
        "SELECT split, per.source, n_docs, n_chars, "
        "round(n_docs * 1.0 / src_docs, 6) AS share_of_source "
        "FROM per JOIN tot ON tot.source = per.source"
    ),
    # recursive-CTE component ground truth + the same md5 CASE math
    "reshape_leakage_safe_split": _LEAKAGE_SPLIT_SQL,
    # survivor = min doc_id per normalized-content fingerprint
    "dedup_loss_by_source": (
        f"WITH d AS (SELECT doc_id, source, n_chars, md5({_norm}) AS fp "
        "FROM documents), "
        "k AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY fp) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept, "
        "CAST(sum(n_chars) AS BIGINT) AS n_chars, "
        "CAST(sum(CASE WHEN doc_id = keep_id THEN n_chars ELSE 0 END) AS BIGINT) AS n_chars_kept, "
        "round(1 - sum(CASE WHEN doc_id = keep_id THEN n_chars ELSE 0 END) * 1.0 / sum(n_chars), 6) "
        "AS char_loss_share "
        "FROM d JOIN k USING (fp) GROUP BY source"
    ),
    # same scoring CTE as similarity_topk_bruteforce, then in-degree
    # counts-of-counts
    "similarity_knn_indegree": (
        "WITH s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), "
        "CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id % 5 = 0) q "
        "WHERE c.vec_id != q.vec_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank FROM s), "
        "d AS (SELECT neighbor_id, CAST(count(*) AS BIGINT) AS in_degree "
        "FROM r WHERE rank <= 5 GROUP BY neighbor_id) "
        "SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vecs "
        "FROM d GROUP BY in_degree"
    ),
    "similarity_topk_batch": (
        "WITH q AS (SELECT 1000000 + e.vec_id * 21 + g.r AS qid, "
        "e.embedding[g.r + 1:64] || e.embedding[1:g.r] AS qv "
        "FROM embeddings e, (SELECT unnest(range(21)) AS r) g), "
        "s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), "
        "CAST(q.qv AS DOUBLE[])), 6) AS cosine FROM embeddings c, q), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank FROM s) "
        "SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank "
        "FROM r WHERE rank <= 3"
    ),
    "similarity_pair_margin": (
        "WITH s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), "
        "CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q "
        "WHERE c.vec_id != q.vec_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank FROM s), "
        "t AS (SELECT query_id, "
        "min(CASE WHEN rank = 1 THEN neighbor_id END) AS top1_id, "
        "min(CASE WHEN rank = 1 THEN cosine END) AS top1_cos, "
        "min(CASE WHEN rank = 2 THEN cosine END) AS top2_cos "
        "FROM r WHERE rank <= 2 GROUP BY query_id) "
        "SELECT query_id, top1_id, top1_cos, top2_cos, "
        "round(top1_cos - top2_cos, 6) AS margin, "
        "round(top1_cos - top2_cos, 6) >= 0.05 AS is_confident FROM t"
    ),
    "embedding_cosine_histogram": (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings WHERE vec_id % 7 = 0), "
        "p AS (SELECT round(list_cosine_similarity(a.v, b.v), 6) AS c "
        "FROM v a, v b WHERE a.vec_id < b.vec_id), "
        "b2 AS (SELECT least(9, CAST(floor((c + 1.0) * 5) AS INT)) AS bin, "
        "CAST(round(c * 1e6, 0) AS BIGINT) AS ci FROM p) "
        "SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs, "
        "round(sum(ci) * 1.0 / count(*) / 1e6, 6) AS mean_cosine "
        "FROM b2 GROUP BY bin"
    ),
    # counts-of-counts over the shared tokenizer; blank docs excluded
    # on both sides (string_split counts a blank doc as one token)
    "text_hapax_ratio": (
        r"WITH norm AS (SELECT source, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS nrm FROM documents), "
        "t AS (SELECT source, unnest(string_split(nrm, ' ')) AS term "
        "FROM norm WHERE nrm <> ''), "
        "c AS (SELECT source, term, count(*) AS c FROM t GROUP BY source, term) "
        "SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, "
        "CAST(count(*) AS BIGINT) AS vocab, "
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, "
        "round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS hapax_share, "
        "round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio "
        "FROM c GROUP BY source"
    ),
    "embedding_kmeans_clusters": _KMEANS_CLUSTERS_SQL,
    # replays span extraction (5-grams, 0-based starts), the >=2-distinct-
    # doc hot set, covered-position union, and ordered reassembly exactly
    "dedup_span_boilerplate": (
        f"WITH b AS (SELECT doc_id, string_split({_norm}, ' ') AS toks, "
        f"len(string_split({_norm}, ' ')) AS n FROM documents), "
        "sp AS (SELECT doc_id, s['start'] AS start, s['span'] AS span FROM ("
        "SELECT doc_id, unnest([{'start': i - 1, "
        "'span': array_to_string(toks[i:i+4], ' ')} "
        "for i in generate_series(1, len(toks) - 4)]) AS s FROM b WHERE n >= 5)), "
        "hot AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) AS nd "
        "FROM sp GROUP BY 1) WHERE nd >= 2), "
        "cov AS (SELECT DISTINCT doc_id, unnest(generate_series(start, start + 4)) AS pos "
        "FROM sp JOIN hot USING (span)), "
        "tok AS (SELECT doc_id, unnest(toks) AS tk, "
        "generate_subscripts(toks, 1) - 1 AS pos FROM b), "
        "kept AS (SELECT t.doc_id, t.tk, t.pos FROM tok t LEFT JOIN cov c "
        "ON t.doc_id = c.doc_id AND t.pos = c.pos WHERE c.doc_id IS NULL), "
        "reb AS (SELECT doc_id, count(*) AS n_kept, "
        "string_agg(tk, ' ' ORDER BY pos) AS clean FROM kept GROUP BY 1) "
        "SELECT b.doc_id, CAST(b.n AS INT) AS n_tokens, "
        "CAST(COALESCE(r.n_kept, 0) AS INT) AS n_kept, "
        "CAST(b.n - COALESCE(r.n_kept, 0) AS INT) AS n_removed, "
        "md5(COALESCE(r.clean, '')) AS clean_md5 "
        "FROM b LEFT JOIN reb r USING (doc_id)"
    ),
    "corpus_stats_by_stratum": (
        f"WITH d AS (SELECT lang, source, text, {_toks} AS toks, "
        f"{_QUALITY_EXPR} AS q FROM documents) "
        "SELECT lang, source, count(*) AS n_docs, "
        "CAST(sum(len(toks)) AS BIGINT) AS total_tokens, "
        "CAST(sum(length(text)) AS BIGINT) AS total_chars, "
        "round(avg(q), 6) AS mean_quality, "
        "quantile_cont(len(toks), 0.5) AS p50_tokens "
        "FROM d GROUP BY 1, 2"
    ),
    "text_token_stats": (
        f"SELECT doc_id, len({_toks}) AS n_tokens, "
        f"CAST(list_sum(list_transform({_toks}, t -> 1 + CAST(floor(greatest(length(t) - 1, 0) / 4) AS INT))) AS INT) AS n_bpe_tokens, "
        "length(text) AS n_chars_computed FROM documents"
    ),
    "text_lang_id": _LANG_ID_SQL,
    "text_lang_confidence": _LANG_CONF_SQL,
    "text_quality_score": _QUALITY_SQL,
    "text_md5_fingerprint": f"SELECT doc_id, md5({_norm}) AS fingerprint FROM documents",
    "text_winnow_fingerprint": (
        f"WITH norm AS (SELECT doc_id, {_norm} AS n FROM documents), "
        "words AS (SELECT doc_id, n, string_split(n, ' ') AS w FROM norm) "
        "SELECT doc_id, "
        "CASE WHEN len(w) < 5 THEN substr(md5(n), 1, 16) "
        "ELSE list_min([substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) "
        "for i in generate_series(1, len(w)-4)]) END AS fingerprint FROM words"
    ),
    "text_tfidf_top_terms": (
        "WITH tf AS (SELECT doc_id, token AS term, count(*) AS tf FROM "
        f"(SELECT doc_id, unnest({_DD_TOKS.format(col='lower(text)')}) AS token FROM documents) "
        "GROUP BY 1, 2), "
        "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1), "
        "n AS (SELECT count(*) AS n_docs FROM documents), "
        "scored AS (SELECT tf.doc_id, tf.term, "
        "round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf "
        "FROM tf JOIN dfreq USING (term) CROSS JOIN n), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY tfidf DESC, term ASC) AS rank FROM scored) "
        "SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3"
    ),
    "dedup_exact": (
        "SELECT min(doc_id) AS doc_id, lang, source FROM documents GROUP BY lang, source"
    ),
    "dedup_exact_text": (
        f"SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY {_norm}"
    ),
    "sample_hash_bucket": (
        "SELECT doc_id, lang, source FROM documents "
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')"
    ),
    "sample_mixture_alpha": (
        r"WITH per AS (SELECT lang, count(*) AS n_docs, "
        r"CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens "
        "FROM documents GROUP BY lang), "
        "t AS (SELECT sum(n_tokens) AS tot_tokens, "
        "sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS tot_w FROM per) "
        "SELECT lang, n_docs, n_tokens, "
        "round(n_tokens * 1.0 / tot_tokens, 6) AS p_natural, "
        "round(pow(CAST(n_tokens AS DOUBLE), 0.3) / tot_w, 6) AS p_alpha, "
        "round((pow(CAST(n_tokens AS DOUBLE), 0.3) / tot_w) / (n_tokens * 1.0 / tot_tokens), 6) AS boost "
        "FROM per CROSS JOIN t ORDER BY lang"
    ),
    "sample_weighted": (
        "SELECT doc_id, lang, source, n_chars FROM documents "
        "WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT "
        "AS DOUBLE) / 4294967296.0 < n_chars / 553.0"
    ),
    "events_cusum_changepoints": (
        "WITH s AS (SELECT event_type, round(avg(value), 6) AS mu, "
        "round(stddev_pop(value), 6) AS sigma FROM events GROUP BY 1), "
        "d AS (SELECT event_id, e.event_type, ts, sigma, "
        "CAST(round((value - mu - sigma / 2) * 1e6) AS DECIMAL(38,0)) AS dd "
        "FROM events e JOIN s USING (event_type)), "
        "c1 AS (SELECT event_id, event_type, ts, sigma, sum(dd) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S FROM d), "
        "c2 AS (SELECT event_id, event_type, sigma, S, least(min(S) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), CAST(0 AS DECIMAL(38,0))) AS smin FROM c1) "
        "SELECT event_id, event_type, round((S - smin) / 1e6, 6) AS cusum, "
        "S - smin > CAST(round(4 * sigma * 1e6) AS DECIMAL(38,0)) AS is_alarm FROM c2"
    ),
    "events_zscore_outliers": (
        "WITH s AS (SELECT event_type, avg(value) AS mu, "
        "stddev_pop(value) AS sigma FROM events GROUP BY 1) "
        "SELECT event_id, e.event_type, "
        "round((value - mu) / sigma, 6) AS zscore "
        "FROM events e JOIN s ON e.event_type = s.event_type "
        "WHERE abs(round((value - mu) / sigma, 6)) > 2"
    ),
    "events_anomaly_mad": (
        "WITH m AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1), "
        "d AS (SELECT e.event_type, median(abs(e.value - m.med)) AS mad, "
        "min(m.med) AS med FROM events e JOIN m ON e.event_type = m.event_type "
        "GROUP BY e.event_type) "
        "SELECT event_id, e.event_type, round(abs(value - med) / mad, 6) AS score "
        "FROM events e JOIN d ON e.event_type = d.event_type "
        "WHERE round(abs(value - med) / mad, 6) > 3.5"
    ),
    "dedup_minhash_lsh": _JACCARD_PAIRS_SQL,
    "dedup_cluster_components": _CLUSTER_CC_SQL,
    # same recursive-CTE components; keeper = argmax(n_chars, ties to
    # LOWEST doc_id) per component — the max_by(struct(n_chars, -id))
    # spelling on the Spark side
    "dedup_keeper_by_quality": f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_DD_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_norm} AS norm, {_DD_TOKS.format(col='norm_src')} AS toks
        FROM (SELECT doc_id, {_norm} AS norm_src, text FROM documents))
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
        len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
cc(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.node = e.src
),
lab AS (SELECT node AS doc_id, min(comp) AS component FROM cc GROUP BY node),
withq AS (SELECT l.doc_id, l.component, d.n_chars
          FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
keep AS (
  SELECT component, doc_id AS keeper_id FROM (
    SELECT component, doc_id, row_number() OVER (
      PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
    FROM withq) WHERE rn = 1
)
SELECT w.doc_id, w.component, k.keeper_id, w.doc_id = k.keeper_id AS keep
FROM withq w JOIN keep k USING (component) ORDER BY w.doc_id
""",
    "dedup_minhash_survivors": (
        f"SELECT doc_id FROM documents WHERE doc_id NOT IN "
        f"(SELECT id_b FROM ({_JACCARD_PAIRS_SQL}))"
    ),
    # Blocked dedup: (lang, source) blocks, exact word-3-gram Jaccard.
    # Short docs (<3 words) fall back to the whole normalized text as
    # the single shingle, mirroring the Spark side.
    "dedup_ngram_jaccard": (
        r"WITH norm AS (SELECT doc_id, lang, source, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS n FROM documents), "
        "sh AS (SELECT doc_id, lang, source, "
        "CASE WHEN len(string_split(n,' ')) < 3 THEN [n] "
        "ELSE list_distinct([array_to_string(string_split(n,' ')[i:i+2], ' ') "
        "for i in generate_series(1, len(string_split(n,' '))-2)]) END AS s "
        "FROM norm) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard "
        "FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source "
        "AND a.doc_id < b.doc_id"
    ),
    "text_edit_distance_pairs": (
        "WITH p AS (SELECT doc_id, lang, source, text[1:80] AS prefix FROM documents) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance "
        "FROM p a JOIN p b ON a.lang = b.lang AND a.source = b.source "
        "AND a.doc_id < b.doc_id "
        "WHERE levenshtein(a.prefix, b.prefix) <= 60"
    ),
    # Full simhash replica: per-token 64-bit hash = first 8 md5 bytes
    # (bit b = hex digit 16-b//4, bit b%4), per-bit vote sum, sign →
    # signature; banding is EXACT for hamming ≤ 3 (pigeonhole over 4
    # chunks), so the candidate set equals the all-pairs hamming filter.
    "dedup_simhash_candidates": (
        r"WITH toks AS (SELECT doc_id, "
        r"CASE WHEN trim(regexp_replace(lower(text),'\s+',' ','g')) = '' THEN [] "
        r"ELSE string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') END AS tk "
        "FROM documents), "
        "sigs AS (SELECT doc_id, "
        "[CASE WHEN 2 * list_sum(["
        "((instr('0123456789abcdef', substr(md5(t), 16 - CAST(floor(b/4) AS INT), 1)) - 1) "
        "// CAST(pow(2, b % 4) AS INT)) % 2 "
        "for t in tk]) - len(tk) > 0 THEN 1 ELSE 0 END "
        "for b in generate_series(0, 63)] AS sig FROM toks) "
        "SELECT * FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(list_sum([CASE WHEN a.sig[i] <> b.sig[i] THEN 1 ELSE 0 END "
        "for i in generate_series(1, 64)]) AS INT) AS hamming "
        "FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id) WHERE hamming <= 3"
    ),
    "dedup_embedding_cosine": (
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45"
    ),
    # The LSH entry is recall-tuned to 1.0 on this corpus (4 planes x 16
    # tables, seed 42 — deterministic), so its found-pairs equal the
    # exact all-pairs result.
    "dedup_embedding_lsh": (
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45"
    ),
    # Full LSH replay: md5-derived planes (exact — integer parse of the
    # first 8 md5 hex chars / 2^31 - 1 is IEEE-exact in both engines),
    # sign signature, Hamming-1 multiprobe, exact cosine rank within
    # candidates. Mirrors operators/similarity.py::ann_lsh_topk
    # (k=5, num_planes=8, seed=42, queries vec_id<20).
    # derived from _ann_lsh_cte(8) below — single source of truth
    "similarity_ann_lsh": None,
    # Full IVF replay: md5-ordered centroid sample, assignment/probing by
    # 6dp-rounded cosine with lowest-list tie-break, exact cosine rank in
    # the probed lists. Mirrors operators/similarity.py::ivf_topk
    # (k=5, num_lists=16, nprobe=4, queries vec_id<20).
    "similarity_ivf": (
        "WITH init AS (SELECT row_number() OVER ("
        "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id) - 1 "
        "AS list_id, embedding AS ce FROM embeddings "
        "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id LIMIT 16), "
        "scored AS (SELECT e.vec_id, e.embedding, i.list_id, "
        "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(i.ce AS DOUBLE[])), 6) DESC, "
        "i.list_id) AS rn FROM embeddings e CROSS JOIN init i), "
        "asg AS (SELECT vec_id, embedding, list_id FROM scored WHERE rn = 1), "
        "qpr AS (SELECT vec_id AS query_id, embedding AS qv, list_id FROM scored "
        "WHERE rn <= 4 AND vec_id < 20), "
        "cand AS (SELECT q.query_id, a.vec_id AS neighbor_id, "
        "max(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6)) AS cosine "
        "FROM qpr q JOIN asg a USING (list_id) WHERE a.vec_id <> q.query_id "
        "GROUP BY 1, 2), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank FROM cand) "
        "SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5"
    ),
    "similarity_topk_bruteforce": (
        "WITH s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q "
        "WHERE c.vec_id != q.vec_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank FROM s) "
        "SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5"
    ),
    # same integer 4/10 and 7/10 cut points (integer div — a
    # fractional multiplier diverges: Spark 0.7 is a double, DuckDB's
    # an exact DECIMAL); substr arithmetic and md5 agree on ASCII text
    "reshape_fim_split": (
        "SELECT doc_id, "
        "CASE WHEN doc_id % 2 = 0 THEN 'fim_psm' ELSE 'plain' END AS mode, "
        "CAST(CASE WHEN doc_id % 2 = 0 THEN length(text) * 4 // 10 "
        "ELSE length(text) END AS INT) AS len_prefix, "
        "CAST(CASE WHEN doc_id % 2 = 0 THEN length(text) * 7 // 10 "
        "- length(text) * 4 // 10 ELSE 0 END AS INT) AS len_middle, "
        "CAST(CASE WHEN doc_id % 2 = 0 THEN length(text) "
        "- length(text) * 7 // 10 ELSE 0 END AS INT) AS len_suffix, "
        "CASE WHEN doc_id % 2 = 0 THEN "
        "md5(substring(text, 1, CAST(length(text) * 4 // 10 AS INT)) || "
        "substring(text, CAST(length(text) * 4 // 10 AS INT) + 1, "
        "CAST(length(text) * 7 // 10 - length(text) * 4 // 10 AS INT)) || "
        "substring(text, CAST(length(text) * 7 // 10 AS INT) + 1, length(text))) "
        "= md5(text) ELSE TRUE END AS roundtrip_ok "
        "FROM documents"
    ),
    "similarity_dim_truncation": (
        "WITH fs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), "
        "CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q "
        "WHERE c.vec_id != q.vec_id), "
        "ts AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[])[1:16], "
        "CAST(q.embedding AS DOUBLE[])[1:16]), 6) AS cosine "
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q "
        "WHERE c.vec_id != q.vec_id), "
        "fr AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM fs), "
        "tr AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM ts), "
        "common AS (SELECT f.query_id, count(*) AS n FROM fr f "
        "JOIN tr t USING (query_id, neighbor_id) "
        "WHERE f.rank <= 5 AND t.rank <= 5 GROUP BY 1) "
        "SELECT q.vec_id AS query_id, CAST(coalesce(n, 0) AS BIGINT) AS overlap5, "
        "round(coalesce(n, 0) / 5.0, 2) AS overlap_frac "
        "FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q "
        "LEFT JOIN common ON q.vec_id = common.query_id"
    ),
    "multimodal_blob_meta": (
        "SELECT doc_id, 'utf8-text' AS format, "
        "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents"
    ),
    # byte-bucket counts of the fake decoder's histogram (text is ASCII,
    # so code point == UTF-8 byte; bucket = byte >> 5)
    "multimodal_features": (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "8 AS n_features, "
        "CAST(len(list_filter(string_split(text, ''), c -> floor(unicode(c)/32) = 1)) AS BIGINT) AS n_bucket1, "
        "CAST(len(list_filter(string_split(text, ''), c -> floor(unicode(c)/32) = 2)) AS BIGINT) AS n_bucket2, "
        "CAST(len(list_filter(string_split(text, ''), c -> floor(unicode(c)/32) = 3)) AS BIGINT) AS n_bucket3 "
        "FROM documents"
    ),
    "multimodal_frame_sample": (
        "WITH n AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents), "
        "f AS (SELECT doc_id, nb, unnest(list_filter(range(0, CAST(ceil(nb / 64.0) AS INT)), "
        "i -> i % 4 = 0)) AS frame_no FROM n) "
        "SELECT doc_id, CAST(frame_no AS INT) AS frame_no, "
        "CAST(least(64, nb - frame_no * 64) AS INT) AS frame_len FROM f "
        "WHERE nb - frame_no * 64 > 0"
    ),
    # replay the pixel formula: byte i of doc d is (d*31 + i*7) % 256;
    # channel c means average bytes 3k+c — integer sums are exact in
    # f64, so the decoded means match bit-for-bit
    # pixels, dHash, bands, cap, and hamming replayed from the formula
    "multimodal_dhash_neardup": (
        "WITH px AS (SELECT doc_id, "
        "[(i*((doc_id%25)*37+11) + i*i*7 + CASE WHEN (doc_id*13+i)%97 < 2 THEN 5 ELSE 0 END) % 256 "
        "for i in generate_series(0, 71)] AS g FROM documents), "
        "hb AS (SELECT doc_id, array_to_string([CASE WHEN g[(j//8)*9 + (j%8) + 2] > g[(j//8)*9 + (j%8) + 1] THEN '1' ELSE '0' END for j in generate_series(0, 63)], '') AS bits FROM px), "
        "inv AS (SELECT doc_id, unnest(['0|' || substr(bits, 1, 16), "
        "'1|' || substr(bits, 17, 16), '2|' || substr(bits, 33, 16), "
        "'3|' || substr(bits, 49, 16)]) AS key FROM hb), "
        "ok AS (SELECT key FROM inv GROUP BY key HAVING count(*) <= 100), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM inv a JOIN inv b ON a.key = b.key AND a.doc_id < b.doc_id "
        "JOIN ok ON ok.key = a.key), "
        "p AS (SELECT id_a, id_b, "
        "CAST(list_sum([CASE WHEN substr(a.bits, i, 1) <> substr(b.bits, i, 1) "
        "THEN 1 ELSE 0 END for i in generate_series(1, 64)]) AS INT) AS hamming "
        "FROM cand JOIN hb a ON a.doc_id = cand.id_a "
        "JOIN hb b ON b.doc_id = cand.id_b) "
        "SELECT id_a, id_b, hamming, hamming <= 6 AS is_near FROM p"
    ),
    "multimodal_ppm_decode": (
        "SELECT doc_id, 16 AS width, 12 AS height, "
        + ", ".join(
            f"round(list_avg([CAST((doc_id * 31 + (3 * k + {c}) * 7) % 256 AS DOUBLE) "
            f"for k in generate_series(0, 191)]), 6) AS mean_{ch}"
            for c, ch in [(0, "r"), (1, "g"), (2, "b")]
        )
        + " FROM documents"
    ),
    # sampled frames 0,2,4,6; frame f pixel i is (d*31 + f*97 + i*7) % 256
    "multimodal_video_frames": (
        "SELECT doc_id, CAST(f AS INT) AS frame_no, "
        + ", ".join(
            f"round(list_avg([CAST((doc_id * 31 + f * 97 + (3 * k + {c}) * 7) % 256 AS DOUBLE) "
            f"for k in generate_series(0, 191)]), 6) AS mean_{ch}"
            for c, ch in [(0, "r"), (1, "g"), (2, "b")]
        )
        + " FROM documents, (SELECT unnest([0, 2, 4, 6]) AS f)"
    ),
    # replay waveform -> envelope sums -> 31-bit delta hash -> 3
    # hamming-LSH bands -> capped pairs -> hamming, all from the
    # sample formula (integer-exact on both engines)
    "multimodal_audio_neardup": (
        "WITH s AS (SELECT doc_id, "
        "[abs((t*((doc_id%25)*37+11) + t*t*13 + CASE WHEN (doc_id*13+t)%97 < 2 "
        "THEN 50 ELSE 0 END) % 2001 - 1000) for t in generate_series(0, 479)] AS w "
        "FROM documents), "
        "env AS (SELECT doc_id, "
        "[list_sum(w[15*k+1 : 15*k+15]) for k in generate_series(0, 31)] AS e "
        "FROM s), "
        "hb AS (SELECT doc_id, array_to_string([CASE WHEN e[j+2] > e[j+1] "
        "THEN '1' ELSE '0' END for j in generate_series(0, 30)], '') AS bits "
        "FROM env), "
        "inv AS (SELECT doc_id, unnest(['0|' || substr(bits, 1, 10), "
        "'1|' || substr(bits, 11, 10), '2|' || substr(bits, 21, 11)]) AS key FROM hb), "
        "ok AS (SELECT key FROM inv GROUP BY key HAVING count(*) <= 100), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM inv a JOIN inv b ON a.key = b.key AND a.doc_id < b.doc_id "
        "JOIN ok ON ok.key = a.key), "
        "p AS (SELECT id_a, id_b, "
        "CAST(list_sum([CASE WHEN substr(a.bits, i, 1) <> substr(b.bits, i, 1) "
        "THEN 1 ELSE 0 END for i in generate_series(1, 31)]) AS INT) AS hamming "
        "FROM cand JOIN hb a ON a.doc_id = cand.id_a "
        "JOIN hb b ON b.doc_id = cand.id_b) "
        "SELECT id_a, id_b, hamming, hamming <= 2 AS is_near FROM p"
    ),
    # replay the waveform: sample t of doc d is ((d*7 + t*13) % 2001)
    # - 1000; rms and sign-flip counts are integer-exact in f64
    "multimodal_wav_decode": (
        "WITH s AS (SELECT doc_id, "
        "[(doc_id * 7 + t * 13) % 2001 - 1000 for t in generate_series(0, 479)] AS w "
        "FROM documents) "
        "SELECT doc_id, 480 AS n_samples, 8000 AS sample_rate, "
        "round(sqrt(list_avg([CAST(x * x AS DOUBLE) for x in w])), 6) AS rms, "
        "CAST(len(list_filter(generate_series(1, 479), t -> w[t] * w[t + 1] < 0)) AS INT) AS zero_crossings "
        "FROM s"
    ),
    "agg_statistical": (
        "SELECT l_returnflag AS flag, round(stddev_samp(l_extendedprice), 4) AS sd_price, "
        "round(var_samp(l_quantity), 4) AS var_qty, "
        "round(corr(l_extendedprice, l_quantity), 6) AS corr_pq, "
        "round(covar_samp(l_extendedprice, l_discount), 4) AS cov_pd "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_percentiles": (
        "SELECT l_returnflag AS flag, "
        "round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, "
        "round(quantile_cont(l_extendedprice, 0.9), 4) AS p90 "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "expr_array_functions": (
        "SELECT vec_id, len(embedding) AS dim, "
        "round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax, "
        "round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin, "
        "round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS vsum "
        "FROM embeddings"
    ),
    "expr_regexp_extract": (
        "SELECT doc_id, CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) AS src_num "
        "FROM documents"
    ),
    "reshape_pivot": (
        "SELECT user_id AS uid, "
        "count(*) FILTER (event_type = 'click') AS n_click, "
        "count(*) FILTER (event_type = 'view') AS n_view, "
        "count(*) FILTER (event_type = 'purchase') AS n_purchase, "
        "count(*) FILTER (event_type = 'signup') AS n_signup, "
        "count(*) FILTER (event_type = 'error') AS n_error "
        "FROM events GROUP BY user_id"
    ),
    "reshape_explode_tokens": (
        f"SELECT token, count(*) AS tf FROM (SELECT unnest({_DD_TOKS.format(col='lower(text)')}) "
        "AS token FROM documents) GROUP BY 1"
    ),
    "json_extract_props": (
        "SELECT event_id AS eid, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events"
    ),
    "pii_scrub": _pii_scrub_sql(),
    "pack_sequences_chunked": (
        f"WITH d AS ({_PACK_INPUT_SQL}), "
        "c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM d) "
        # CAST: DuckDB's integer window SUM is HUGEINT → float64 in
        # pandas; Spark's is bigint
        "SELECT doc_id, grp, n_tokens, CAST(start_tok AS BIGINT) AS start_tok, "
        "CAST(floor(start_tok / 512.0) AS INT) AS first_block, "
        "CAST(floor((start_tok + greatest(n_tokens - 1, 0)) / 512.0) AS INT) AS last_block, "
        "CAST(floor((start_tok + greatest(n_tokens - 1, 0)) / 512.0) "
        "- floor(start_tok / 512.0) + 1 AS INT) AS n_blocks FROM c"
    ),
    # recursive CTE replays pack_greedy's sequential first-fit fold
    "pack_sequences_greedy": (
        f"WITH RECURSIVE d AS ({_PACK_INPUT_SCALED_SQL}), "
        "dd AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn FROM d), "
        "p(grp, rn, doc_id, n_tokens, bin, acc) AS ("
        "SELECT grp, rn, doc_id, n_tokens, 0, n_tokens FROM dd WHERE rn = 1 "
        "UNION ALL "
        "SELECT dd.grp, dd.rn, dd.doc_id, dd.n_tokens, "
        "CASE WHEN p.acc + dd.n_tokens > 1024 THEN p.bin + 1 ELSE p.bin END, "
        "CASE WHEN p.acc + dd.n_tokens > 1024 THEN dd.n_tokens ELSE p.acc + dd.n_tokens END "
        "FROM p JOIN dd ON dd.grp = p.grp AND dd.rn = p.rn + 1) "
        "SELECT grp, doc_id, n_tokens, CAST(bin AS INT) AS bin FROM p"
    ),
    "pack_batches_bucketed": (
        r"WITH d AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) "
        "AS n_tokens FROM documents WHERE trim(text) <> ''), "
        "b AS (SELECT doc_id, n_tokens, CAST(floor(n_tokens / 64) AS BIGINT) AS bucket FROM d), "
        "r AS (SELECT *, CAST(floor((row_number() OVER "
        "(PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1) / 16) AS BIGINT) AS batch_no FROM b) "
        "SELECT bucket, batch_no, count(*) AS n_docs, max(n_tokens) AS max_tokens, "
        "CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, "
        "round(1 - sum(n_tokens) * 1.0 / (max(n_tokens) * count(*)), 6) AS padding_frac "
        "FROM r GROUP BY bucket, batch_no"
    ),
    # identical integer micro-unit moments; 1-based comprehension dim
    # shifted to posexplode's 0-based index
    "embedding_dim_profile": (
        "WITH d AS (SELECT unnest([{'dim': j - 1, "
        "'xi': CAST(round(CAST(embedding[j] AS DOUBLE) * 1e6, 0) AS BIGINT)} "
        "for j in generate_series(1, len(embedding))], recursive := true) "
        "FROM embeddings), "
        "per AS (SELECT dim, count(*) AS n_vecs, "
        "CAST(sum(xi) AS BIGINT) AS s1, CAST(sum(xi * xi) AS HUGEINT) AS s2, "
        "min(xi) AS mn, max(xi) AS mx, "
        "CAST(sum(CASE WHEN xi = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz "
        "FROM d GROUP BY dim) "
        "SELECT CAST(dim AS INT) AS dim, n_vecs, "
        "round(s1 * 1.0 / n_vecs / 1e6, 6) AS mean, "
        "round(sqrt(greatest(s2 * 1.0 / n_vecs - (s1 * 1.0 / n_vecs) * (s1 * 1.0 / n_vecs), 0.0)) / 1e6, 6) AS std, "
        "round(mn / 1e6, 6) AS min_val, round(mx / 1e6, 6) AS max_val, "
        "round(nz * 1.0 / n_vecs, 6) AS zero_frac, mx = mn AS is_dead FROM per"
    ),
    "sample_stratified": (
        "SELECT doc_id, lang, source, CAST(rk AS INT) AS rk FROM "
        "(SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang, source "
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) WHERE rk <= 3"
    ),
    # word 3-grams over NORMALIZED text (lower/collapse-ws), no
    # short-doc fallback — mirrors curation.contamination_report's
    # gramset exactly
    "decontam_eval_overlap": (
        f"WITH t AS (SELECT doc_id, string_split({_norm}, ' ') AS toks FROM documents), "
        "g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) "
        "ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
        "for i in generate_series(1, len(toks) - 2)]) END AS grams FROM t), "
        "ev AS (SELECT DISTINCT unnest(grams) AS gm FROM g WHERE doc_id % 17 = 0), "
        "cor AS (SELECT doc_id, grams FROM g WHERE doc_id % 17 != 0), "
        "ex AS (SELECT doc_id, unnest(grams) AS gm FROM cor), "
        "ov AS (SELECT doc_id, count(*) AS n_overlap FROM ex JOIN ev USING (gm) GROUP BY doc_id) "
        "SELECT cor.doc_id, n_overlap, len(grams) AS n_shingles, "
        "round(n_overlap * 1.0 / len(grams), 6) AS ratio FROM ov JOIN cor ON ov.doc_id = cor.doc_id"
    ),
    "text_char_entropy": (
        "WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents), "
        "f AS (SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2), "
        "e AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars, "
        "count(*) AS n_distinct_chars, "
        "round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy_bits FROM f GROUP BY 1) "
        "SELECT doc_id, n_chars, n_distinct_chars, entropy_bits, "
        "entropy_bits BETWEEN 2.5 AND 5.0 AS in_natural_band FROM e"
    ),
    "text_script_shares": (
        "WITH c AS (SELECT doc_id, len(text) AS n, "
        "len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha, "
        "len(regexp_replace(text, '[^0-9]', '', 'g')) AS digit, "
        "len(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk, "
        "len(regexp_replace(text, '[^ \\t\\n]', '', 'g')) AS ws "
        "FROM documents WHERE len(text) > 0), "
        "d AS (SELECT *, n - alpha - digit - cjk - ws AS oth FROM c) "
        "SELECT doc_id, CAST(n AS INT) AS n_chars_total, "
        "round(alpha * 1.0 / n, 6) AS share_alpha, "
        "round(digit * 1.0 / n, 6) AS share_digit, "
        "round(cjk * 1.0 / n, 6) AS share_cjk, "
        "round(ws * 1.0 / n, 6) AS share_ws, "
        "round(oth * 1.0 / n, 6) AS share_other, "
        "CASE WHEN alpha >= digit AND alpha >= cjk AND alpha >= oth THEN 'alpha' "
        "WHEN digit >= cjk AND digit >= oth THEN 'digit' "
        "WHEN cjk >= oth THEN 'cjk' ELSE 'other' END AS dominant_class FROM d"
    ),
    # words = shared tokenizer (blank-safe); sentences = literal '. '
    # split; syllables = [aeiouy]+ runs. One rounded double expression.
    "text_readability_fk": (
        r"WITH c AS (SELECT doc_id, "
        r"len(list_filter(string_split_regex(trim(regexp_replace(lower(text), "
        r"'\s+', ' ', 'g')), ' '), x -> x <> '')) AS w, "
        "len(string_split(text, '. ')) AS s, "
        r"len(list_filter(string_split_regex(lower(text), '[^aeiouy]+'), "
        "x -> x <> '')) AS syl "
        "FROM documents WHERE len(text) > 0) "
        "SELECT doc_id, CAST(w AS INT) AS n_words, CAST(s AS INT) AS n_sentences, "
        "CAST(syl AS INT) AS n_syllable_groups, "
        "CASE WHEN w > 0 THEN "
        "round(0.39 * (w * 1.0 / s) + 11.8 * (syl * 1.0 / w) - 15.59, 6) END AS fk_grade "
        "FROM c"
    ),
    "text_repetition_stats": (
        f"WITH t AS (SELECT doc_id, string_split({_norm}, ' ') AS toks FROM documents), "
        "b AS (SELECT doc_id, toks, len(toks) AS n, "
        "CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) "
        "ELSE [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] END AS bg FROM t) "
        "SELECT doc_id, CAST(n AS INT) AS n_tokens, "
        "round(CASE WHEN len(bg) <= 0 THEN 0.0 "
        "ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END, 6) AS dup_bigram_ratio, "
        "round(CASE WHEN n = 0 THEN 0.0 "
        "ELSE list_max(list_transform(list_distinct(toks), t2 -> len(list_filter(toks, x -> x = t2)))) * 1.0 / n END, 6) "
        "AS top_token_ratio FROM b"
    ),
    "text_vocab_oov": (
        f"WITH tok AS (SELECT doc_id, unnest(string_split({_norm}, ' ')) AS token FROM documents), "
        "v AS (SELECT token FROM (SELECT token, count(*) AS tf FROM tok GROUP BY 1) "
        "ORDER BY tf DESC, token LIMIT 50) "
        "SELECT t.doc_id, count(*) AS n_tokens, count(v.token) AS n_in_vocab, "
        "round((count(*) - count(v.token)) * 1.0 / count(*), 6) AS oov_rate "
        "FROM tok t LEFT JOIN v ON t.token = v.token GROUP BY t.doc_id"
    ),
    "text_keywords_rake": (
        "WITH t0 AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
        "'[^a-z0-9]+'), x -> x <> '') AS tk FROM documents), "
        "tok AS (SELECT doc_id, unnest([{'pos': i, 'w': tk[i]} for i in generate_series(1, len(tk))], recursive := true) FROM t0), "
        f"m AS (SELECT doc_id, pos, w, CASE WHEN list_contains({_STOP['en']}, w) "
        "THEN 1 ELSE 0 END AS is_stop FROM tok), "
        "m2 AS (SELECT doc_id, pos, w, is_stop, sum(is_stop) OVER (PARTITION BY doc_id "
        "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id FROM m), "
        "nt AS (SELECT doc_id, pos, w, phrase_id FROM m2 WHERE is_stop = 0), "
        "pl AS (SELECT doc_id, phrase_id, count(*) AS plen, "
        "string_agg(w, ' ' ORDER BY pos) AS phrase FROM nt GROUP BY 1, 2), "
        "occ AS (SELECT n.doc_id, n.phrase_id, n.w, p.plen FROM nt n "
        "JOIN pl p USING (doc_id, phrase_id)), "
        "ws AS (SELECT doc_id, w, CAST(sum(plen) AS BIGINT) AS deg, count(*) AS freq "
        "FROM occ GROUP BY 1, 2), "
        "ps AS (SELECT o.doc_id, o.phrase_id, round(sum(CAST(round(ws.deg * 1.0 / ws.freq * 1e6) AS BIGINT)) / 1e6, 6) AS score "
        "FROM occ o JOIN ws ON o.doc_id = ws.doc_id AND o.w = ws.w GROUP BY 1, 2), "
        "r AS (SELECT p.doc_id, pl.phrase, p.score, CAST(pl.plen AS BIGINT) AS n_words, "
        "row_number() OVER (PARTITION BY p.doc_id ORDER BY p.score DESC, pl.phrase) AS rk "
        "FROM ps p JOIN pl USING (doc_id, phrase_id)) "
        "SELECT doc_id, phrase, score, n_words FROM r WHERE rk = 1"
    ),
    "text_top_bigrams": (
        f"WITH t AS (SELECT string_split({_norm}, ' ') AS toks FROM documents), "
        "b AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) "
        "ELSE [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] END) "
        "AS bigram FROM t) "
        "SELECT bigram, count(*) AS tf FROM b GROUP BY 1 ORDER BY tf DESC, bigram LIMIT 25"
    ),
    # DSIR: same md5-u32 bucket hash, same Laplace-smoothed per-bucket
    # log ratio, same (rounded score, doc_id) top-50 order
    "sample_dsir_importance": (
        f"WITH d AS (SELECT doc_id, source, string_split({_norm}, ' ') AS toks "
        "FROM documents), "
        "g AS (SELECT doc_id, source, gram FROM ("
        "SELECT doc_id, source, unnest(toks) AS gram FROM d "
        "UNION ALL "
        "SELECT doc_id, source, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) "
        "ELSE [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] END) "
        "AS gram FROM d) WHERE gram <> ''), "
        "b AS (SELECT doc_id, source IN ('src1', 'src2') AS is_t, "
        "CAST(('0x' || substr(md5(gram), 1, 8))::UBIGINT % 1024 AS BIGINT) AS bucket FROM g), "
        "counts AS (SELECT bucket, count(*) AS cr, "
        "count(*) FILTER (is_t) AS ct FROM b GROUP BY 1), "
        "tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts), "
        "w AS (SELECT bucket, ln((ct + 1) / (tt + 1024.0)) - ln((cr + 1) / (tr + 1024.0)) AS w "
        "FROM counts CROSS JOIN tot), "
        "s AS (SELECT doc_id, count(*) AS n_grams, round(sum(w), 6) AS dsir_score "
        "FROM b JOIN w USING (bucket) GROUP BY 1), "
        "top AS (SELECT * FROM s ORDER BY dsir_score DESC, doc_id LIMIT 50) "
        "SELECT top.doc_id, d2.lang, d2.source, n_grams, dsir_score "
        "FROM top JOIN documents d2 ON d2.doc_id = top.doc_id"
    ),
    "sample_token_budget": (
        r"WITH d AS (SELECT doc_id, lang, len(string_split_regex(trim(text), '\s+')) "
        "AS n_tokens FROM documents), "
        "c AS (SELECT doc_id, lang, n_tokens, sum(n_tokens) OVER (PARTITION BY lang "
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum_tokens FROM d) "
        "SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, "
        "CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c WHERE cum_tokens - n_tokens < 2000"
    ),
    "dedup_incremental_new_docs": (
        f"WITH f AS (SELECT doc_id, md5({_norm}) AS fp FROM documents), "
        "b AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0), "
        "c AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 != 0) "
        "SELECT doc_id, fp FROM (SELECT b.doc_id, b.fp, "
        "row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rk "
        "FROM b LEFT JOIN c ON b.fp = c.fp WHERE c.fp IS NULL) WHERE rk = 1"
    ),
    "text_gopher_rules": (
        r"WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks "
        "FROM documents), "
        "m AS (SELECT doc_id, len(toks) AS n_words, "
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(CAST(list_sum(list_transform(toks, "
        "t -> length(t))) AS DOUBLE) / len(toks), 6) END AS mean_word_len, "
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(CAST((length(text) - "
        "length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) "
        "/ 3 AS DOUBLE) / len(toks), 6) END AS symbol_ratio, "
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(CAST(len(list_filter(toks, "
        "t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6) END AS alpha_word_frac, "
        "len(list_intersect(list_transform(toks, t -> lower(t)), "
        "['the','be','to','of','and','that','have','with'])) AS n_stop_hits FROM t) "
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, n_stop_hits, "
        "(n_words BETWEEN 30 AND 90 AND mean_word_len BETWEEN 3.0 AND 10.0 "
        "AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8 AND n_stop_hits >= 1) "
        "AS pass_gopher FROM m"
    ),
    "text_unigram_logprob": (
        f"WITH tok AS (SELECT doc_id, unnest(string_split({_norm}, ' ')) AS token FROM documents), "
        "freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1), "
        "tot AS (SELECT sum(tf) AS n_total FROM freq) "
        "SELECT doc_id, count(*) AS n_tokens, "
        "round(avg(ln(CAST(tf AS DOUBLE) / n_total)), 6) AS avg_logprob "
        "FROM tok JOIN freq USING (token) CROSS JOIN tot GROUP BY doc_id"
    ),
    # int8 quantization replica: identical IEEE-double steps (abs-max /
    # 127 scale, half-away-from-zero round), so codes/md5/error match
    # bit-for-bit.
    "embedding_label_agreement": (
        "WITH nn AS (SELECT query_id, neighbor_id FROM ("
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cosine, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank "
        "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 100) q "
        "WHERE c.vec_id != q.vec_id) WHERE rank <= 5), "
        "v AS (SELECT nn.query_id, l.label AS nl FROM nn "
        "JOIN embeddings l ON l.vec_id = nn.neighbor_id), "
        "votes AS (SELECT query_id, nl, count(*) AS c FROM v GROUP BY 1, 2), "
        "maj AS (SELECT query_id, nl AS knn_label FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nl) AS rk "
        "FROM votes) WHERE rk = 1), "
        "agg AS (SELECT v.query_id, o.label AS own, "
        "CAST(sum(CASE WHEN v.nl = o.label THEN 1 ELSE 0 END) AS BIGINT) AS n_match "
        "FROM v JOIN embeddings o ON o.vec_id = v.query_id GROUP BY 1, 2) "
        "SELECT a.query_id AS vec_id, a.own AS label, m.knn_label, "
        "round(a.n_match / 5.0, 2) AS agreement_frac, "
        "a.own <> m.knn_label AS is_suspect "
        "FROM agg a JOIN maj m ON a.query_id = m.query_id"
    ),
    "embedding_quantize_int8": (
        "WITH m AS (SELECT vec_id, embedding AS e, "
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax FROM embeddings), "
        "s AS (SELECT vec_id, e, CASE WHEN absmax = 0 THEN 0.0 ELSE absmax / 127 END AS scale FROM m), "
        "c AS (SELECT vec_id, e, scale, CASE WHEN scale = 0 THEN list_transform(e, x -> 0) "
        "ELSE list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)) END AS codes FROM s) "
        "SELECT vec_id, len(e) AS n_dims, round(scale, 9) AS scale, "
        "CAST(list_sum(codes) AS INT) AS code_sum, "
        "md5(array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',')) AS code_md5, "
        "CASE WHEN scale = 0 THEN 0.0 ELSE round(list_max([abs(CAST(e[j] AS DOUBLE) - codes[j] * scale) "
        "for j in generate_series(1, len(e))]), 9) END AS max_abs_err FROM c"
    ),
    # One Lloyd step: same md5-ordered init, same rounded-dist2 argmin
    # with lowest-centroid tie-break.
    "embedding_kmeans_assign": (
        "WITH init AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8), "
        "d AS (SELECT e.vec_id, i.c_id, "
        "round(list_sum([(CAST(e.embedding[j] AS DOUBLE) - i.ce[j]) * "
        "(CAST(e.embedding[j] AS DOUBLE) - i.ce[j]) for j in generate_series(1, len(e.embedding))]), 6) AS dist2 "
        "FROM embeddings e CROSS JOIN init i), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn FROM d) "
        "SELECT vec_id, c_id AS centroid_id, dist2 FROM ranked WHERE rn = 1"
    ),
    # chunk i covers tokens [i*48, i*48+64); starts are 0,48,... < n —
    # identical to Spark's sequence(0, n-1, 48) + start<n filter
    "reshape_chunk_documents": (
        f"WITH t AS (SELECT doc_id, string_split({_norm}, ' ') AS toks FROM documents), "
        "s AS (SELECT doc_id, toks, len(toks) AS n, "
        "unnest(range(0, CAST(greatest(len(toks), 1) AS BIGINT), 48)) AS start FROM t) "
        "SELECT doc_id, CAST(start / 48 AS INT) AS chunk_no, "
        "CAST(least(64, n - start) AS INT) AS n_chunk_tokens, "
        "md5(array_to_string(toks[start + 1 : start + 64], ' ')) AS chunk_md5 "
        "FROM s WHERE start < n"
    ),
    "join_salted_skew": (
        "SELECT o_orderpriority AS priority, count(*) AS n, "
        "round(sum(l_extendedprice), 2) AS sum_price "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority"
    ),
    "pipeline_corpus_curation": (
        f"WITH q AS (SELECT doc_id, lang, {_QUALITY_EXPR} AS quality, "
        f"len({_toks}) AS n_tokens, {_norm} AS nrm FROM documents), "
        "f AS (SELECT * FROM q WHERE quality >= 0.5 AND lang IN ('en', 'es')), "
        "s AS (SELECT *, min(doc_id) OVER (PARTITION BY nrm) AS keep FROM f) "
        "SELECT doc_id, lang, n_tokens, quality FROM s WHERE doc_id = keep"
    ),
    "asof_join_next_purchase": (
        "SELECT c.event_id AS eid, c.user_id AS uid, p.ts AS next_purchase_ts, "
        "p.value AS next_purchase_value "
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c "
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p "
        "ON c.user_id = p.user_id AND c.ts <= p.ts"
    ),
    "asof_join_clicks_purchases": (
        "SELECT c.event_id AS eid, c.user_id AS uid, p.value AS last_purchase_value "
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c "
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p "
        "ON c.user_id = p.user_id AND c.ts >= p.ts"
    ),
    "range_join_value_bands": (
        "SELECT e.event_id AS eid, b.band, e.value FROM events e JOIN "
        "(VALUES " + ", ".join(f"('band_{i}', {i * 50}.0, {(i + 1) * 50}.0)" for i in range(10)) + ") "
        "b(band, lo, hi) ON e.value >= b.lo AND e.value < b.hi"
    ),
    "stream_interval_join_attribution": (
        "SELECT c.event_id AS cid, c.user_id AS uid, p.ts AS pts, "
        "p.value AS purchase_value "
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c "
        "JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p "
        "ON c.user_id = p.user_id AND p.ts >= c.ts "
        "AND p.ts <= c.ts + INTERVAL '1 hour'"
    ),
    # OHLC in the window spelling: open/close via first_value over
    # (ts, event_id) asc/desc inside each (type, hour-bucket) frame
    "stream_ohlc_hourly": (
        "WITH b AS (SELECT event_type, "
        "time_bucket(INTERVAL '1 hour', ts) AS window_start, "
        "value, ts, event_id FROM events WHERE value IS NOT NULL), "
        "w AS (SELECT event_type, window_start, value, "
        "first_value(value) OVER (PARTITION BY event_type, window_start "
        "ORDER BY ts, event_id) AS open_v, "
        "first_value(value) OVER (PARTITION BY event_type, window_start "
        "ORDER BY ts DESC, event_id DESC) AS close_v FROM b) "
        "SELECT window_start, window_start + INTERVAL '1 hour' AS window_end, "
        "event_type, min(open_v) AS open_v, max(value) AS high_v, "
        "min(value) AS low_v, min(close_v) AS close_v, "
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS volume "
        "FROM w GROUP BY window_start, event_type"
    ),
    "stream_tumbling_hourly": (
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, "
        "time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end, "
        "event_type, count(*) AS n, round(sum(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2, 3"
    ),
    "stream_sliding_2h": (
        "WITH ws AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS w, value FROM events "
        "UNION ALL SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' AS w, value FROM events) "
        "SELECT w AS window_start, count(*) AS n, round(sum(value), 2) AS sum_value "
        "FROM ws GROUP BY 1"
    ),
    "stream_session_windows": (
        "WITH e AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev "
        "FROM events), "
        # Spark session gap is INCLUSIVE at equality (an event exactly at
        # last+gap merges), so a new session starts only on strictly
        # greater gaps.
        "m AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes' "
        "THEN 1 ELSE 0 END AS new_s FROM e), "
        "s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM m) "
        "SELECT user_id AS uid, min(ts) AS session_start, "
        "max(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n "
        "FROM s GROUP BY user_id, sid"
    ),
}


def _ann_lsh_cte(p: int, pre: str) -> str:
    """LSH replay CTE chain (planes → signatures → Hamming-1 probes →
    candidate top-5) parameterized by plane count — the generator behind
    the similarity_ann_lsh oracle, reused per index setting by
    similarity_ann_recall. Mirrors operators/similarity.py::ann_lsh_topk
    (seed 42, 64-dim corpus, k=5, queries vec_id<20)."""
    return (
        f"{pre}planes AS (SELECT p, list_transform(range(0, 64), d -> "
        "CAST(CAST(concat('0x', substr(md5(concat('42_', p, '_', d)), 1, 8)) AS BIGINT) AS DOUBLE) "
        f"/ 2147483648.0 - 1.0) AS pv FROM range(0, {p}) t(p)), "
        f"{pre}sigs AS (SELECT vec_id, embedding, "
        "string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig FROM ("
        "SELECT e.vec_id, e.embedding, pl.p, "
        "list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * pl.pv[i])) AS dot "
        f"FROM embeddings e CROSS JOIN {pre}planes pl) GROUP BY vec_id, embedding), "
        f"{pre}qprobes AS (SELECT vec_id AS query_id, embedding AS qv, "
        f"unnest(list_prepend(sig, list_transform(range(0, {p}), i -> concat("
        "substr(sig, 1, CAST(i AS INT)), "
        "CASE WHEN substr(sig, CAST(i + 1 AS INT), 1) = '1' THEN '0' ELSE '1' END, "
        f"substr(sig, CAST(i + 2 AS INT), CAST({p - 1} - i AS INT)))))) AS bucket "
        f"FROM {pre}sigs WHERE vec_id < 20), "
        f"{pre}cand AS (SELECT q.query_id, c.vec_id AS neighbor_id, "
        "max(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6)) AS cosine "
        f"FROM {pre}qprobes q JOIN {pre}sigs c ON c.sig = q.bucket WHERE c.vec_id <> q.query_id "
        "GROUP BY 1, 2), "
        f"{pre}top AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM {pre}cand) "
        "WHERE rank <= 5)"
    )


def _ann_recall_leg(p: int, pre: str) -> str:
    return (
        f"SELECT q.query_id, {p} AS num_planes, "
        f"CAST(coalesce(h.n, 0) AS INT) AS n_hits, "
        f"round(coalesce(h.n, 0) / 5.0, 2) AS recall_at_5, "
        f"coalesce(h.n, 0) = 5 AS matches_exact "
        "FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 20) q "
        f"LEFT JOIN (SELECT e.query_id, count(*) AS n FROM ex e "
        f"JOIN {pre}top t ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id "
        "GROUP BY 1) h ON q.query_id = h.query_id"
    )


ORACLES["similarity_ann_recall"] = (
    f"WITH {_ann_lsh_cte(4, 'a4')}, {_ann_lsh_cte(8, 'a8')}, "
    "ex AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM ("
    "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
    "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q "
    "WHERE c.vec_id != q.vec_id)) WHERE rank <= 5) "
    f"{_ann_recall_leg(4, 'a4')} UNION ALL {_ann_recall_leg(8, 'a8')}"
)


# similarity_ann_lsh shares the SAME generated CTE chain as the recall
# entry's 8-plane leg — one replay definition, no drift between copies.
ORACLES["similarity_ann_lsh"] = (
    f"WITH {_ann_lsh_cte(8, '')} "
    "SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id) AS rank FROM cand) WHERE rank <= 5"
)

# IVF recall gate: same centroid/assignment/probe CTEs as
# similarity_ivf, one leg per nprobe, hits counted against the exact
# brute-force top-5
def _ivf_recall_leg_sql(nprobe: int) -> str:
    return (
        f"top{nprobe} AS (SELECT query_id, neighbor_id FROM ("
        "SELECT c.*, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank FROM ("
        "SELECT q.query_id, a.vec_id AS neighbor_id, "
        "max(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(q.qv AS DOUBLE[])), 6)) AS cosine "
        "FROM (SELECT vec_id AS query_id, embedding AS qv, list_id "
        f"FROM scored WHERE rn <= {nprobe} AND vec_id < 20) q "
        "JOIN asg a USING (list_id) WHERE a.vec_id <> q.query_id "
        "GROUP BY 1, 2) c) r WHERE rank <= 5), "
        f"h{nprobe} AS (SELECT ex.query_id, count(*) AS n FROM ex "
        f"JOIN top{nprobe} t ON t.query_id = ex.query_id "
        "AND t.neighbor_id = ex.neighbor_id GROUP BY 1)"
    )


ORACLES["similarity_ivf_recall"] = (
    "WITH init AS (SELECT row_number() OVER ("
    "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id) - 1 "
    "AS list_id, embedding AS ce FROM embeddings "
    "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id LIMIT 16), "
    "scored AS (SELECT e.vec_id, e.embedding, i.list_id, "
    "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
    "CAST(i.ce AS DOUBLE[])), 6) DESC, i.list_id) AS rn "
    "FROM embeddings e CROSS JOIN init i), "
    "asg AS (SELECT vec_id, embedding, list_id FROM scored WHERE rn = 1), "
    "ex AS (SELECT query_id, neighbor_id FROM ("
    "SELECT s.*, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id) AS rank FROM ("
    "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), "
    "CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
    "FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q "
    "WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 5), "
    + _ivf_recall_leg_sql(2) + ", " + _ivf_recall_leg_sql(4) + ", "
    "qids AS (SELECT DISTINCT vec_id AS query_id FROM embeddings "
    "WHERE vec_id < 20) "
    "SELECT qids.query_id AS query_id, CAST(p.nprobe AS INT) AS nprobe, "
    "CAST(coalesce(CASE p.nprobe WHEN 2 THEN h2.n ELSE h4.n END, 0) AS INT) "
    "AS n_hits, "
    "round(coalesce(CASE p.nprobe WHEN 2 THEN h2.n ELSE h4.n END, 0) / 5.0, 2) "
    "AS recall_at_5, "
    "coalesce(CASE p.nprobe WHEN 2 THEN h2.n ELSE h4.n END, 0) >= 4 AS go "
    "FROM qids CROSS JOIN (VALUES (2), (4)) AS p(nprobe) "
    "LEFT JOIN h2 ON h2.query_id = qids.query_id "
    "LEFT JOIN h4 ON h4.query_id = qids.query_id"
)


# cross-modal fusion: the three leg oracles nest verbatim as
# subqueries, so the verdict replays every leg end to end — any leg
# drifting from its own oracle also reddens the fusion
ORACLES["dedup_cross_modal_verdict"] = (
    "WITH t AS (SELECT id_a, id_b, 'text' AS m FROM ("
    + ORACLES["dedup_minhash_lsh"]
    + ") tx), "
    "i AS (SELECT id_a, id_b, 'image' AS m FROM ("
    + ORACLES["multimodal_dhash_neardup"]
    + ") ix WHERE is_near), "
    "a AS (SELECT id_a, id_b, 'audio' AS m FROM ("
    + ORACLES["multimodal_audio_neardup"]
    + ") ax WHERE is_near), "
    "p AS (SELECT * FROM t UNION ALL SELECT * FROM i "
    "UNION ALL SELECT * FROM a), "
    "pp AS (SELECT id_a, id_b, "
    "max(CASE WHEN m = 'text' THEN 1 ELSE 0 END) AS is_text, "
    "max(CASE WHEN m = 'image' THEN 1 ELSE 0 END) AS is_image, "
    "max(CASE WHEN m = 'audio' THEN 1 ELSE 0 END) AS is_audio, "
    "count(DISTINCT m) AS n_modalities "
    "FROM p GROUP BY id_a, id_b), "
    "e AS (SELECT unnest([id_a, id_b]) AS doc_id, is_text, is_image, "
    "is_audio, n_modalities FROM pp) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum(is_text) AS BIGINT) AS n_text, "
    "CAST(sum(is_image) AS BIGINT) AS n_image, "
    "CAST(sum(is_audio) AS BIGINT) AS n_audio, "
    "CAST(sum(CASE WHEN n_modalities >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_corroborated, "
    "CASE WHEN sum(CASE WHEN n_modalities >= 2 THEN 1 ELSE 0 END) > 0 "
    "THEN 'corroborated' ELSE 'single-modality' END AS verdict "
    "FROM e GROUP BY doc_id"
)

# planted positive control: same fusion oracle, but every leg reads a
# corpus with clones planted at doc_id + 10,000,000 (text identical,
# blob base pattern preserved because the offset is ≡ 0 mod 25). The
# CTE is named documents_planted and substituted into the copied leg
# oracles on a word boundary — no table shadowing, so it works under
# any view/registration scheme the harness uses.
import re as _re

ORACLES["dedup_cross_modal_planted"] = (
    "WITH documents_planted AS (SELECT * FROM documents UNION ALL "
    "SELECT doc_id + 10000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 37 = 0), "
    + _re.sub(
        r"\bdocuments\b",
        "documents_planted",
        ORACLES["dedup_cross_modal_verdict"],
    )[len("WITH ") :].replace(
        "AS verdict ",
        "AS verdict, doc_id >= 10000000 AS is_planted ",
        1,
    )
    # no GROUP BY edit needed: is_planted is an expression of the
    # grouped key doc_id, which DuckDB accepts in the SELECT list
)
