"""Deduplication operators for large-scale document corpora
(SURVEY §7 Phase 3 / BASELINE.json north star).

Scale design, per operator:

- **exact**: one aggregation on the dedup key — min(id) HashAggregate
  when the frame is (keys, id), else min_by over the whole row; both
  partial-aggregate map-side, so a skewed/low-cardinality key costs
  one candidate row per key per task, never a per-group sort (a
  row_number window here was the r7 contract-test finding). Keys are
  md5 of normalized text, so wide text values never ride the shuffle
  twice.
- **MinHash signatures**: computed entirely with higher-order functions
  (shingle → per-seed xxhash64 → array_min), i.e. a codegen'd map stage;
  NO explode and NO shuffle to build signatures.
- **LSH banding**: signatures explode to (band, band_hash) keys — the
  only shuffle — then a self-join on the band key yields candidate
  pairs; exact n-gram Jaccard verifies candidates. Band-hash hot spots
  (boilerplate docs) are bounded by ``max_bucket_size``.
- **SimHash**: 64-bit signature via an Arrow-batched pandas UDF (bit
  voting needs per-token popcount loops that HOFs express poorly);
  near-dup candidates via 4×16-bit chunk banding (Hamming ≤ 3 ⇒ some
  chunk equal).
- **embedding near-dup**: random-hyperplane LSH buckets then exact
  cosine verification within buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from warpdb_spark.functions import text as T
from warpdb_spark.functions import vectors as V
from warpdb_spark.persist import persist_scoped


# --- exact -----------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    key_cols: list[str | Column],
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Keep exactly one row (minimum ``id_col``) per key combination.

    Hash aggregation (``min_by`` over the whole row), NOT a
    ``row_number`` window: a window is a per-group SORT, and dedup
    keys are routinely low-cardinality (lang, source, content hash
    with a dominant value) — at 100 TB one task would hold an entire
    hot group. ``min_by`` partial-aggregates map-side, so each task
    ships one candidate row per key and skewed keys cost nothing.
    ``id_col`` must be unique for determinism (ties in ``min_by`` are
    otherwise unspecified), and NULL ids are never selected as the
    survivor — ``min``/``min_by`` skip NULL ordering values (the
    pre-r7 window implementation sorted NULLs first; that placement
    was an artifact of Spark's ASC default, not a contract). Rows with
    a NULL id are dropped up front: without the filter the two agg
    paths diverge on a group whose EVERY id is NULL (plain ``min``
    keeps the keys with a NULL id; ``min_by`` returns a NULL struct,
    collapsing keys and values alike to an all-NULL row). With it,
    such a group uniformly disappears — no row can "survive" under an
    ordering value that doesn't order. The IsNotNull predicate pushes
    into the scan, so the non-degenerate case pays nothing."""
    df = df.where(F.col(id_col).isNotNull())
    keys = [
        T.normalized_text(F.col(c)) if normalize and isinstance(c, str) else F.col(c) if isinstance(c, str) else c
        for c in key_cols
    ]
    plain = all(isinstance(c, str) for c in key_cols) and not normalize
    if plain and set(df.columns) == set(list(key_cols) + [id_col]):
        # the frame IS (keys, id): the survivor row is determined by
        # min(id) alone — plain HashAggregate, codegen'd, no struct
        # buffer and no per-partition sort
        out = df.groupBy(*keys).agg(F.min(id_col).alias(id_col))
        return out.select(*df.columns)
    row = F.struct(*[F.col(c) for c in df.columns])
    picked = df.groupBy(*keys).agg(F.min_by(row, F.col(id_col)).alias("__row"))
    return picked.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


def duplicate_stats(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Per-key duplicate statistics: survivor id + count."""
    return df.groupBy(key.alias("dedup_key")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


# --- MinHash + LSH ----------------------------------------------------------

def minhash_signature(
    text_col: Column, num_hashes: int = 64, shingle_size: int = 3
) -> Column:
    """Array of ``num_hashes`` min-hashes over word shingles. Seeded
    xxhash64 simulates the permutation family; documents with fewer
    than ``shingle_size`` words hash the whole normalized text."""
    grams = T.word_ngrams(T.normalized_text(text_col), shingle_size)
    grams = F.when(F.size(grams) == 0, F.array(T.normalized_text(text_col))).otherwise(grams)
    seeds = F.array(*[F.lit(s) for s in range(num_hashes)])
    # let-bind the shingle array (T.let): HOF lambdas are interpreted
    # with no CSE, so a captured grams EXPRESSION would re-shingle the
    # doc once per seed (64x); as a lambda variable it is computed once
    # per row. Building 64 separate array_min(transform) columns would
    # be worse still (64x in the plan itself). NB: inner lambdas take
    # exactly one arg — a two-arg transform lambda means (element,
    # index) to Spark.
    return T.let(
        grams,
        lambda gs: F.transform(
            seeds, lambda s: F.array_min(F.transform(gs, lambda g: F.xxhash64(s, g)))
        ),
    )


def _shingle_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int
) -> DataFrame:
    """(__id, __sh): distinct word-shingle array per document. Distinct
    is safe for BOTH consumers: min-hash is invariant under duplicate
    set elements, and Jaccard is defined on sets. Short docs (< n words)
    fall back to the whole normalized text as the single shingle, so two
    DIFFERENT short docs get jaccard 0, not the degenerate empty/empty
    == 1.0."""
    from warpdb_spark.utils import ensure_parallelism

    grams = F.array_distinct(
        T.word_ngrams(T.normalized_text(F.col(text_col)), shingle_size)
    )
    grams = F.when(
        F.size(grams) == 0, F.array(T.normalized_text(F.col(text_col)))
    ).otherwise(grams)
    return ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), grams.alias("__sh")
    )


def _pairs_from_shingles(
    shingles: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
) -> DataFrame:
    """Banded-MinHash candidate pairs from a (cached) shingle frame."""
    rows = num_hashes // bands

    # Signature build: explode shingles → 64 parallel min-aggregates.
    # The per-shingle hashing then runs inside whole-stage codegen
    # (nested-HOF minhash evaluates interpreted — measured ~10x slower)
    # and partial aggregation shuffles only 64 longs per doc.
    # hash each shingle string ONCE; the 64 permutations rehash the
    # 8-byte result (xxhash64 over long) instead of re-hashing the
    # string per seed — ~2x faster signature build, same min-wise
    # independence. (Multiply-add universal hashing would be cheaper
    # still but ANSI mode makes long overflow an error.)
    exploded = shingles.select(
        "__id", F.explode("__sh").alias("__g")
    ).select("__id", F.xxhash64("__g").alias("__g64"))
    # One SQL-parsed aggregate expression instead of 64 Column-API agg
    # columns (r12): building min(xxhash64(lit, col)) via the Python
    # Column API costs ~4 py4j round trips per seed — measured 0.83s of
    # pure driver-side construction per invocation at num_hashes=64.
    # The SQL string parses server-side in one call. Seed literals stay
    # INTEGER (SQL `0`..`63` ≡ F.lit(int)) so xxhash64 values — and
    # therefore signatures, bands, and candidate sets — are
    # bit-identical to the Column spelling.
    mins = ", ".join(f"min(xxhash64({s}, __g64))" for s in range(num_hashes))
    # No persist and no eager count on the signature frame (r12): since
    # the window-count bucket cap made the candidate path LINEAR, `sig`
    # has exactly one consumer (the banding explode below), so the r11
    # persist+count — a full blocking job plus a cache materialization
    # of 64 longs/doc — bought nothing. The signature aggregate now
    # chains straight into the (band, bucket) exchange in one query.
    sig = exploded.groupBy("__id").agg(F.expr(f"array({mins})").alias("__sig"))
    # Band hashing as one SQL-parsed explode (r12 construction-cost
    # twin of the signature expr above; same bit-identical-literal
    # argument). The slice is hashed DIRECTLY as array<long> — the
    # pre-r11 concat_ws spelling stringified 4 longs per band per doc
    # (measured ~15% of the candidate path at sf0.1). Equal slices
    # still hash equal, so collision-free the output is unchanged. An
    # accidental cross-class collision (~2^-64/pair) usually only ADDS
    # candidates that exact verification drops — but it can also merge
    # two buckets past max_bucket_size and drop TRUE pairs with them,
    # so the unchanged-output claim is probabilistic, not strict.
    band_structs = ", ".join(
        f"struct({b} as band, xxhash64({b}, slice(__sig, {b * rows + 1}, {rows})) as bucket)"
        for b in range(bands)
    )
    banded = sig.select(
        "__id", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("__id", "bb.band", "bb.bucket")
    # Bucket-size cap as a WINDOW COUNT over (band, bucket) instead of
    # the r11 counts-aggregate + broadcast anti-join (r12, measured
    # ~2.9x faster on the pair stage at sf0.1 with an identical pair
    # set): the old spelling shuffled the banded frame TWICE (once into
    # the counts aggregate, once into the collect) plus a broadcast
    # materialization barrier; the window count rides the SAME single
    # (band, bucket) exchange the collect needs, so the whole candidate
    # path is one shuffle. Scale safety is preserved: WindowExec's
    # group buffer spills to disk (a degenerate boilerplate bucket
    # costs spill I/O, never an OOM), the filter drops hot buckets
    # BEFORE the collect, so the collect_list buffer stays ≤
    # max_bucket_size ids — the invariant the cap exists to guarantee.
    w = Window.partitionBy("band", "bucket")
    banded = banded.withColumn("__n", F.count(F.lit(1)).over(w)).filter(
        F.col("__n") <= max_bucket_size
    )
    # Pair expansion as ONE groupBy + comb2 explode (r11): collect each
    # surviving bucket's ids — a doc emits exactly one bucket per band,
    # so the list is duplicate-free — sort, and emit the i<j
    # combinations (codegen'd; id_a < id_b falls out of the sort). The
    # nested-transform comb2 is SQL-parsed in one call (r12
    # construction-cost fix; identical expression tree).
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("__id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.array_sort("ids").alias("ids"))
    )
    return (
        buckets.selectExpr(
            "explode(flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), "
            "y -> struct(x as id_a, y as id_b))))) as p"
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def capped_key_pairs(keyed: DataFrame, max_bucket_size: int) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) from a generic
    ``(doc_id, key)`` bucket assignment — the shared candidate
    generator behind every pair-report dedup entry.

    Applies the same ``max_bucket_size`` discipline as
    ``_pairs_from_shingles``: buckets larger than the cap are dropped
    wholesale via a broadcast anti-join (the hot-bucket list is at
    most |assignments| / cap rows, so it stays broadcastable at any
    corpus size). With the cap in force, the candidate count is
    bounded by ``n_buckets * cap^2 / 2`` — linear in corpus size for
    a fixed cap, never quadratic. Callers choose the key policy:

    - anchor grams (``key = md5(gram)[:16]`` per distinct gram):
      exact recall for pairs sharing any non-hot gram — the right
      policy for verbatim-run / containment detection, where the
      interesting pairs have LOW set-Jaccard by construction and
      MinHash banding would miss them;
    - minhash bands (``key = seed|signature_component``):
      probability-of-candidacy 1-(1-J)^bands — the right policy when
      the downstream score IS set similarity.

    Keys built from md5 are engine-portable, so a DuckDB oracle
    replays the identical candidate set bit-for-bit.
    """
    hot = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select("key")
    )
    ok = keyed.join(F.broadcast(hot), "key", "left_anti")
    a = ok.select("key", F.col("doc_id").alias("id_a"))
    b = ok.select("key", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def portable_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """Engine-portable r=1 MinHash band keys, one ``(doc_id, key)`` row
    per band: ``key = "s|" + min over distinct shingles of
    md5("s|" + gram)[:16]``. Short docs fall back to the whole
    normalized text as the single shingle (the ``_shingle_frame``
    rule), so every doc gets exactly ``n_bands`` keys. md5-derived
    keys replay bit-for-bit in a SQL oracle — the portable sibling of
    the xxhash64 production signatures above, shared by the
    ``stream_incremental_dedup`` entry and its live-stream test."""
    grams = F.array_distinct(
        T.word_ngrams(T.normalized_text(F.col(text_col)), shingle_size)
    )
    grams = F.when(
        F.size(grams) == 0, F.array(T.normalized_text(F.col(text_col)))
    ).otherwise(grams)
    sh = df.select(F.col(id_col).alias("doc_id"), grams.alias("__g"))

    def band(s: int) -> Column:
        # one-arg lambda: a second parameter would receive the element
        # index, silently replacing the seed
        return F.concat_ws(
            "|",
            F.lit(str(s)),
            F.array_min(
                F.transform(
                    F.col("__g"),
                    lambda gm: F.substring(F.md5(F.concat(F.lit(f"{s}|"), gm)), 1, 16),
                )
            ),
        )

    return sh.select(
        "doc_id",
        F.explode(F.array(*[band(s) for s in range(n_bands)])).alias("key"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 1000,
    shingle_size: int = 3,
) -> DataFrame:
    """Candidate near-duplicate id pairs (id_a < id_b) via banded MinHash.

    rows_per_band = num_hashes // bands; two docs collide if any band of
    their signatures is identical. ``max_bucket_size`` drops degenerate
    buckets (e.g. empty-text boilerplate) that would square up.
    """
    return _pairs_from_shingles(
        _shingle_frame(df, id_col, text_col, shingle_size),
        num_hashes,
        bands,
        max_bucket_size,
    )


def _jaccard_from_shingles(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs: join the shingle frame back to
    both sides (two hash joins), intersect/union with array ops."""
    a = shingles.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = shingles.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (standalone entry point:
    builds and caches its own shingle frame, warmed once so both join
    sides reuse it).

    The shingle frame sits in a ``persist_scoped`` slot: a later call on
    other input evicts it, and this call's lazy result then recomputes it."""
    shingles = persist_scoped(
        _shingle_frame(df, id_col, text_col, shingle_size), eager=True
    )
    return _jaccard_from_shingles(shingles, pairs)


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 1000,
    shingle_size: int = 3,
) -> DataFrame:
    """Banded-MinHash candidates + exact-Jaccard verification in one
    pipeline. The shingle frame is computed and cached ONCE and shared
    by the signature build and the verification joins — one less
    normalize+shingle pass over the corpus than calling
    ``lsh_candidate_pairs`` and ``ngram_jaccard`` separately (which at
    100 TB is a full extra scan of the text column).

    The shingle frame sits in a ``persist_scoped`` slot: a later call on
    other input evicts it, and this call's lazy result then recomputes it."""
    shingles = persist_scoped(_shingle_frame(df, id_col, text_col, shingle_size))
    # No eager count (r13; r12 verdict item 7): the lazy persist is
    # populated by whichever of the three consuming branches
    # (signature build + both jaccard join sides) touches a partition
    # first, and BlockManager per-block compute locks make concurrent
    # consumers WAIT for the in-flight computation rather than
    # recompute it, so the shingle pass still runs ~once. The r12
    # eager count was a full blocking map job ahead of the query;
    # dropping it measured 8 jobs -> 6 and 1.410s -> 1.169s (min of 4
    # steady passes) at sf0.1 with an identical result. Worst case on
    # a multi-executor cluster is a bounded duplicate partition
    # compute while two executors race the same cold block — at most
    # the cost the old standalone count job paid every time.
    pairs = _pairs_from_shingles(shingles, num_hashes, bands, max_bucket_size)
    out = _jaccard_from_shingles(shingles, pairs)
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Near-dedup: drop every doc that has a verified near-duplicate
    with a smaller id (the standard greedy survivor rule — one LSH
    banding shuffle + one verify join, no iterative closure)."""
    verified = lsh_verified_pairs(
        df, id_col, text_col, threshold, num_hashes, bands, shingle_size=shingle_size
    )
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --- SimHash -----------------------------------------------------------------

def simhash_signature(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash over whitespace tokens (md5-derived stable token
    hashes; bit i = sign of the per-bit vote sum). Arrow-batched pandas
    UDF: the per-token popcount voting is numpy, one batch at a time —
    the idiomatic Python-side analog of a fused kernel."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            votes = np.zeros(64, dtype=np.int64)
            for tok in toks:
                h = np.uint64(
                    int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                )
                bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
                votes += bits * 2 - 1
            sig = np.uint64(0)
            for b in range(64):
                if votes[b] > 0:
                    sig |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    from warpdb_spark.utils import ensure_parallelism

    return ensure_parallelism(df).withColumn(out_col, _simhash(F.col(text_col)))


def simhash_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidate pairs by SimHash: band the 64-bit signature
    into 4 × 16-bit chunks (pigeonhole: Hamming ≤ 3 ⇒ ≥1 equal chunk),
    join on chunk equality, verify exact Hamming distance."""
    sig = simhash_signature(df, text_col).select(F.col(id_col).alias("__id"), "simhash")
    chunks = sig.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("__id", "simhash", "ck.chunk", "ck.key")
    a = chunks.select("chunk", "key", F.col("__id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = chunks.select("chunk", "key", F.col("__id").alias("id_b"), F.col("simhash").alias("sh_b"))
    pairs = (
        a.join(b, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding near-dup -------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 16,
    seed: int = 42,
    num_tables: int = 1,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH buckets +
    exact verification inside each bucket. One shuffle keyed on
    (table, bucket signature); planes are deterministic driver-side
    literals.

    ``num_tables`` is the standard OR-amplification recall knob: each
    row lands in one bucket per table, a pair is a candidate if it
    collides in ANY table, so recall is 1-(1-p^b)^L for per-plane
    collision probability p, b = num_planes, L = num_tables. Weakly
    separated corpora / low thresholds need small b and larger L (the
    per-table buckets are coarse); at production thresholds (≥0.9) p^b
    is large, so few small-b tables — or one fine-grained table —
    prune aggressively. Shuffle volume is L× the corpus, still
    O(docs), never O(docs²).

    The signature frame sits in a ``persist_scoped`` slot: a later call on
    other input evicts it, and this call's lazy result then recomputes it."""
    dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    all_planes = rng.standard_normal((num_tables, num_planes, dim))

    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                V.hyperplane_signature(F.col(vec_col), all_planes[t].tolist()).alias(
                    "sig"
                ),
            )
            for t in range(num_tables)
        ]
    )
    sig = persist_scoped(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            F.explode(tables).alias("__tb"),
        ).select("__id", "__v", F.col("__tb.tbl").alias("__tbl"), F.col("__tb.sig").alias("__bucket"))
    )
    a = sig.select("__tbl", "__bucket", F.col("__id").alias("id_a"), F.col("__v").alias("v_a"))
    b = sig.select("__tbl", "__bucket", F.col("__id").alias("id_b"), F.col("__v").alias("v_b"))
    return (
        a.join(b, ["__tbl", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(V.cosine_similarity(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )
