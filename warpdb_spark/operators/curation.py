"""Corpus-curation operators for LLM training-data pipelines: PII
scrubbing, sequence packing (chunked + greedy), stratified sampling.

The reference engine (seanwevans/WarpDB, src/warpdb.cpp) has no
curation layer — these are SURVEY §7 Phase-3 superset operators for
the 100 TB training-pipeline north star (BASELINE.json).

Scale notes, per operator:

- **PII scrub** (`scrub_pii` / `pii_counts`): a chain of JVM-side
  ``regexp_replace`` / ``regexp_extract_all`` expressions — whole-stage
  codegen, zero Python, zero shuffle. A 100 TB scan stays one map
  stage. Patterns are RE2-compatible (no lookaround) so the DuckDB
  oracle runs the *same* regex source strings.

- **Chunked packing** (`pack_chunks`): GPT-style concat-then-chunk —
  documents are laid out back-to-back within a packer group and split
  into fixed ``block_size`` token blocks. With ``chunk_expr`` the
  running offset is the two-pass chunked prefix sum
  (operators/sequence.py): the corpus-scale window partitions by
  (group, id-range chunk) — parallelism ∝ corpus even when the group
  domain is bounded — and the per-group offset window sees one
  aggregated row per chunk. Without it, a window cumsum per group:
  each group's rows sort in ONE task, safe only if the group domain
  scales with the data.

- **Greedy packing** (`pack_greedy`): first-fit-sequential bin packing
  (documents never split; a bin closes when the next doc would
  overflow). Inherently sequential *within* a group, so it runs as an
  Arrow-batched ``applyInPandas`` per group — the documented custom-
  stateful-operator tier. Groups are independent ⇒ embarrassingly
  parallel across executors; one shuffle total. THE GROUP DOMAIN MUST
  SCALE WITH THE CORPUS (each group is one pandas frame in one Python
  worker): callers size the key as ``id % N`` with N ∝ corpus size —
  a fixed N caps parallelism and per-worker memory forever (the r8
  audit's flatmap-tier finding).

- **Stratified sampling** (`stratified_sample`): deterministic top-N
  per stratum ordered by an md5 content address — stable across runs,
  partitions, and engines (unlike ``rand()``). One shuffle on the
  strata key; ``row_number`` keeps only N rows of state per stratum.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warpdb_spark.persist import persist_scoped

# (name, regex, replacement) — applied IN ORDER. Credit cards first so
# 4-4-4-4 digit runs are consumed before the shorter SSN/phone shapes
# can nibble at them; counts are taken on the partially-scrubbed text
# at each step, so ordering makes the counts well-defined even for
# overlapping pattern families. RE2-compatible: no lookaround, no
# backreferences — the same source strings run under Java regex (Spark)
# and RE2 (DuckDB oracle).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("cc", r"\b\d{4}-\d{4}-\d{4}-\d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def scrub_pii(col: Column) -> Column:
    """Redact all PII_PATTERNS (in order) with their placeholder tokens."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-category match counts, evaluated sequentially: each pattern
    is counted on the text with all *earlier* patterns already
    scrubbed, mirroring exactly what ``scrub_pii`` will redact."""
    counts: dict[str, Column] = {}
    cur = col
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, repl)
    return counts


def pack_chunks(
    df: DataFrame,
    id_col: str,
    grp_col: str,
    tok_col: str,
    block_size: int,
    chunk_expr: Column | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing: within each packer group
    (ordered by ``id_col``) documents are laid out back-to-back and cut
    into ``block_size``-token blocks. Adds ``start_tok`` (running
    offset), ``first_block``/``last_block`` (blocks the doc spans), and
    ``n_blocks``. Zero-token docs occupy their start block.

    ``chunk_expr`` (an order-monotone bucket of ``id_col``, e.g.
    ``floor(id / 4096)``) routes the running offset through
    ``grouped_prefix_sum``'s two-pass chunk decomposition: the local
    cumsum partitions by (group, chunk) — parallelism grows with the
    corpus even when the GROUP domain is bounded (the r8 audit's
    ``grp = doc_id % 8`` finding) — and only one aggregated row per
    chunk feeds the per-group offset window. Bit-identical to the
    plain spelling (integer sums reassociate exactly). ``None`` keeps
    the single per-group window — only safe when the group domain
    itself scales with the data."""
    if chunk_expr is None:
        w = (
            Window.partitionBy(grp_col)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        start = F.coalesce(F.sum(tok_col).over(w), F.lit(0)).cast("long")
        out = df.withColumn("start_tok", start)
    else:
        from warpdb_spark.operators.sequence import grouped_prefix_sum

        out = grouped_prefix_sum(
            df, grp_col, [id_col], chunk_expr, tok_col,
            prefix_col="__cum_incl", total_col=None,
        ).withColumn(
            "start_tok", (F.col("__cum_incl") - F.col(tok_col)).cast("long")
        ).drop("__cum_incl")
    first = F.floor(F.col("start_tok") / block_size).cast("int")
    last = F.floor(
        (F.col("start_tok") + F.greatest(F.col(tok_col) - 1, F.lit(0))) / block_size
    ).cast("int")
    return (
        out.withColumn("first_block", first)
        .withColumn("last_block", last)
        .withColumn("n_blocks", (F.col("last_block") - F.col("first_block") + 1))
    )


def pack_greedy(
    df: DataFrame,
    id_col: str,
    grp_col: str,
    tok_col: str,
    budget: int,
) -> DataFrame:
    """First-fit-sequential bin packing per group: docs (ordered by
    ``id_col``) accumulate into a bin until the next doc would exceed
    ``budget``, which closes the bin. Docs larger than ``budget`` get a
    bin to themselves. Returns (grp, id, tok, bin).

    Sequential within a group ⇒ Arrow-batched ``applyInPandas``; groups
    are independent ⇒ parallel across executors, one shuffle total.
    """
    import pandas as pd

    fields = df.select(grp_col, id_col, tok_col).schema
    out_schema = fields.add("bin", "integer")

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        acc = 0
        b = 0
        for i, tok in enumerate(pdf[tok_col]):
            t = int(tok)
            if i == 0:
                acc = t
            elif acc + t > budget:
                b += 1
                acc = t
            else:
                acc += t
            bins.append(b)
        pdf["bin"] = pd.array(bins, dtype="int32")
        return pdf

    return (
        df.select(grp_col, id_col, tok_col)
        .groupBy(grp_col)
        .applyInPandas(pack, out_schema)
    )


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for each corpus doc, how many of its
    distinct word ``shingle_size``-grams also appear in the eval set.
    Returns (id, n_overlap, n_shingles, ratio) for docs with ≥1 overlap.

    Scale shape: the eval set is the small side — its distinct shingle
    table is broadcast, so the corpus side is ONE scan + explode + a
    broadcast semi-ish join + one groupBy(doc) shuffle. No corpus-side
    self-join, no all-pairs anything; 100 TB of corpus meets a few MB
    of eval shingles.
    """
    from warpdb_spark.functions import text as T

    def gramset(col: Column) -> Column:
        return F.array_distinct(T.word_ngrams(T.normalized_text(col), shingle_size))

    eval_grams = (
        eval_df.select(F.explode(gramset(F.col(text_col))).alias("__g")).distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.size(gramset(F.col(text_col))).alias("n_shingles"),
    )
    exploded = corpus.select(
        F.col(id_col), F.explode(gramset(F.col(text_col))).alias("__g")
    )
    overlap = (
        exploded.join(F.broadcast(eval_grams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return overlap.join(corpus_sh, id_col).select(
        id_col,
        "n_overlap",
        "n_shingles",
        F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias("ratio"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style repetition signals, pure HOF (zero Python, zero
    shuffle): duplicate-bigram fraction (1 − distinct/total word
    bigrams) and top-token frequency ratio. High values flag
    boilerplate / degenerate repetition for quality filtering."""
    from warpdb_spark.functions import text as T

    toks = T.tokens(T.normalized_text(F.col(text_col)))
    n = F.size(toks)
    bigrams = T.word_ngrams(T.normalized_text(F.col(text_col)), 2)
    n_bi = F.size(bigrams)
    dup_bi = F.when(n_bi <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(bigrams)) / n_bi
    )
    tok_counts = F.transform(
        F.array_distinct(toks),
        lambda t: F.size(F.filter(toks, lambda x: x == t)),
    )
    top_tok = F.when(n == 0, F.lit(0.0)).otherwise(F.array_max(tok_counts) / n)
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.round(dup_bi, 6).alias("dup_bigram_ratio"),
        F.round(top_tok, 6).alias("top_token_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token windows (training-prep for
    long-context models): chunk i covers tokens [i·stride, i·stride +
    window). Returns (id, chunk_no, n_chunk_tokens, chunk_md5). Pure
    HOF + posexplode — a codegen'd flatMap, no shuffle; zero-token docs
    yield no chunks."""
    from warpdb_spark.functions import text as T

    toks = T.tokens(T.normalized_text(F.col(text_col)))
    d = df.select(F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride)
    )
    d = d.select(
        id_col, "__toks", "__n", F.posexplode(starts).alias("chunk_no", "__start")
    ).filter(F.col("__start") < F.col("__n"))
    chunk = F.slice("__toks", F.col("__start") + 1, window)
    return d.select(
        id_col,
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def stratified_sample(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    n_per_stratum: int,
    keep_cols: Iterable[str] | None = None,
) -> DataFrame:
    """Deterministic stratified sample: the ``n_per_stratum`` rows per
    stratum with the smallest md5 content address of ``id_col``. Adds
    ``rk`` (1-based rank within the stratum)."""
    w = Window.partitionBy(*strata).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    out = df.withColumn("rk", F.row_number().over(w).cast("int")).filter(
        F.col("rk") <= n_per_stratum
    )
    if keep_cols is not None:
        out = out.select(*strata, *keep_cols, "rk")
    return out


def budget_fill(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    id_col: str,
    budget: int,
    prefix_len: int = 2,
) -> DataFrame:
    """Per-key greedy budget fill WITHOUT a per-key global sort.

    Semantics are exactly ``sum(w) OVER (PARTITION BY key ORDER BY
    md5(id), id)`` followed by ``cum - w < budget`` (a row is kept iff
    the budget was not exhausted before it arrived) — computed through
    ``grouped_prefix_sum`` (operators/sequence.py; this operator was
    its hand-rolled r2 ancestor) with chunk = the first ``prefix_len``
    hex digits of the md5 sort key: an order-monotone PREFIX of the
    leading order column, so md5-prefix buckets tile the global per-key
    md5 order. The corpus-scale window runs per (key, bucket) —
    16**prefix_len parallel buckets per key (256 at the default; THE
    PARALLELISM KNOB: a fixed width is a scale ceiling exactly like the
    r8 packer finding, so size it to the data — 3-4 hex digits at
    100 TB — or diagnose with sequence.chunk_skew_stats; results are
    invariant to the width) — and the offset window sees one aggregated
    row per bucket. Adds ``cum`` (the per-key running total including
    the row itself)."""
    from warpdb_spark.operators.sequence import grouped_prefix_sum

    sk = F.md5(F.col(id_col).cast("string"))
    d = df.withColumn("__sk", sk)
    out = grouped_prefix_sum(
        d, key_col, ["__sk", id_col],
        F.substring(F.col("__sk"), 1, prefix_len), weight_col,
        prefix_col="cum", total_col=None,
    )
    return out.filter(F.col("cum") - F.col(weight_col) < budget).drop("__sk")


def remove_boilerplate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """C4/RefinedWeb-style boilerplate-span removal: any exact word
    ``span``-gram appearing in ≥ ``min_docs`` DISTINCT documents is
    boilerplate; every token position covered by one is dropped and the
    document reassembled from the survivors. Returns
    (id, n_tokens, n_kept, n_removed, clean_md5).

    Scale shape: spans explode to O(total_tokens) rows and shuffle ONCE
    on the span string for the distinct-doc count; the hot-span set (a
    tiny frequency tail) broadcasts back onto the span stream; covered
    positions dedup per (doc, pos); reassembly is one groupBy(doc) with
    an order-preserving sort inside the aggregate. No pairwise doc
    comparison anywhere — at 100 TB the cost is two corpus-token-volume
    shuffles, independent of duplication structure.

    The token and span frames sit in ``persist_scoped`` slots: a later call on
    other input evicts them, and this call's lazy result then recomputes them.
    """
    from warpdb_spark.functions import text as T

    # three consumers (spans, token posexplode, final join) — lazy
    # persist so the corpus normalize+split scan runs once, not 3x
    base = persist_scoped(
        df.select(
            F.col(id_col).alias("__id"),
            F.split(T.normalized_text(F.col(text_col)), " ").alias("__toks"),
        ).withColumn("__n", F.size("__toks"))
    )
    # spans feed both the hot-set count and the coverage join — persist
    # so the O(total_tokens) 5-gram explode runs once
    spans = persist_scoped(
        base.filter(F.col("__n") >= span).select(
            "__id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - span),
                    lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, span)),
                )
            ).alias("__start", "__span"),
        )
    )
    hot = (
        spans.groupBy("__span")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__span")
    )
    covered = (
        spans.join(F.broadcast(hot), "__span")
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("__start"), F.col("__start") + span - 1)
            ).alias("__pos"),
        )
        .distinct()
    )
    tokens = base.select("__id", F.posexplode("__toks").alias("__pos", "__tok"))
    kept = tokens.join(covered, ["__id", "__pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("__clean"),
    )
    return (
        base.select("__id", F.col("__n").alias("n_tokens"))
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("__n_kept", F.lit(0)).cast("int").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.md5(F.coalesce("__clean", F.lit(""))).alias("clean_md5"),
        )
    )
