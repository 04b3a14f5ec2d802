"""Curation / analytics extension inventory (round 6).

Operators a 100 TB training-data pipeline runs between "raw corpus"
and "tokenizer": inequality + distribution diagnostics (Gini
— exact rank-sum AND the sort-free binned-Lorenz scale path,
chi-square independence, Hill tail index, group entropy, distribution
window functions — exact AND the binned-ECDF scale path),
deterministic sampling/splitting (hash-priority reservoir),
behaviour-sequence construction, freshness/ops reporting,
code-likeness detection, prefix-cluster dedup, vocabulary-coverage
sizing, neighbour-set similarity, the drift triangle (Welch mean
z-test, two-sample KS shape test, PSI mixture scorecard), a
Bloom-filter semi-join reduction (the runtime-filter pattern), and a
deterministic Poisson-bootstrap confidence interval.

Reference parity: the reference engine (src/warpdb.cpp, ~2.6k LoC
filter/project/aggregate core) has none of these; they follow SURVEY
§2's "pipeline operators a 100 TB corpus needs" mandate. Every entry
is exact-oracle-checked against DuckDB. Determinism rules shared with
the rest of the inventory: money/value/log moments snap to integer
micro-units BEFORE any aggregation (integer sums are
evaluation-order-proof; double sums are not), hashes are md5 (both
engines bit-identical), and every ORDER BY carries a unique tiebreak
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warpdb_spark.functions.text import (
    DD_ALNUM_TOKS,
    DD_NORM,
    alnum_tokens as _alnum_tokens,
    normalized_text,
    translate_count,
)
from warpdb_spark.inventory.scale_ops import _user_edges
from warpdb_spark.persist import persist_scoped
from warpdb_spark.sources.readers import cached_table, ns_to_timestamp


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-keyed metadata memo (r12): see sources.readers.cached_table
    return cached_table(spark, sf_dir, name)


# --- inequality: Gini coefficient per group ----------------------------------


def agg_gini_by_segment(spark, sf_dir):
    """Gini coefficient of order value per order priority — the
    inequality number a data-mixture owner watches (a source or
    segment whose value mass concentrates into a few records skews
    any proportional sampling downstream). Rank-sum identity:
    G = 2·Σ i·xᵢ / (n·Σ xᵢ) − (n+1)/n with x ascending.

    Prices snap to integer cents first, so both moment sums are exact
    integers and the only float op is the final division. Σ i·xᵢ grows
    as n²·max-cents — already past int64 at ~4M rows/group with 5e7
    cents (a 20M-row replay crashed the long sum under ANSI mode) —
    so the rank-moment accumulates in DECIMAL(38,0): still exact and
    aggregation-order-proof, with headroom to ~1e38 (≈1e12 rows/group).
    Scale shape (r8 — formerly the sf-bounded diagnostic whose 100 TB
    answer was only ``agg_gini_binned``): the rank now comes from
    operators/sequence.grouped_global_rank ($250 cent chunks, unique
    (cents, o_orderkey) order → deterministic), so the EXACT Gini no
    longer needs a per-group sort on the 5-value key — the heavy
    window runs per (priority, chunk) and the offsets over one
    aggregated row per chunk. ``agg_gini_binned`` remains the cheaper
    approximate path (one pass, no rank join) when |err| ≤ 1e-6
    suffices."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    r = grouped_global_rank(
        o.select("o_orderpriority", "o_orderkey", cents.alias("cents")),
        "o_orderpriority",
        ["cents", "o_orderkey"],
        (F.col("cents") / _GINI_BUCKET_CENTS).cast("long"),
        rank_col="i",
        n_col=None,  # group size is re-counted in the final agg anyway
    )
    g = r.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sx"),
        # cast BEFORE the multiply: the long product i*cents itself
        # overflows once i (≈ group row count) reaches ~2e11 at 5e7
        # cents; decimal×long multiplies in decimal space
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("six"),
    )
    gini = (
        2.0 * F.col("six").cast("double")
        / (F.col("n_orders").cast("double") * F.col("sx").cast("double"))
        - (F.col("n_orders") + 1) / F.col("n_orders")
    )
    return g.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sx") / 100.0, 2).alias("total_value"),
        F.round(gini, 6).alias("gini"),
    )


_GINI_BUCKET_CENTS = 25_000  # $250-wide fixed Lorenz buckets


def agg_gini_binned(spark, sf_dir):
    """Sort-free Gini via a binned Lorenz curve — the 100 TB path the
    exact entry (``agg_gini_by_segment``) points at. Values land in
    fixed-width integer-cent buckets ($250 wide), one partial-agg
    shuffle on (group, bucket) replaces the per-group rank sort, and
    the trapezoid identity G = 1 − Σ n_b·(2·cumS_b − s_b)/(N·S) runs
    over the ≤few-thousand bucket rows per group (bounded window, no
    data-sized sort). Fully deterministic — bucket ids and both moment
    sums are exact integers (DECIMAL(38,0) on the Spark side, HUGEINT
    via DuckDB's native SUM widening) — so unlike most approximations
    this one is exact-oracle-checkable: same buckets, same integers,
    same final double on both engines.

    Measured on a 20M-order replay (local[32], full materialization):
    exact rank-sum 21.0s vs binned 2.0s — 10.4×, max |err| 1e-6 with
    ~2000 occupied buckets. Error is bounded by within-bucket value
    spread; with fixed $250 buckets it shrinks as data grows."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    b = (
        o.select("o_orderpriority", cents.alias("cents"))
        .withColumn(
            "bucket", F.floor(F.col("cents") / F.lit(_GINI_BUCKET_CENTS)).cast("long")
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("sb"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("bucket")
    b = b.withColumn("cum_s", F.sum("sb").over(w))
    term = F.col("nb").cast("decimal(38,0)") * (2 * F.col("cum_s") - F.col("sb"))
    g = b.groupBy("o_orderpriority").agg(
        F.sum("nb").alias("n_orders"),
        F.sum("sb").alias("sx"),
        F.sum(term).alias("num"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    gini = 1.0 - F.col("num").cast("double") / (
        F.col("n_orders").cast("double") * F.col("sx").cast("double")
    )
    return g.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        "n_buckets",
        F.round(F.col("sx").cast("double") / 100.0, 2).alias("total_value"),
        F.round(gini, 6).alias("gini"),
    )


# --- sampling: deterministic hash-priority reservoir -------------------------


def sample_reservoir_per_key(spark, sf_dir):
    """k-per-stratum reservoir sample (k = 5 per (lang, source)) with
    an md5 priority instead of rand(): survivor set is stable across
    runs, partitionings, AND engines — the property that makes a
    sample auditable and a resume re-entrant. Priority = md5(doc_id ||
    ':rsv'); the salt decorrelates this sample from every other
    md5-keyed decision (split, weighted sampling) in the pipeline.

    Per-stratum top-k by hash is a bounded heap per group (Spark plans
    the rank-filter as a partial top-k; no global sort); at 100 TB the
    same expression runs map-side with a k-row heap per stratum per
    task. One shuffle on the stratum key."""
    d = _t(spark, sf_dir, "documents")
    prio = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rsv")))
    w = Window.partitionBy("lang", "source").orderBy("priority", "doc_id")
    return (
        d.select("lang", "source", "doc_id", "n_chars", prio.alias("priority"))
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 5)
        .select("lang", "source", "pick", "doc_id", "n_chars", "priority")
    )


# --- reshape: behaviour sequences --------------------------------------------


def reshape_user_sequences(spark, sf_dir):
    """Per-user ordered event-type sequence (first 20 events by (ts,
    event_id)), the canonical behaviour-sequence construction for
    sequence-model training: `click>view>purchase>...` plus the
    user's TOTAL event count and a truncation flag.

    One shuffle on user_id; the 20-event cap bounds both the string
    and the per-group state (unbounded collect_list is the classic
    sequence-builder OOM at 100 TB). The ordered aggregation is
    array_sort(collect_list(struct(rn, type))) — sorts ≤20 elements
    per user, engine-portable, no ordered-agg dependency."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select("user_id", "event_type", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("n_events", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
    agg = (
        r.filter(F.col("rn") <= 20)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("seq"),
        )
    )
    return agg.select(
        "user_id", "n_events", "seq", (F.col("n_events") > 20).alias("truncated")
    )


# --- stats: chi-square independence ------------------------------------------


def stats_chi2_independence(spark, sf_dir):
    """Chi-square contingency between event_type and 6-hour day-part:
    observed count, expected count under independence (row-total ×
    col-total / N), and the cell's χ² contribution — the drift test a
    pipeline runs to decide whether a categorical and a time bucket
    are independent (a feature whose distribution moves with daypart
    leaks time into the model).

    One (type, daypart) aggregation (|types|×4 rows at ANY corpus
    size) + two broadcast marginals; all counts are exact integers, so
    expected = (rt·ct)/N and the contribution divide identical doubles
    on both engines. Day-part derives from integer epoch-second
    arithmetic, UTC-pinned."""
    ev = _t(spark, sf_dir, "events")
    esec = F.col("ts").cast("long")
    part = F.pmod(F.floor(esec / 21600), F.lit(4)).cast("int")
    # persist + eager count (r13): the |types|×4 contingency table
    # feeds FOUR parentless branches (row marginal, column marginal,
    # grand total, and the output join) — un-persisted, each re-scanned
    # events and re-ran the corpus aggregation (4 parquet scans -> 1).
    obs = persist_scoped(
        ev.select("event_type", part.alias("daypart"))
        .groupBy("event_type", "daypart")
        .agg(F.count(F.lit(1)).alias("obs")),
        eager=True,
    )
    rt = obs.groupBy("event_type").agg(F.sum("obs").alias("rt"))
    ct = obs.groupBy("daypart").agg(F.sum("obs").alias("ct"))
    n = obs.agg(F.sum("obs").alias("n"))
    j = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "daypart")
        .crossJoin(F.broadcast(n))
    )
    exp = (F.col("rt") * F.col("ct")) / F.col("n")
    return j.select(
        "event_type",
        "daypart",
        "obs",
        F.round(exp, 6).alias("expected"),
        F.round((F.col("obs") - exp) * (F.col("obs") - exp) / exp, 6).alias(
            "chi2_contrib"
        ),
    )


# --- events: Hill tail-index estimator ---------------------------------------


def events_hill_tail_index(spark, sf_dir):
    """Hill estimator of the power-law tail index per event_type over
    the top k = 100 positive values: α̂ = k / Σᵢ(ln xᵢ − ln x₍ₖ₊₁₎).
    The heavy-tail dial a value-weighted sampler checks before
    trusting a mean (α ≤ 2 ⇒ infinite variance ⇒ means lie).

    The per-type top-(k+1) is a bounded heap (rank ≤ 101 filter —
    partial top-k, no full sort); log moments snap to integer
    micro-units before summation (the ``text_zipf_alpha`` rule:
    ln's last-ulp may differ between libms, the snapped integers do
    not), so Σ is exact and only the final division is float."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    li = F.round(F.log(F.col("value")) * 1e6, 0).cast("long")
    r = (
        ev.select("event_type", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 101)
        .withColumn("li", li)
    )
    g = r.groupBy("event_type").agg(
        F.sum(F.when(F.col("rn") <= 100, F.col("li"))).alias("sum_top"),
        F.max(F.when(F.col("rn") == 101, F.col("li"))).alias("l_k1"),
        F.count(F.lit(1)).alias("n_got"),
    )
    return (
        # a zero denominator (top 101 values all equal — possible once
        # a type's row count far exceeds the distinct-value domain)
        # drops the group like the n_got < 101 case: Spark's non-ANSI
        # x/0 yields NULL but DuckDB yields inf, so the guard must sit
        # in the predicate, not the division
        g.filter(
            (F.col("n_got") == 101)
            & (F.col("sum_top") - 100 * F.col("l_k1") > 0)
        )
        .select(
            "event_type",
            F.lit(100).alias("k"),
            F.round(
                100e6 / (F.col("sum_top") - 100 * F.col("l_k1")), 6
            ).alias("hill_alpha"),
        )
    )


# --- agg: Shannon entropy per cohort -----------------------------------------


def agg_group_entropy(spark, sf_dir):
    """Shannon entropy (bits) of the event-type mix per user cohort
    (cohort = user_id mod 10) — the diversity score a curriculum /
    mixture designer tracks per slice (a cohort collapsing to one
    event type is a logging bug or a bot).

    Two integer-count aggregations ((cohort,type) then cohort);
    per-term p·log₂p snaps to integer micro-units BEFORE the
    per-cohort sum, so the entropy is evaluation-order-proof. Result
    rows = 10 at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.select(F.pmod(F.col("user_id"), F.lit(10)).cast("int").alias("cohort"),
                  "event_type")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = c.groupBy("cohort").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    term = F.round(-(p * F.log2(p)) * 1e6, 0).cast("long")
    j = c.join(F.broadcast(n), "cohort").select(
        "cohort", "n", term.alias("term"), "c"
    )
    return (
        j.groupBy("cohort")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(F.sum("term") / 1e6, 6).alias("entropy_bits"),
        )
    )


# --- table: freshness report -------------------------------------------------


def table_freshness_report(spark, sf_dir):
    """Per-event-type freshness: newest record, lag behind the
    GLOBAL newest record (µs, exact integer), and the share of the
    type's rows inside the global last-24h window — the ops table a
    scheduler reads before trusting a partition ("type X stopped 3
    days ago" is an ingest outage, not a quiet day).

    One per-type aggregation + a one-row broadcast of the global max;
    timestamps compare as exact int64 microseconds (no float time
    math). Result rows = |types| at any corpus size."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    gmax = ev.agg(F.max("ts").alias("gmax"))
    per = (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("newest"),
            F.sum(
                F.when(
                    F.unix_micros(F.col("gmax")) - F.unix_micros(F.col("ts"))
                    <= 86400_000_000,
                    1,
                ).otherwise(0)
            ).alias("n_last_24h"),
            F.max(F.unix_micros(F.col("gmax"))).alias("gm"),
        )
    )
    return per.select(
        "event_type",
        "n_events",
        "newest",
        (F.col("gm") - F.unix_micros(F.col("newest"))).alias("lag_us"),
        "n_last_24h",
        F.round(F.col("n_last_24h") / F.col("n_events"), 6).alias("share_last_24h"),
    )


# --- text: code-likeness detection -------------------------------------------


def text_code_detect(spark, sf_dir):
    """Code-likeness profile per (lang, source): mean code-symbol
    density ({}();=<>[] chars / n_chars) and the share of documents
    over a 2% density threshold — the filter a natural-language
    corpus runs to quarantine source-code contamination (code in a
    prose corpus shifts token statistics and poisons language-ID).

    Pure codegen scan, zero pre-aggregation shuffle: symbol counts
    come from length-difference after `translate` delete (a per-char
    map lookup, 12× faster than the regexp_replace strip it replaced;
    the DuckDB oracle keeps the regex with its 'g' flag — identical
    counts either way). Per-doc densities
    snap to integer micro-units before the mean, so the aggregate is
    evaluation-order-proof. Zero-length docs are excluded up front:
    sym/0 is NULL on Spark but NaN on DuckDB (whose round→BIGINT cast
    then errors), and a NULL density row would silently skew the mean
    by staying in n_docs while dropping out of the sum."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # translate delete-and-measure (12× vs regexp strip, PLANS.md r6);
    # the DuckDB oracle keeps the regex form — identical counts
    sym = translate_count(F.col("text"), "{}()[];=<>")
    di = F.round(sym * F.lit(1e6) / F.col("n_chars"), 0).cast("long")
    base = d.select(
        "lang", "source", di.alias("di"), sym.alias("sym")
    )
    g = base.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("sym").alias("n_sym_chars"),
        F.sum("di").alias("sdi"),
        F.sum(F.when(F.col("di") > 20000, 1).otherwise(0)).alias("n_flagged"),
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_sym_chars",
        F.round(F.col("sdi") / F.col("n_docs") / 1e6, 6).alias("mean_sym_density"),
        "n_flagged",
        F.round(F.col("n_flagged") / F.col("n_docs"), 6).alias("flagged_share"),
    )


# --- dedup: normalized-prefix clustering -------------------------------------


def dedup_prefix_cluster(spark, sf_dir):
    """Prefix-cluster dedup profile: md5 over the first 64 chars of
    normalized text groups documents that share an opening (truncated
    /extended/re-crawled variants that EXACT dedup misses because the
    tails differ). Reported as counts-of-counts (cluster size →
    number of clusters, docs, distinct sources) — the shape diagnostic
    that says "this corpus has 40k 2-doc prefix families" without
    materializing pairs.

    One fingerprint aggregation (map-side combined) + one tiny
    counts-of-counts aggregation; no joins, no pair space at all —
    this is the O(n) front-door before any pairwise detector runs."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.substring(normalized_text(F.col("text")), 1, 64))
    per = d.select(fp.alias("fp"), "source").groupBy("fp").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        per.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            F.max("n_sources").alias("max_sources_in_cluster"),
        )
    )


# --- text: vocabulary coverage curve -----------------------------------------


def text_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: share of the corpus token mass
    covered by the top-{10, 100, 1000, 5000} terms — the table that
    sizes a tokenizer vocabulary (if 5k terms cover 98%, a 64k vocab
    buys nothing but embedding rows).

    Term counting is one shuffle; the rank is a window over the
    VOCABULARY (corpus-size-independent, and the two-phase
    ``reshape_global_ordinal`` pattern replaces it if the vocab ever
    outgrows one pass). Checkpoint sums are integer-exact
    conditionals off one ranked frame."""
    d = _t(spark, sf_dir, "documents")
    terms = (
        d.select(F.explode(_alnum_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = terms.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("term"))),
    )
    cps = [10, 100, 1000, 5000]
    agg = ranked.agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
        *[
            F.sum(F.when(F.col("r") <= cp, F.col("c")).otherwise(0)).alias(
                f"cov{cp}"
            )
            for cp in cps
        ],
    )
    stacked = agg.select(
        "total",
        "vocab",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cp).alias("top_n"), F.col(f"cov{cp}").alias("covered")
                    )
                    for cp in cps
                ]
            )
        ).alias("s"),
    )
    return stacked.select(
        F.col("s.top_n").alias("top_n"),
        F.col("vocab").alias("vocab_size"),
        F.col("s.covered").alias("covered_tokens"),
        F.col("total").alias("total_tokens"),
        F.round(F.col("s.covered") / F.col("total"), 6).alias("coverage"),
    )


# --- window: distribution functions ------------------------------------------


def window_distribution_functions(spark, sf_dir):
    """percent_rank / cume_dist / ntile(10) of order value within
    order priority — the distribution-function window family (SURVEY
    §2.5; the reference parses OVER but cannot execute it,
    include/expression.hpp:112). The ORDER BY carries (cents,
    o_orderkey), a unique key, so rank ties — the classic
    nondeterminism in percent_rank — cannot occur, and both engines
    produce identical (n-1)-denominator ranks. Output keeps every
    37th order: the window computes over FULL partitions (filter
    applied above the window, checked by the predicate placement),
    the report stays bounded.

    Scale shape (r8 — formerly the sf-bounded diagnostic): the unique
    (cents, o_orderkey) order means every distribution function is a
    CLOSED FORM of (rank, n) — percent_rank = (rank−1)/(n−1),
    cume_dist = rank/n (no peers under a unique order), ntile(10) via
    the integer-DIV bucket formula ``events_equidepth_quantiles``
    uses — so one grouped_global_rank ($250 cent chunks) replaces the
    per-group sort on the 5-value key. ``window_distribution_binned``
    remains the cheaper approximate path (its probe-side filter pushes
    below the join, which any exact rank structurally cannot allow)."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    ranked = grouped_global_rank(
        o.select("o_orderpriority", "o_orderkey", cents.alias("cents")),
        "o_orderpriority",
        ["cents", "o_orderkey"],
        (F.col("cents") / _GINI_BUCKET_CENTS).cast("long"),
        rank_col="rnk",
        n_col="n",
    )
    r = (
        ranked.withColumn(
            "pr",
            (F.col("rnk") - 1).cast("double")
            / F.greatest(F.col("n") - 1, F.lit(1)).cast("double"),
        )
        .withColumn("cd", F.col("rnk").cast("double") / F.col("n").cast("double"))
        .withColumn(
            "decile",
            F.expr(
                "CASE WHEN rnk <= (n % 10) * (n DIV 10 + 1) "
                "THEN (rnk + (n DIV 10)) DIV (n DIV 10 + 1) "
                "ELSE (n % 10) + (rnk - (n % 10) * (n DIV 10 + 1) + (n DIV 10) - 1) "
                "DIV (n DIV 10) END"
            ).cast("int"),
        )
    )
    return r.filter(F.col("o_orderkey") % 37 == 0).select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("cents") / 100.0, 2).alias("order_value"),
        F.round("pr", 6).alias("pct_rank"),
        F.round("cd", 6).alias("cume_dist"),
        "decile",
    )


def window_distribution_binned(spark, sf_dir):
    """Sort-free approximate ECDF — the 100 TB path for the
    distribution-function window family. The exact entry
    (``window_distribution_functions``) is a per-group sort of the
    whole fact table (honest cost 13.7s at 20M rows); this one builds
    a binned ECDF instead: one partial-agg shuffle to (group, $250
    bucket) counts, a cumulative window over the ≤few-thousand bucket
    rows per group, then a broadcast join back onto the (filtered)
    probe rows — the report filter pushes below the join on the probe
    side, which the exact window structurally cannot allow (its
    window must see full partitions). pct_below ≈ percent_rank and
    pct_incl ≈ cume_dist with error bounded by the row's bucket
    occupancy share. All-integer bucket ids and counts make the
    approximation exact-oracle-checkable — DuckDB replays identical
    buckets, cumulatives, and final doubles."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rows = o.select(
        "o_orderpriority",
        "o_orderkey",
        cents.alias("cents"),
        F.floor(cents / F.lit(_GINI_BUCKET_CENTS)).cast("long").alias("bucket"),
    )
    b = rows.groupBy("o_orderpriority", "bucket").agg(F.count(F.lit(1)).alias("nb"))
    wb = Window.partitionBy("o_orderpriority").orderBy("bucket")
    ecdf = b.select(
        "o_orderpriority",
        "bucket",
        "nb",
        (F.sum("nb").over(wb) - F.col("nb")).alias("cum_below"),
        F.sum("nb").over(wb).alias("cum_incl"),
        F.sum("nb").over(Window.partitionBy("o_orderpriority")).alias("n_total"),
    )
    probe = rows.filter(F.col("o_orderkey") % 37 == 0)
    j = probe.join(F.broadcast(ecdf), ["o_orderpriority", "bucket"])
    return j.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("cents") / 100.0, 2).alias("order_value"),
        "bucket",
        F.round(F.col("cum_below") / F.col("n_total"), 6).alias("pct_below"),
        F.round(F.col("cum_incl") / F.col("n_total"), 6).alias("pct_incl"),
    )


# --- graph: neighbour-set Jaccard --------------------------------------------

# wedge-center degree cap; 1M = non-binding at oracle scale (DuckDB
# replays the full sum), dropped to O(100) on dense production graphs
_JACCARD_CENTER_CAP = 1_000_000


def graph_neighbor_jaccard(spark, sf_dir):
    """Neighbour-set Jaccard for user pairs with ≥2 common neighbours
    in the interaction graph: |N(u)∩N(v)| / |N(u)∪N(v)| — structural
    role similarity (two users who touch the same crowd), the
    set-overlap sibling of ``graph_adamic_adar``'s weighted score.

    Same wedge enumeration as Adamic-Adar (and the same shared
    ``_user_edges`` derivation): Σ deg(z)² work centred on z, bounded
    by a hub-CENTER degree cap (a hub's wedges are pure noise for
    role similarity). CONSISTENT capped semantics: when the cap binds,
    hub nodes are removed from the neighbourhoods themselves, so
    deg_u/deg_v count the same non-hub neighbour sets the wedge count
    walks and jaccard stays exactly |N'(u)∩N'(v)| / |N'(u)∪N'(v)| with
    N' = non-hub neighbours (uncapped degrees against capped wedge
    counts would bias the ratio low — r6 advice). The oracle replays
    the identical cap, so the entry stays hash-checkable even on a
    dataset whose max degree exceeds the cap. Integer counts exact;
    the only float is the final ratio."""
    edges = _user_edges(spark, sf_dir)
    # persist + eager count: the directed edge list feeds FIVE branches
    # (full degrees, both wedge sides, capped endpoint degrees via the
    # anti-join) and deriving it means re-running the events lead()
    # window each time — at the 20M replay that re-derivation was 2.5×
    # the whole entry (r7 measurement: 68s cold vs 27s cached). The
    # eager count matters for the same reason as the LSH signature
    # cache: the branches fan out of ONE job, and a cold cache would
    # fill concurrently (the edge window would still run multiple
    # times).
    directed = persist_scoped(
        edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .select(F.col("a").alias("z"), F.col("b").alias("nbr")),
        eager=True,
    )
    full_deg = directed.groupBy("nbr").agg(F.count(F.lit(1)).alias("deg"))
    # center-degree cap: production knob, non-binding on the test
    # graph (the graph_adamic_adar discipline). On DENSE graphs it is
    # the load-bearing bound: the 20M-event/200k-user replay produced
    # 356M candidate pairs uncapped vs a bounded set at cap 64 —
    # wedge output grows with Σ deg(z)², and hub centers say nothing
    # about role similarity anyway. Hubs are identified by FULL degree
    # (the cap's definition), then dropped from every neighbourhood.
    center_deg = full_deg.select(F.col("nbr").alias("z"), F.col("deg").alias("zdeg"))
    capped = directed.join(
        F.broadcast(center_deg.filter(F.col("zdeg") > _JACCARD_CENTER_CAP)),
        "z",
        "left_anti",
    )
    # endpoint degrees over the SAME capped edge set the wedges use
    deg = capped.groupBy("nbr").agg(F.count(F.lit(1)).alias("deg"))
    d1, d2 = capped.alias("d1"), capped.alias("d2")
    common = (
        d1.join(
            d2,
            (F.col("d1.z") == F.col("d2.z")) & (F.col("d1.nbr") < F.col("d2.nbr")),
        )
        .select(F.col("d1.nbr").alias("u"), F.col("d2.nbr").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    j = (
        common.join(deg.select(F.col("nbr").alias("u"), F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("nbr").alias("v"), F.col("deg").alias("deg_v")), "v")
    )
    return j.select(
        "u",
        "v",
        "common",
        "deg_u",
        "deg_v",
        F.round(
            F.col("common")
            / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
            6,
        ).alias("jaccard"),
    )


# --- events: two-proportion A/B z-test ---------------------------------------


def events_ab_welch_ztest(spark, sf_dir):
    """Welch two-sample z-test on purchase value between deterministic
    user arms (arm = user_id mod 2) — the experiment readout shape:
    per-arm n / mean / variance and z = (m₁−m₀)/√(v₀/n₀ + v₁/n₁). On
    hash-split arms with no treatment the expected z ≈ 0, which makes
    this the A/A sanity test every experimentation pipeline ships
    first (a non-null A/A means the split or the metric is broken).
    A mean-value metric rather than a conversion proportion: with
    dense per-user activity a has-purchased proportion saturates at
    1.0 and the pooled-variance test divides by zero.

    One conditional aggregation folds both arms into ONE result row.
    Moments are exact integers — values snap to centi-units, and the
    SQUARED sums accumulate in DECIMAL(38,0) (5.6e4² per row ≈ 3e9
    crosses int64 around 3e9 rows; decimal keeps the sum exact and
    order-proof to ~1e38, and DuckDB's BIGINT SUM widens to HUGEINT
    natively) — and the mean/variance/z arithmetic runs the identical
    expression tree on identical integers on both engines. NULL
    values/users are filtered up front (the stats_ks_two_sample
    discipline): a NULL value with a valid arm would inflate n while
    being excluded from the moment sums, silently halving the mean."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    arm = F.pmod(F.col("user_id"), F.lit(2)).cast("int")
    si = F.round(F.col("value") * 100, 0).cast("long")
    b = ev.select(arm.alias("arm"), si.alias("si"))
    one = b.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("si"))).alias("s0"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("si").cast("decimal(38,0)") * F.col("si"))
        ).alias("q0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("si"))).alias("s1"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("si").cast("decimal(38,0)") * F.col("si"))
        ).alias("q1"),
    )
    # degenerate-arm guard (r6 advice, the hill-estimator discipline):
    # variance divides by n-1 and z by sqrt(v0/n0 + v1/n1); below two
    # observations per arm Spark's non-ANSI x/0 yields NULL while
    # DuckDB doubles yield inf/NaN — guard on BOTH engines so the
    # entry degrades to zero rows, not an engine divergence. The
    # zero-variance case (both arms constant → z = x/0) is the same
    # divergence class (r7 review), guarded on the EXACT integer
    # moments — n·Σx² = (Σx)² iff the arm is constant; a double-side
    # v0+v1 > 0 test could itself diverge in the last ulp at the
    # boundary. DECIMAL(38,0) products: s² ≤ ~2.5e31 at 1e9 rows.
    s0d = F.col("s0").cast("decimal(38,0)")
    s1d = F.col("s1").cast("decimal(38,0)")
    varsum = (
        F.col("n0") * F.col("q0")
        - s0d * s0d
        + F.col("n1") * F.col("q1")
        - s1d * s1d
    )
    one = one.filter((F.col("n0") > 1) & (F.col("n1") > 1) & (varsum > 0))
    m0 = F.col("s0") / (100.0 * F.col("n0"))
    m1 = F.col("s1") / (100.0 * F.col("n1"))
    v0 = (F.col("q0") / 1e4 - F.col("n0") * m0 * m0) / (F.col("n0") - 1)
    v1 = (F.col("q1") / 1e4 - F.col("n1") * m1 * m1) / (F.col("n1") - 1)
    z = (m1 - m0) / F.sqrt(v0 / F.col("n0") + v1 / F.col("n1"))
    return one.select(
        "n0",
        F.round(m0, 6).alias("mean0"),
        F.round(v0, 6).alias("var0"),
        "n1",
        F.round(m1, 6).alias("mean1"),
        F.round(v1, 6).alias("var1"),
        F.round(z, 6).alias("z_score"),
    )


def stats_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov distance on purchase value
    between deterministic user arms (arm = user_id mod 2) — the
    SHAPE-drift companion to events_ab_welch_ztest's mean test: a
    mixture change that leaves the mean intact (heavier tail + more
    zeros) is invisible to z but moves D = max |ECDF₀ − ECDF₁|. On
    hash-split arms the expected D is ~0 (the A/A reading); the same
    plan pointed at source-vs-source computes ingest drift.

    Exactness: values snap to integer cents, the ECDF compare runs on
    the integer cross-products |cumₐ·n₁ − cum_b·n₀| (DECIMAL(38,0) —
    cum·n crosses int64 near 3e9 rows/arm; DuckDB uses HUGEINT), and
    only the final divisions are float. The argmax row is pinned by
    (diff DESC, cents ASC), so ties resolve identically on both
    engines.

    Scale shape: one map-side-combined groupBy on the raw events
    collapses the stream to ≤~49k rows (one per distinct cent value —
    bounded by the VALUE DOMAIN, not the corpus), and the cumulative
    window + argmax run over that bounded frame (same discipline as
    text_zipf_alpha's 50-row window). ks_stat is the
    √(n₀n₁/(n₀+n₁))·D normalization a drift monitor thresholds."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    arm = F.pmod(F.col("user_id"), F.lit(2)).cast("int")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    d = (
        ev.select(arm.alias("arm"), cents.alias("cents"))
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("cb"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    # arm totals fold into the SAME bounded window pass (unbounded
    # frame) — a separate d.agg() would re-scan the raw events, and
    # at 100 TB the second scan, not the ≤49k-row window, is the cost
    wall = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = d.select(
        "cents",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wall).alias("n0"),
        F.sum("cb").over(wall).alias("n1"),
    )
    diff = F.abs(
        F.col("cum_a").cast("decimal(38,0)") * F.col("n1")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n0")
    )
    r = j.select("cents", "n0", "n1", diff.alias("dnum"))
    pick = Window.orderBy(F.desc("dnum"), F.asc("cents"))
    # empty-arm guard (r6 advice): ks divides by n0*n1 — an empty arm
    # makes Spark's non-ANSI x/0 NULL but DuckDB inf/NaN. Unlike the
    # Welch entry there is no n-1, so n ≥ 1 per arm is sufficient:
    # a one-observation ECDF is well-defined.
    top = (
        r.filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
    )
    ks = F.col("dnum").cast("double") / (
        F.col("n0").cast("double") * F.col("n1")
    )
    return top.select(
        "n0",
        "n1",
        F.round(ks, 6).alias("ks_d"),
        F.round(F.col("cents") / 100.0, 2).alias("ks_at_value"),
        F.round(
            F.sqrt(
                F.col("n0").cast("double")
                * F.col("n1")
                / (F.col("n0") + F.col("n1"))
            )
            * ks,
            6,
        ).alias("ks_stat"),
    )


def stats_mannwhitney_u(spark, sf_dir):
    """Mann–Whitney U rank-sum test (tie-corrected normal
    approximation) comparing click vs purchase event values — the
    NONPARAMETRIC companion to events_ab_welch_ztest (means) and
    stats_ks_two_sample (shape): U asks "does one arm stochastically
    dominate the other" without assuming any distribution, the test a
    pipeline reaches for when value is heavy-tailed enough that means
    are meaningless.

    No global sort: the rank sum needs each value's MIDRANK
    (cum_less + (t+1)/2 for a value tied t times), and midranks are a
    function of per-distinct-value counts alone — so the stream
    collapses to one map-side-combined groupBy on integer cents
    (≤~49k rows, bounded by the VALUE DOMAIN, not the corpus; the
    stats_ks_two_sample discipline) and the cumulative window runs
    over that bounded frame. 2·R_A = Σ ca·(2·cum_less + t + 1) stays
    in DECIMAL(38,0) (it crosses int64 near ~3e9 rows/arm; DuckDB
    HUGEINT), as does the tie term Σ(t³−t) (t³ crosses int64 at
    t≈2e6); only the final z division is float. At 100 TB the plan is
    one scan + one ≤49k-row window — the same shape it is here."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    arm = F.when(F.col("event_type") == "click", 0).otherwise(1)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    d = (
        ev.select(arm.alias("arm"), cents.alias("cents"))
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("cb"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "ca",
        (F.col("ca") + F.col("cb")).alias("cc"),
        (F.sum(F.col("ca") + F.col("cb")).over(w) - (F.col("ca") + F.col("cb"))).alias("cum_less"),
    )
    dec = "decimal(38,0)"
    s = c.agg(
        F.sum("ca").cast("long").alias("n0"),
        F.sum(F.col("cc") - F.col("ca")).cast("long").alias("n1"),
        F.sum(
            F.col("ca").cast(dec) * (2 * F.col("cum_less") + F.col("cc") + 1)
        ).alias("r2"),
        F.sum(
            F.col("cc").cast(dec) * F.col("cc") * F.col("cc") - F.col("cc")
        ).alias("tie_t"),
    )
    f = s.select(
        "n0",
        "n1",
        (F.col("n0") + F.col("n1")).alias("nn"),
        (F.col("r2") - F.col("n0").cast(dec) * (F.col("n0") + 1)).alias("u2"),
        "tie_t",
    )
    n0d = F.col("n0").cast("double")
    nnd = F.col("nn").cast("double")
    # var of U under H0 with tie correction; z from 2U to keep the
    # .5-midrank contributions integral until this final expression
    var = (n0d * F.col("n1") / 12.0) * (
        (F.col("nn") + 1)
        - F.col("tie_t").cast("double") / (nnd * (F.col("nn") - 1))
    )
    z = (F.col("u2").cast("double") - n0d * F.col("n1")) / (2.0 * F.sqrt(var))
    return f.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "n0",
        "n1",
        F.round(F.col("u2").cast("double") / 2.0, 2).alias("u_stat"),
        F.when(var > 0, F.round(z, 6)).alias("z_score"),
    )


_BH_ALPHA = 0.05
_INV_SQRT2 = 0.7071067811865476


def _normal_two_sided_p(z):
    """2·(1−Φ(|z|)) = erfc(|z|/√2) via Abramowitz & Stegun 7.1.26
    (max abs error 1.5e-7 — far inside the 6-dp rounding). The SAME
    literal coefficients and association run on both engines; exp()
    may differ by 1 ulp between libms, which flips a 6-dp rounding
    only on a measure-zero boundary."""
    x = F.abs(z) * F.lit(_INV_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    return poly * F.exp(-(x * x))


def stats_bh_fdr(spark, sf_dir):
    """Benjamini–Hochberg FDR control over a FAMILY of tests — the
    step the single-test entries (Welch, KS, U) stop short of: run a
    per-source Welch z-test of mean document length vs the rest of
    the corpus (20 sources → 20 p-values) and select the significant
    set at FDR α = 0.05 by the step-up rule (largest k with p₍ₖ₎ ≤
    k·α/m; reject ranks 1..k). This is the multiple-testing guard a
    drift dashboard needs the moment it watches more than one segment
    — at α = .05 a 20-segment scorecard fires a false alarm every run
    without it.

    Exactness: per-source moments are the events_ab_welch_ztest
    discipline (integer n_chars sums; squared sums in DECIMAL(38,0) /
    HUGEINT); the rest-of-corpus moments derive from one broadcast
    totals row by subtraction, so the corpus is scanned ONCE. p-values
    come from the A&S erfc polynomial (same literals both engines).
    The BH walk (row_number, running max) runs over the
    |sources|-row aggregate — bounded by the SEGMENT domain, the
    stats_ks_two_sample window discipline."""
    docs = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars").cast(dec) * F.col("n_chars")).alias("q"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.sum("q").alias("tq")
    )
    m = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        "s",
        "q",
        (F.col("tn") - F.col("n")).alias("nr"),
        (F.col("ts") - F.col("s")).alias("sr"),
        (F.col("tq") - F.col("q")).alias("qr"),
    ).filter((F.col("n") >= 2) & (F.col("nr") >= 2))
    mean_s = F.col("s").cast("double") / F.col("n")
    var_s = (
        F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    mean_r = F.col("sr").cast("double") / F.col("nr")
    var_r = (
        F.col("qr").cast("double")
        - F.col("sr").cast("double") * F.col("sr") / F.col("nr")
    ) / (F.col("nr") - 1)
    zc = m.select(
        "source", "n", mean_s.alias("mean_s"), var_s.alias("var_s"),
        mean_r.alias("mean_r"), var_r.alias("var_r"), "nr",
    )
    se2 = F.col("var_s") / F.col("n") + F.col("var_r") / F.col("nr")
    zz = zc.filter(se2 > 0).select(
        "source", "n", "mean_s",
        ((F.col("mean_s") - F.col("mean_r")) / F.sqrt(se2)).alias("z"),
    )
    pp = zz.select("source", "n", "mean_s", "z", _normal_two_sided_p(F.col("z")).alias("p"))
    w_rank = Window.orderBy("p", "source")
    wall = Window.orderBy("p", "source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bh = pp.select(
        "source", "n", "mean_s", "z", "p",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("mm"),
    )
    kmax = F.max(
        F.when(F.col("p") <= F.col("rn") * _BH_ALPHA / F.col("mm"), F.col("rn"))
    ).over(wall)
    return bh.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round("mean_s", 6).alias("mean_chars"),
        F.round("z", 6).alias("z_score"),
        F.round("p", 6).alias("p_value"),
        F.col("rn").cast("long").alias("bh_rank"),
        (F.col("rn") <= F.coalesce(kmax, F.lit(0))).alias("significant"),
    ).orderBy("bh_rank")


def stats_poisson_rate_test(spark, sf_dir):
    """Two-sample Poisson rate test on the error-event stream — did
    the error RATE change between the first and second half of the
    observation window? The ops-alerting staple the value-based tests
    (Welch/KS/U) don't cover: counts against exposure time. Uses the
    conditional binomial form (Przyborowski & Wilenski 1940; Lehmann
    TSH §4.5): under H0 equal rates, c₁ | (c₁+c₂) ~ Binomial(C, p₀)
    with p₀ = t₁/(t₁+t₂), so z = (c₁ − C·p₀)/√(C·p₀(1−p₀)) and the
    two-sided p reuses the A&S erfc polynomial — no rate variance
    estimate needed.

    Exactness: the split point is the integer-microsecond midpoint of
    the FULL event stream's [min, max] (deterministic, independent of
    the tested type); exposures and counts are exact integers; p₀, z,
    p are the only float steps and run the identical expression tree
    on both engines. One aggregate over the corpus computes split
    bounds; one conditional aggregate computes both counts — two
    scans total, both map-side-combined to single rows."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).select(
        "mn", "mx", F.expr("(mn + mx) div 2").alias("mid")
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.unix_micros("ts").alias("us")
    )
    counts = err.crossJoin(F.broadcast(bounds)).agg(
        F.sum(F.when(F.col("us") < F.col("mid"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("us") >= F.col("mid"), 1).otherwise(0)).alias("c2"),
        F.max("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.max("mid").alias("mid"),
    )
    t1 = (F.col("mid") - F.col("mn")).cast("double")
    t2 = (F.col("mx") - F.col("mid")).cast("double")
    cc = (F.col("c1") + F.col("c2")).cast("double")
    p0 = t1 / (t1 + t2)
    z = (F.col("c1") - cc * p0) / F.sqrt(cc * p0 * (1.0 - p0))
    rate_ratio = (F.col("c1") / t1) / (F.col("c2") / t2)
    return counts.filter(
        (F.col("c1") + F.col("c2") > 0) & (F.col("mid") > F.col("mn")) & (F.col("mx") > F.col("mid"))
    ).select(
        F.col("c1").cast("long").alias("n_before"),
        F.col("c2").cast("long").alias("n_after"),
        F.when(F.col("c2") > 0, F.round(rate_ratio, 6)).alias("rate_ratio"),
        F.round(z, 6).alias("z_score"),
        F.round(_normal_two_sided_p(z), 6).alias("p_value"),
    )


_PSI_BUCKET_CENTS = 2500  # $25 buckets — ≤~20 over the value domain


def events_psi_value_drift(spark, sf_dir):
    """Population Stability Index of purchase-value distribution, each
    event type vs the REST of the corpus — the per-source drift
    scorecard a mixture owner reads before reweighting: PSI < 0.1
    stable, 0.1–0.25 drifting, > 0.25 broken (the credit-scoring
    thresholds). PSI = Σ_buckets (pₐ−p_b)·ln(pₐ/p_b) over $25 value
    buckets; every term is ≥ 0, and buckets where either side is
    empty are EXCLUDED and counted in n_buckets_zero instead of being
    epsilon-fudged (an epsilon turns structural zeros into unbounded
    log terms).

    Exactness: shares are ratios of exact integer counts, so both
    engines feed ln() the identical double; each bucket's
    contribution snaps to integer micro-units BEFORE the sum (the
    text_zipf_alpha micro-snapped-log-moment discipline — integer
    sums are order-proof, double sums are not; all terms are
    non-negative so HALF_UP and round-half-away agree).

    Scale shape: ONE map-side-combined groupBy collapses the corpus
    to (type × bucket) rows — buckets are bounded by the VALUE
    DOMAIN (~20 at $25 width), types by the taxonomy, so the grid,
    rest-shares, and PSI fold all run over O(types·buckets) rows no
    matter the corpus size. No second scan, no window over raw rows."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100, 0).cast("long")
    bucket = F.floor(cents / F.lit(_PSI_BUCKET_CENTS)).cast("long")
    # persist + eager count (r13): this O(types × buckets) aggregate —
    # bounded by taxonomy × value domain at any corpus size — feeds SIX
    # parentless branches (types, buckets, the grid left-join,
    # per_bucket, per_type, n_total), each of which re-scanned events
    # and re-ran the corpus aggregation in the r12 plan (6 parquet
    # scans -> 1).
    g = persist_scoped(
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_tb")),
        eager=True,
    )
    types = g.select("event_type").distinct()
    buckets = g.select("bucket").distinct()
    full = (
        types.crossJoin(buckets)
        .join(g, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_tb", F.lit(0)).alias("n_tb"),
        )
    )
    per_bucket = g.groupBy("bucket").agg(F.sum("n_tb").alias("n_b"))
    per_type = g.groupBy("event_type").agg(F.sum("n_tb").alias("n_t"))
    n_total = g.agg(F.sum("n_tb").alias("n_all"))
    j = (
        full.join(per_bucket, "bucket")
        .join(per_type, "event_type")
        .crossJoin(F.broadcast(n_total))
    )
    # the snap/zero discipline is single-sourced in streaming/drift.py
    # (psi_usable/psi_snapped_term) — the three PSI surfaces must not
    # hand-keep divergent copies (r7 review finding)
    from warpdb_spark.streaming.drift import psi_snapped_term, psi_usable

    n_rest_b = F.col("n_b") - F.col("n_tb")
    n_rest = F.col("n_all") - F.col("n_t")
    usable = psi_usable(F.col("n_tb"), n_rest_b)
    contrib = psi_snapped_term(F.col("n_tb"), n_rest_b, F.col("n_t"), n_rest)
    return (
        j.groupBy("event_type")
        .agg(
            F.max("n_t").alias("n_type"),
            F.max(n_rest).alias("n_rest"),
            F.sum(F.when(usable, 1).otherwise(0)).alias("n_buckets_used"),
            F.sum(F.when(~usable, 1).otherwise(0)).alias("n_buckets_zero"),
            F.round(
                F.sum(F.when(usable, contrib).otherwise(0)) / 1e6, 6
            ).alias("psi"),
        )
    )


# --- join: Bloom-filter semi-join reduction (runtime-filter pattern) ---------

_BLOOM_BITS = 1 << 16  # m: fixed bitmap size; FPR rises with |dim|, size doesn't
_BLOOM_WORD = 30  # bits per word — stays positive, so /2^b arithmetic is exact
_BLOOM_K = 3  # hash functions; FPR ≈ (1 − e^{−kn/m})^k


def _bloom_u32(col, salt: int):
    """Engine-portable u32 hash: first 8 md5 hex digits of 'key:salt'
    (the sample_weighted idiom — DuckDB replays it bit-for-bit)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", col.cast("string"), F.lit(str(salt)))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def _bloom_xxhash_u32(col, salt: int):
    """Production-grade position hash: JVM xxhash64 folded to u32 —
    whole-stage-codegen'd, ~40× cheaper than the md5-hex path. NOT
    DuckDB-replayable (no xxhash64 there), so the oracle-checked
    entries use ``_bloom_u32``; replays use this to price the real
    thing (tools/replay_bloom_partitioned.py)."""
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1 << 32))


def _bloom_words(dim, key: str, m: int, hash_fn=_bloom_u32):
    """(widx, word) bitmap rows for ``dim[key]``: k salted u32
    positions per key (md5-hex by default — engine-portable), OR-folded
    into 30-bit words (positive, so the /2^b bit test is exact double
    arithmetic on both engines)."""
    pos = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(hash_fn(F.col(key), i), F.lit(m))
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.floor(F.col("pos") / _BLOOM_WORD).alias("widx"),
            F.pow(F.lit(2.0), F.pmod(F.col("pos"), F.lit(_BLOOM_WORD)))
            .cast("long")
            .alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("word"))
    )


def _bloom_probe(fact, words, key: str, m: int, broadcast: bool = True,
                 hash_fn=_bloom_u32):
    """Prefilter ``fact`` rows whose ``key`` sets all k bloom bits.

    ``broadcast=True`` ships the bitmap to every task (the ≤⌈m/30⌉-row
    regime); ``broadcast=False`` is the post-broadcast strategy — each
    probe is a SHUFFLE hash join, i.e. the fact side repartitions on
    word_idx and the bitmap partitions once, so nothing need fit on
    one machine. Identical results either way; only the exchange
    strategy differs."""
    for i in range(_BLOOM_K):
        p = F.pmod(hash_fn(F.col(key), i), F.lit(m))
        fact = fact.withColumn(f"w{i}", F.floor(p / _BLOOM_WORD)).withColumn(
            f"b{i}", F.pmod(p, F.lit(_BLOOM_WORD))
        )
        wi = words.select(F.col("widx").alias(f"w{i}"), F.col("word").alias(f"word{i}"))
        wi = F.broadcast(wi) if broadcast else wi.hint("shuffle_hash")
        fact = fact.join(wi, f"w{i}", "left").filter(
            F.pmod(
                F.floor(
                    F.coalesce(F.col(f"word{i}"), F.lit(0))
                    / F.pow(F.lit(2.0), F.col(f"b{i}"))
                ),
                F.lit(2),
            )
            == 1
        )
    return fact


def join_bloom_prefilter(spark, sf_dir):
    """Bloom-filter semi-join reduction — the runtime-filter pattern
    Spark's AQE applies under `spark.sql.optimizer.runtime.bloomFilter`
    (the expressions behind it, BloomFilterAggregate/might_contain, are
    not in the public registry, so this builds the portable version):
    urgent orders' keys are folded into a FIXED 64 Kbit bitmap, the
    100×-bigger lineitem side is prefiltered against it BEFORE the join
    shuffle, and the exact join then removes the bloom's false
    positives. Why not just broadcast the keys? A 1e9-key build side
    is ~8 GB as a hash set but the bitmap stays 8 KB at any |dim| (FPR
    rising instead) — the bloom is what you ship when the build side
    outgrows the broadcast budget but its KEY SET still compresses.

    Fully distributed: the bitmap lives as a ≤⌈m/30⌉-row (word_idx,
    word) table — 30-bit words keep every value positive so the bit
    test is exact double arithmetic (word/2^b only shifts the
    exponent; no engine-specific shift builtins) — and each of the k=3
    probes is a broadcast hash join against it; no driver collect
    anywhere. Spark's cast(double AS long) TRUNCATES while DuckDB's
    CAST ROUNDS, so every word index takes an explicit floor() on both
    engines (found as a 5-row divergence at sf0.01: positions with
    pos/30 fractional part ≥ .5 landed in different words).

    The output exposes the filter's work: n_bloom_pass − n_matched is
    the false-positive count (≈0.2% of non-matching rows at sf0.01 —
    kn/m = 0.14), and the oracle replays the ENTIRE bloom path, not
    just the final join, so the driver hash-checks the bitmap itself."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    words = _bloom_words(dim, "o_orderkey", _BLOOM_BITS)
    fact = li.select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    fact = _bloom_probe(fact, words, "l_orderkey", _BLOOM_BITS, broadcast=True)
    joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey, "left")
    return _bloom_report(joined)


def _bloom_report(joined):
    """Shared report tail: bloom-pass/match counts + exact revenue."""
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("o_orderkey").isNotNull(), 1).otherwise(0)).alias(
            "n_matched"
        ),
        # revenue snaps the per-row product to integer cents BEFORE the
        # sum (the module's money rule: integer sums are
        # evaluation-order-proof, double sums are not; the per-row
        # product is the identical IEEE double on both engines and
        # never lands on an exact half-cent, so the snap agrees)
        F.round(
            F.sum(
                F.when(
                    F.col("o_orderkey").isNotNull(),
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                        0,
                    ).cast("long"),
                ).otherwise(0)
            )
            / 100.0,
            2,
        ).alias("revenue"),
    )


def join_bloom_prefilter_partitioned(spark, sf_dir):
    """The bloom semi-join's POST-BROADCAST regime — the scale-safe
    variant ``join_bloom_prefilter``'s docstring promises. Same bitmap
    (identical md5 positions, 30-bit words — the oracle replays it
    bit-for-bit with the same SQL as the broadcast entry), but every
    probe is a SHUFFLE hash join: the fact side REPARTITIONS on
    word_idx and the (widx, word) table hash-partitions across the
    cluster instead of shipping whole to every task. This is the
    strategy that survives when the build side outgrows the broadcast
    budget — at ~1e9 build keys a 16-bits/key bitmap is ~533M word
    rows (~8 GB), far past any driver/executor broadcast ceiling, yet
    each of its hash partitions is a few MB. The final exactness join
    against dim is also shuffle-hashed (a 1e9-key dim doesn't
    broadcast either). Probe shuffles move the REDUCED fact: probe 1
    carries the skinny (key, payload, w0..w2, b0..b2) projection;
    probes 2-3 carry only survivors, so volumes shrink with the
    bloom's selectivity (~dim-match rate + FPR). Plan pinned by test:
    3 ShuffledHashJoin probes, zero BroadcastExchange on the bloom
    path; replayed at 4M build keys / 64M-bit bitmap in
    tools/replay_bloom_partitioned.py.

    Reference tie-in: the principled version of the reference's
    multi-GPU range partitioning (src/multi_gpu_utils.cpp:23-60) —
    distribute the filter structure instead of assuming it fits on
    one device."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    words = _bloom_words(dim, "o_orderkey", _BLOOM_BITS)
    fact = li.select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    fact = _bloom_probe(fact, words, "l_orderkey", _BLOOM_BITS, broadcast=False)
    joined = fact.join(
        dim.hint("shuffle_hash"), fact.l_orderkey == dim.o_orderkey, "left"
    )
    return _bloom_report(joined)


def join_key_skew_advisor(spark, sf_dir):
    """Join-key heavy-hitter report with a computed SALT FACTOR — the
    pre-flight diagnostic that feeds ``join_salted_skew``: before
    shuffling a fact table on a key, read the top-10 heaviest keys,
    their share of the table, and ceil(count/mean) — the number of
    salt buckets that levels each hot key back to the average
    partition load. AQE's skew-join split handles moderate skew at
    runtime; the advisor is for the planning decision (pre-salt the
    write, bucket the table, or change the key) that AQE cannot make.

    One map-side-combined groupBy collapses the fact table to
    |keys| rows; the stats ride a one-row broadcast and the top-10
    rank is a window over the BOUNDED per-key frame (the
    text_zipf_alpha discipline), never the raw rows. salt_factor is
    exact integer arithmetic — ceil(n·n_keys/total) in DECIMAL(38,0)
    (n·n_keys crosses int64 around 1e13 rows × 1e7 keys) — so both
    engines emit the identical integer."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(
        F.sum("n_rows").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    j = per.crossJoin(F.broadcast(tot))
    w = Window.orderBy(F.desc("n_rows"), F.asc("l_suppkey"))
    prod = F.col("n_rows").cast("decimal(38,0)") * F.col("n_keys")
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "n_rows",
            F.round(F.col("n_rows") / F.col("total"), 6).alias("share"),
            F.round(prod / F.col("total"), 6)
            .cast("double")
            .alias("ratio_to_mean"),
            F.floor(
                (prod + F.col("total") - 1) / F.col("total")
            )
            .cast("long")
            .alias("salt_factor"),
            F.col("rk").cast("int").alias("rank"),
        )
    )


_DECONTAM_BLOOM_BITS = 1 << 20  # ~0.14 bits-load at sf0.01 eval grams


def bloom_m_for_fpr(n_keys: int, target_fpr: float, k: int = _BLOOM_K) -> int:
    """Bitmap size m (bits) for a bloom with FIXED k hash functions to
    hit ``target_fpr`` on ``n_keys`` keys: FPR(m) = (1 − e^{−k·n/m})^k,
    solved for m as m = k·n / −ln(1 − p^{1/k}). (The textbook
    m = −n·ln p / ln²2 assumes the OPTIMAL k = (m/n)·ln 2; our probe
    count is pinned at k=3 — each probe is a join — so the fixed-k
    form is the one that actually lands on spec.) Rounded up to a
    whole 30-bit word. Examples at k=3: p=0.01 → ~12.4 bits/key,
    p=0.05 → ~7.0 bits/key."""
    import math

    if not (0.0 < target_fpr < 1.0):
        raise ValueError(
            f"target_fpr must be in (0, 1), got {target_fpr} — a bloom "
            "filter cannot promise FPR 0, and FPR >= 1 needs no filter"
        )
    if n_keys < 1:
        raise ValueError(f"n_keys must be >= 1, got {n_keys}")
    m = k * n_keys / -math.log(1.0 - target_fpr ** (1.0 / k))
    return int(math.ceil(m / _BLOOM_WORD)) * _BLOOM_WORD


def decontam_bloom_prefilter(spark, sf_dir):
    """Benchmark decontamination THROUGH the bloom prefilter — the
    100 TB shape of ``decontam_eval_overlap``: that entry broadcasts
    the eval 3-gram set as strings, which works for one benchmark but
    not for the union of every known benchmark (tens of millions of
    grams ≈ GBs as a broadcast string set; as a bloom bitmap, 2
    bits-per-key·8 stays MBs at any FPR you pick). Eval membership is
    the deterministic doc_id % 17 = 0 split; eval grams fold into a
    1 Mbit bitmap (``_bloom_words`` — same 30-bit words and md5
    positions as ``join_bloom_prefilter``, so the oracle replays the
    bitmap), every corpus (doc, gram) pair probes it, and the ≤FPR
    bloom survivors take the EXACT broadcast join that would have been
    the full corpus's cost. Output per corpus doc: distinct grams,
    bloom passes, true eval hits, false positives, and the
    contamination verdict — n_false_pos is the measured FPR the
    deployment reads before sizing m for the real benchmark union.
    Docs with fewer than 3 tokens have no grams and no row (both
    engines derive the report from the gram pairs).

    Sizing m for production: ``bloom_m_for_fpr(n_grams, p)`` — with
    our FIXED k=3 probes, FPR(m) = (1 − e^{−3n/m})³, so
    m = 3n / −ln(1 − p^{1/3}) ≈ 12.4 bits/gram at p=1% (the textbook
    −n·ln p/ln²2 assumes optimal k and undersizes a fixed-k filter).
    The 1 Mbit constant here is pinned so the oracle replays the same
    bitmap at sf0.01; tools/replay_decontam_bloom.py validates the
    rule at a 10M-gram synthetic benchmark union — measured FPR on
    spec, both probe regimes (broadcast bitmap, and the partitioned
    shuffle probe for when even the bitmap outgrows broadcast — the
    out-of-core discipline of the reference's chunked CSV loader,
    src/csv_loader.cpp:186-223, applied to decontamination)."""
    from warpdb_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    grams3 = F.array_distinct(
        T.word_ngrams_from_tokens(T.alnum_tokens(F.col("text")), 3)
    )
    # persist + eager count (r13): the distinct eval-gram set feeds two
    # parentless branches (the bitmap fold and the exact true-hit
    # broadcast) — un-persisted, each re-scanned and re-sharded the
    # eval slice. Bounded by the benchmark-union gram count (the
    # quantity the bitmap exists to compress). The CORPUS side's two
    # passes (tot + probe) are the bloom pattern's documented price
    # (guide §3.2) and stay.
    eval_grams = persist_scoped(
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.explode(grams3).alias("gram"))
        .distinct(),
        eager=True,
    )
    words = _bloom_words(eval_grams, "gram", _DECONTAM_BLOOM_BITS)
    pairs = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", F.explode(grams3).alias("gram")
    )
    tot = pairs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    passed = _bloom_probe(
        pairs, words, "gram", _DECONTAM_BLOOM_BITS, broadcast=True
    )
    hit = passed.join(
        F.broadcast(eval_grams.withColumn("true_hit", F.lit(1))), "gram", "left"
    )
    per_doc = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("true_hit").isNotNull(), 1).otherwise(0)).alias(
            "n_true_hits"
        ),
    )
    return tot.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_bloom_pass", F.lit(0)).alias("n_bloom_pass"),
        F.coalesce("n_true_hits", F.lit(0)).alias("n_true_hits"),
        (
            F.coalesce("n_bloom_pass", F.lit(0))
            - F.coalesce("n_true_hits", F.lit(0))
        ).alias("n_false_pos"),
        (F.coalesce("n_true_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# --- stats: deterministic Poisson bootstrap CI --------------------------------

# Poisson(1) CDF cut points on the u32 hash domain: floor(CDF(k)·2^32)
# for k = 0..6; the residual tail (P ≈ 8.3e-5) truncates to w = 7.
_POIS_CUTS = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
)
_N_BOOT = 64


def stats_bootstrap_poisson_ci(spark, sf_dir):
    """95% bootstrap CI for mean purchase value via the Poisson(1)
    bootstrap — THE bootstrap that scales: resampling n rows with
    replacement needs a global draw, but Poisson(1) counts are
    per-row-independent (multinomial → Poisson approximation), so each
    row mints its B replica weights locally from an engine-portable
    hash and the corpus is never materialized B times off the scan.
    Weights are deterministic: w = inverse-CDF of Poisson(1) applied
    to u32(md5(event_id:b)) via 7 INTEGER cut points (floor(CDF·2^32)
    — the compare is exact integer vs integer, no float CDF on either
    engine), tail truncated at 7 (P ≈ 8e-5, E[w] ≈ 0.99999).

    One exploded pass (×65 CPU, the bootstrap's price) with map-side
    combine collapses to 65 replica rows per task — the shuffle moves
    O(B), not O(n·B); replica b = −1 carries weight 1 everywhere so
    the point estimate rides the SAME scan instead of a second one.
    Weighted moments accumulate w·cents in DECIMAL(38,0) (w ≤ 7 —
    headroom past 1e12 rows; DuckDB widens to HUGEINT natively); the
    CI picks ranks 2 and 63 of the 64 exact replica means (2.5% / 97.5%)
    with ties broken by b, a window over exactly 65 rows.

    Single-branch shape: the point row and the CI ranks fold into ONE
    conditional aggregation over one ranked 65-row frame (b = −1
    sorts last, so rn 1..64 ranks exactly the bootstrap replicas). A
    first cut crossJoined a b = −1 branch with a b ≥ 0 branch — the
    grouping-key filters pushed below each branch's aggregation and
    the plan scanned (and md5-weighted) the raw events TWICE; at
    100 TB the scan is the cost, so the fold is load-bearing (the
    stats_ks_two_sample lesson, reconfirmed by plan audit here)."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    base = ev.select("event_id", cents.alias("cents"))
    b = base.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(-1), F.lit(_N_BOOT - 1))).alias("b"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("event_id").cast("string"), F.col("b").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    wexpr = F.when(F.col("b") == -1, F.lit(1))
    for k, cut in enumerate(_POIS_CUTS):
        wexpr = wexpr.when(u < cut, F.lit(k))
    wexpr = wexpr.otherwise(F.lit(7))
    rep = (
        b.select("b", "cents", wexpr.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("cents")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .withColumn("mean", F.col("swc").cast("double") / (100.0 * F.col("sw")))
    )
    # one ranked pass over the 65-row frame: the b = -1 point row
    # sorts LAST (is_point = 1), so rn 1..64 ranks the replicas
    is_point = (F.col("b") == -1).cast("int")
    rank = Window.orderBy(is_point.asc(), F.asc("mean"), F.asc("b"))
    ranked = rep.withColumn("rn", F.row_number().over(rank))
    return ranked.agg(
        F.max(F.when(F.col("b") == -1, F.col("sw"))).alias("n_rows"),
        F.round(
            F.max(F.when(F.col("b") == -1, F.col("mean"))), 6
        ).alias("point_mean"),
        F.round(F.max(F.when(F.col("rn") == 2, F.col("mean"))), 6).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == _N_BOOT - 1, F.col("mean"))), 6
        ).alias("ci_hi"),
        F.sum(F.when(F.col("b") >= 0, 1).otherwise(0)).alias("n_replicas"),
    )


QUERIES = {
    "agg_gini_by_segment": agg_gini_by_segment,
    "agg_gini_binned": agg_gini_binned,
    "sample_reservoir_per_key": sample_reservoir_per_key,
    "reshape_user_sequences": reshape_user_sequences,
    "stats_chi2_independence": stats_chi2_independence,
    "events_hill_tail_index": events_hill_tail_index,
    "agg_group_entropy": agg_group_entropy,
    "table_freshness_report": table_freshness_report,
    "text_code_detect": text_code_detect,
    "dedup_prefix_cluster": dedup_prefix_cluster,
    "text_vocab_coverage_curve": text_vocab_coverage_curve,
    "window_distribution_functions": window_distribution_functions,
    "window_distribution_binned": window_distribution_binned,
    "graph_neighbor_jaccard": graph_neighbor_jaccard,
    "events_ab_welch_ztest": events_ab_welch_ztest,
    "stats_ks_two_sample": stats_ks_two_sample,
    "stats_mannwhitney_u": stats_mannwhitney_u,
    "stats_bh_fdr": stats_bh_fdr,
    "stats_poisson_rate_test": stats_poisson_rate_test,
    "events_psi_value_drift": events_psi_value_drift,
    "join_bloom_prefilter": join_bloom_prefilter,
    "join_bloom_prefilter_partitioned": join_bloom_prefilter_partitioned,
    "stats_bootstrap_poisson_ci": stats_bootstrap_poisson_ci,
    "decontam_bloom_prefilter": decontam_bloom_prefilter,
    "join_key_skew_advisor": join_key_skew_advisor,
}

_toks = DD_ALNUM_TOKS.format(col="text")

ORACLES = {
    # full bloom-path replay: identical md5 positions, 30-bit words,
    # explicit floor() on word indices (Spark cast truncates, DuckDB
    # CAST rounds), exact /2^b bit tests
    "join_bloom_prefilter": (
        "WITH dim AS (SELECT o_orderkey FROM orders "
        "WHERE o_orderpriority = '1-URGENT'), "
        "pos AS (SELECT (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) "
        f"|| ':' || i), 1, 8))::UBIGINT % {_BLOOM_BITS}) AS pos "
        f"FROM dim CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS i)), "
        "words AS (SELECT CAST(floor(pos / 30) AS BIGINT) AS widx, "
        "bit_or(CAST(power(2, pos % 30) AS BIGINT)) AS word "
        "FROM pos GROUP BY 1), "
        "f AS (SELECT l_orderkey, l_returnflag, l_extendedprice, l_discount, "
        "(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':0'), 1, 8))"
        f"::UBIGINT % {_BLOOM_BITS}) AS p0, "
        "(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':1'), 1, 8))"
        f"::UBIGINT % {_BLOOM_BITS}) AS p1, "
        "(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':2'), 1, 8))"
        f"::UBIGINT % {_BLOOM_BITS}) AS p2 "
        "FROM lineitem), "
        "pass AS (SELECT f.* FROM f "
        "LEFT JOIN words w0 ON w0.widx = CAST(floor(f.p0 / 30) AS BIGINT) "
        "LEFT JOIN words w1 ON w1.widx = CAST(floor(f.p1 / 30) AS BIGINT) "
        "LEFT JOIN words w2 ON w2.widx = CAST(floor(f.p2 / 30) AS BIGINT) "
        "WHERE CAST(floor(coalesce(w0.word, 0) / power(2, f.p0 % 30)) "
        "AS BIGINT) % 2 = 1 "
        "AND CAST(floor(coalesce(w1.word, 0) / power(2, f.p1 % 30)) "
        "AS BIGINT) % 2 = 1 "
        "AND CAST(floor(coalesce(w2.word, 0) / power(2, f.p2 % 30)) "
        "AS BIGINT) % 2 = 1) "
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_bloom_pass, "
        "CAST(sum(CASE WHEN dim.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_matched, "
        "round(CAST(sum(CASE WHEN dim.o_orderkey IS NOT NULL "
        "THEN CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) "
        "ELSE 0 END) AS BIGINT) / 100.0, 2) AS revenue "
        "FROM pass LEFT JOIN dim ON pass.l_orderkey = dim.o_orderkey "
        "GROUP BY l_returnflag"
    ),
    # integer Poisson(1) inverse-CDF weights from the same md5 u32;
    # replica b = -1 is the unit-weight point estimate
    "stats_bootstrap_poisson_ci": (
        "WITH base AS (SELECT event_id, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents "
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), "
        "ex AS (SELECT event_id, cents, b FROM base "
        f"CROSS JOIN (SELECT unnest(range(-1, {_N_BOOT})) AS b)), "
        "wts AS (SELECT b, cents, CASE WHEN b = -1 THEN 1 ELSE (CASE "
        f"WHEN u < {_POIS_CUTS[0]} THEN 0 WHEN u < {_POIS_CUTS[1]} THEN 1 "
        f"WHEN u < {_POIS_CUTS[2]} THEN 2 WHEN u < {_POIS_CUTS[3]} THEN 3 "
        f"WHEN u < {_POIS_CUTS[4]} THEN 4 WHEN u < {_POIS_CUTS[5]} THEN 5 "
        f"WHEN u < {_POIS_CUTS[6]} THEN 6 ELSE 7 END) END AS w "
        "FROM (SELECT *, ('0x' || substr(md5(CAST(event_id AS VARCHAR) "
        "|| ':' || b), 1, 8))::UBIGINT AS u FROM ex)), "
        "rep AS (SELECT b, sum(CAST(w AS HUGEINT) * cents) AS swc, "
        "CAST(sum(w) AS BIGINT) AS sw FROM wts GROUP BY b), "
        "m AS (SELECT b, CAST(swc AS DOUBLE) / (100.0 * sw) AS mean, sw "
        "FROM rep), "
        "ranked AS (SELECT *, row_number() OVER "
        "(ORDER BY CASE WHEN b = -1 THEN 1 ELSE 0 END, mean, b) AS rn "
        "FROM m) "
        "SELECT max(CASE WHEN b = -1 THEN sw END) AS n_rows, "
        "round(max(CASE WHEN b = -1 THEN mean END), 6) AS point_mean, "
        "round(max(CASE WHEN rn = 2 THEN mean END), 6) AS ci_lo, "
        f"round(max(CASE WHEN rn = {_N_BOOT - 1} THEN mean END), 6) AS ci_hi, "
        "CAST(sum(CASE WHEN b >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_replicas "
        "FROM ranked"
    ),
    # integer cross-product ECDF compare; argmax pinned (diff DESC, cents)
    "stats_ks_two_sample": (
        "WITH b AS (SELECT ((user_id % 2) + 2) % 2 AS arm, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents "
        "FROM events WHERE event_type = 'purchase' "
        "AND value IS NOT NULL AND user_id IS NOT NULL), "
        "d AS (SELECT cents, "
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, "
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb "
        "FROM b GROUP BY cents), "
        "c AS (SELECT cents, sum(ca) OVER (ORDER BY cents) AS cum_a, "
        "sum(cb) OVER (ORDER BY cents) AS cum_b, "
        "CAST(sum(ca) OVER () AS BIGINT) AS n0, "
        "CAST(sum(cb) OVER () AS BIGINT) AS n1 FROM d), "
        "r AS (SELECT cents, n0, n1, "
        "abs(CAST(cum_a AS HUGEINT) * n1 - CAST(cum_b AS HUGEINT) * n0) AS dnum "
        "FROM c), "
        "p AS (SELECT *, row_number() OVER (ORDER BY dnum DESC, cents) AS rn "
        "FROM r WHERE n0 > 0 AND n1 > 0) "
        "SELECT n0, n1, "
        "round(CAST(dnum AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6) AS ks_d, "
        "round(cents / 100.0, 2) AS ks_at_value, "
        "round(sqrt(CAST(n0 AS DOUBLE) * n1 / (n0 + n1)) "
        "* (CAST(dnum AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)), 6) AS ks_stat "
        "FROM p WHERE rn = 1"
    ),
    # same integer micro split, same conditional-binomial z, same
    # erfc literals and float association
    "stats_poisson_rate_test": (
        "WITH b AS (SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS mn, "
        "CAST(max(epoch_us(ts)) AS BIGINT) AS mx, "
        "CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT) AS mid "
        "FROM events), "
        "c AS (SELECT CAST(sum(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END) "
        "AS BIGINT) AS c1, "
        "CAST(sum(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END) AS BIGINT) AS c2, "
        "max(mn) AS mn, max(mx) AS mx, max(mid) AS mid "
        "FROM events, b WHERE event_type = 'error'), "
        "f AS (SELECT c1, c2, "
        "CAST(mid - mn AS DOUBLE) AS t1, CAST(mx - mid AS DOUBLE) AS t2, "
        "CAST(c1 + c2 AS DOUBLE) AS cc, mn, mx, mid FROM c), "
        "g AS (SELECT c1, c2, t1, t2, cc, "
        "t1 / (t1 + t2) AS p0 FROM f "
        "WHERE c1 + c2 > 0 AND mid > mn AND mx > mid), "
        "h AS (SELECT c1, c2, t1, t2, cc, p0, "
        "(c1 - cc * p0) / sqrt(cc * p0 * (1.0 - p0)) AS z FROM g), "
        "i AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM "
        f"(SELECT *, abs(z) * {_INV_SQRT2!r} AS x FROM h)) "
        "SELECT c1 AS n_before, c2 AS n_after, "
        "CASE WHEN c2 > 0 THEN round((c1 / t1) / (c2 / t2), 6) END AS rate_ratio, "
        "round(z, 6) AS z_score, "
        "round(((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t "
        "- 0.284496736) * t + 0.254829592) * t * exp(-(x * x)), 6) AS p_value "
        "FROM i"
    ),
    # same integer/HUGEINT moments, same A&S erfc literals, same BH
    # step-up walk over the |sources|-row frame
    "stats_bh_fdr": (
        "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(n_chars) AS BIGINT) AS s, "
        "sum(CAST(n_chars AS HUGEINT) * n_chars) AS q "
        "FROM documents GROUP BY source), "
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, "
        "CAST(sum(s) AS BIGINT) AS ts, sum(q) AS tq FROM per), "
        "m AS (SELECT source, n, s, q, tn - n AS nr, ts - s AS sr, "
        "tq - q AS qr FROM per, tot WHERE n >= 2 AND tn - n >= 2), "
        "zc AS (SELECT source, n, CAST(s AS DOUBLE) / n AS mean_s, "
        "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS var_s, "
        "CAST(sr AS DOUBLE) / nr AS mean_r, "
        "(CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / nr) / (nr - 1) AS var_r, "
        "nr FROM m), "
        "zz AS (SELECT source, n, mean_s, "
        "(mean_s - mean_r) / sqrt(var_s / n + var_r / nr) AS z FROM zc "
        "WHERE var_s / n + var_r / nr > 0), "
        "pp AS (SELECT source, n, mean_s, z, "
        "((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t "
        "- 0.284496736) * t + 0.254829592) * t * exp(-(x * x)) AS p FROM "
        "(SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM "
        f"(SELECT *, abs(z) * {_INV_SQRT2!r} AS x FROM zz))), "
        "bh AS (SELECT source, n, mean_s, z, p, "
        "row_number() OVER (ORDER BY p, source) AS rn, "
        "count(*) OVER () AS mm FROM pp), "
        "k AS (SELECT *, max(CASE WHEN p <= rn * "
        f"{_BH_ALPHA!r} / mm THEN rn END) OVER () AS kmax FROM bh) "
        "SELECT source, n AS n_docs, round(mean_s, 6) AS mean_chars, "
        "round(z, 6) AS z_score, round(p, 6) AS p_value, "
        "CAST(rn AS BIGINT) AS bh_rank, "
        "rn <= COALESCE(kmax, 0) AS significant FROM k ORDER BY bh_rank"
    ),
    # same cents collapse, HUGEINT 2-rank-sum + tie term, identical
    # float association in the final z
    "stats_mannwhitney_u": (
        "WITH b AS (SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS arm, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents "
        "FROM events WHERE event_type IN ('click', 'purchase') "
        "AND value IS NOT NULL), "
        "d AS (SELECT cents, "
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, "
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb "
        "FROM b GROUP BY cents), "
        "c AS (SELECT ca, ca + cb AS cc, "
        "sum(ca + cb) OVER (ORDER BY cents) - (ca + cb) AS cum_less FROM d), "
        "s AS (SELECT CAST(sum(ca) AS BIGINT) AS n0, "
        "CAST(sum(cc - ca) AS BIGINT) AS n1, "
        "sum(CAST(ca AS HUGEINT) * (2 * cum_less + cc + 1)) AS r2, "
        "sum(CAST(cc AS HUGEINT) * cc * cc - cc) AS tie_t FROM c), "
        "f AS (SELECT n0, n1, n0 + n1 AS nn, "
        "r2 - CAST(n0 AS HUGEINT) * (n0 + 1) AS u2, tie_t FROM s) "
        "SELECT n0, n1, "
        "round(CAST(u2 AS DOUBLE) / 2.0, 2) AS u_stat, "
        "CASE WHEN (CAST(n0 AS DOUBLE) * n1 / 12.0) * ((nn + 1) - "
        "CAST(tie_t AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1))) > 0 "
        "THEN round((CAST(u2 AS DOUBLE) - CAST(n0 AS DOUBLE) * n1) / "
        "(2.0 * sqrt((CAST(n0 AS DOUBLE) * n1 / 12.0) * ((nn + 1) - "
        "CAST(tie_t AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1))))), 6) "
        "ELSE NULL END AS z_score "
        "FROM f WHERE n0 > 0 AND n1 > 0"
    ),
    # micro-snapped PSI terms over the (type x bucket) grid
    "events_psi_value_drift": (
        "WITH raw AS (SELECT event_type, "
        "CAST(floor(CAST(round(value * 100, 0) AS BIGINT) "
        f"/ {_PSI_BUCKET_CENTS}.0) AS BIGINT) AS bucket "
        "FROM events WHERE value IS NOT NULL), "
        "g AS (SELECT event_type, bucket, count(*) AS n_tb "
        "FROM raw GROUP BY 1, 2), "
        "grid AS (SELECT t.event_type, k.bucket FROM "
        "(SELECT DISTINCT event_type FROM g) t CROSS JOIN "
        "(SELECT DISTINCT bucket FROM g) k), "
        "f AS (SELECT grid.event_type, grid.bucket, "
        "coalesce(g.n_tb, 0) AS n_tb FROM grid LEFT JOIN g "
        "ON g.event_type = grid.event_type AND g.bucket = grid.bucket), "
        "pb AS (SELECT bucket, sum(n_tb) AS n_b FROM g GROUP BY 1), "
        "pt AS (SELECT event_type, sum(n_tb) AS n_t FROM g GROUP BY 1), "
        "tot AS (SELECT sum(n_tb) AS n_all FROM g), "
        "j AS (SELECT f.event_type, f.n_tb, pb.n_b, pt.n_t, tot.n_all "
        "FROM f JOIN pb USING (bucket) "
        "JOIN pt ON pt.event_type = f.event_type CROSS JOIN tot) "
        "SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_type, "
        "CAST(max(n_all - n_t) AS BIGINT) AS n_rest, "
        "CAST(sum(CASE WHEN n_tb > 0 AND n_b - n_tb > 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_buckets_used, "
        "CAST(sum(CASE WHEN n_tb > 0 AND n_b - n_tb > 0 THEN 0 ELSE 1 END) "
        "AS BIGINT) AS n_buckets_zero, "
        "round(CAST(sum(CASE WHEN n_tb > 0 AND n_b - n_tb > 0 THEN "
        "CAST(round((CAST(n_tb AS DOUBLE) / n_t "
        "- CAST(n_b - n_tb AS DOUBLE) / (n_all - n_t)) "
        "* ln((CAST(n_tb AS DOUBLE) / n_t) "
        "/ (CAST(n_b - n_tb AS DOUBLE) / (n_all - n_t))) * 1e6, 0) AS BIGINT) "
        "ELSE 0 END) AS DOUBLE) / 1e6, 6) AS psi "
        "FROM j GROUP BY event_type"
    ),
    # integer-cents rank-sum identity
    "agg_gini_by_segment": (
        "WITH c AS (SELECT o_orderpriority, o_orderkey, "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority "
        "ORDER BY cents, o_orderkey) AS i FROM c) "
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, "
        "round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS total_value, "
        "round(2.0 * CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE) "
        "/ (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)) "
        "- (count(*) + 1) * 1.0 / count(*), 6) AS gini "
        "FROM r GROUP BY o_orderpriority"
    ),
    # binned Lorenz trapezoid — exact integers on both engines
    "agg_gini_binned": (
        "WITH c AS (SELECT o_orderpriority, "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders), "
        f"b AS (SELECT o_orderpriority, CAST(floor(cents / {_GINI_BUCKET_CENTS}.0) "
        "AS BIGINT) AS bucket, count(*) AS nb, sum(cents) AS sb "
        "FROM c GROUP BY 1, 2), "
        "w AS (SELECT *, sum(sb) OVER (PARTITION BY o_orderpriority "
        "ORDER BY bucket) AS cum_s FROM b) "
        "SELECT o_orderpriority, CAST(sum(nb) AS BIGINT) AS n_orders, "
        "CAST(count(*) AS BIGINT) AS n_buckets, "
        "round(CAST(sum(sb) AS DOUBLE) / 100.0, 2) AS total_value, "
        "round(1.0 - CAST(sum(nb * (2 * cum_s - sb)) AS DOUBLE) "
        "/ (CAST(sum(nb) AS DOUBLE) * CAST(sum(sb) AS DOUBLE)), 6) AS gini "
        "FROM w GROUP BY o_orderpriority"
    ),
    # binned ECDF broadcast back onto filtered probe rows
    "window_distribution_binned": (
        "WITH r AS (SELECT o_orderpriority, o_orderkey, "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, "
        "CAST(floor(CAST(round(o_totalprice * 100, 0) AS BIGINT) "
        f"/ {_GINI_BUCKET_CENTS}.0) AS BIGINT) AS bucket FROM orders), "
        "b AS (SELECT o_orderpriority, bucket, count(*) AS nb FROM r GROUP BY 1, 2), "
        "e AS (SELECT o_orderpriority, bucket, nb, "
        "sum(nb) OVER (PARTITION BY o_orderpriority ORDER BY bucket) - nb AS cum_below, "
        "sum(nb) OVER (PARTITION BY o_orderpriority ORDER BY bucket) AS cum_incl, "
        "sum(nb) OVER (PARTITION BY o_orderpriority) AS n_total FROM b) "
        "SELECT r.o_orderpriority, r.o_orderkey, "
        "round(r.cents / 100.0, 2) AS order_value, r.bucket, "
        "round(CAST(e.cum_below AS DOUBLE) / e.n_total, 6) AS pct_below, "
        "round(CAST(e.cum_incl AS DOUBLE) / e.n_total, 6) AS pct_incl "
        "FROM r JOIN e ON r.o_orderpriority = e.o_orderpriority "
        "AND r.bucket = e.bucket WHERE r.o_orderkey % 37 = 0"
    ),
    # md5 priority replayed bit-for-bit
    "sample_reservoir_per_key": (
        "WITH p AS (SELECT lang, source, doc_id, n_chars, "
        "md5(CAST(doc_id AS VARCHAR) || ':rsv') AS priority FROM documents), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang, source "
        "ORDER BY priority, doc_id) AS pick FROM p) "
        "SELECT lang, source, CAST(pick AS BIGINT) AS pick, doc_id, n_chars, "
        "priority FROM r WHERE pick <= 5"
    ),
    # ordered string_agg over the rank-capped frame
    "reshape_user_sequences": (
        "WITH r AS (SELECT user_id, event_type, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, "
        "count(*) OVER (PARTITION BY user_id) AS n_events FROM events) "
        "SELECT user_id, CAST(max(n_events) AS BIGINT) AS n_events, "
        "string_agg(event_type, '>' ORDER BY rn) AS seq, "
        "max(n_events) > 20 AS truncated "
        "FROM r WHERE rn <= 20 GROUP BY user_id"
    ),
    # exact-integer marginals; UTC epoch-second dayparts
    "stats_chi2_independence": (
        "WITH b AS (SELECT event_type, "
        "CAST(((CAST(floor(floor(epoch(ts)) / 21600) AS BIGINT) % 4) + 4) % 4 AS INT) "
        "AS daypart FROM events), "
        "o AS (SELECT event_type, daypart, CAST(count(*) AS BIGINT) AS obs "
        "FROM b GROUP BY 1, 2), "
        "rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt FROM o GROUP BY 1), "
        "ct AS (SELECT daypart, CAST(sum(obs) AS BIGINT) AS ct FROM o GROUP BY 1), "
        "n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o) "
        "SELECT o.event_type, o.daypart, obs, "
        "round((rt * ct) * 1.0 / n, 6) AS expected, "
        "round((obs - (rt * ct) * 1.0 / n) * (obs - (rt * ct) * 1.0 / n) "
        "/ ((rt * ct) * 1.0 / n), 6) AS chi2_contrib "
        "FROM o JOIN rt USING (event_type) JOIN ct USING (daypart) CROSS JOIN n"
    ),
    # micro-snapped log moments (the zipf rule)
    "events_hill_tail_index": (
        "WITH r AS (SELECT event_type, "
        "CAST(round(ln(value) * 1e6, 0) AS BIGINT) AS li, "
        "row_number() OVER (PARTITION BY event_type "
        "ORDER BY value DESC, event_id) AS rn "
        "FROM events WHERE value > 0), "
        "g AS (SELECT event_type, "
        "CAST(sum(CASE WHEN rn <= 100 THEN li END) AS BIGINT) AS sum_top, "
        "max(CASE WHEN rn = 101 THEN li END) AS l_k1, "
        "count(*) AS n_got FROM r WHERE rn <= 101 GROUP BY event_type) "
        "SELECT event_type, CAST(100 AS INT) AS k, "
        "round(100e6 / (sum_top - 100 * l_k1), 6) AS hill_alpha "
        "FROM g WHERE n_got = 101 AND sum_top - 100 * l_k1 > 0"
    ),
    # per-term micro-snap before the cohort sum
    "agg_group_entropy": (
        "WITH c AS (SELECT ((user_id % 10) + 10) % 10 AS cohort, event_type, "
        "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "n AS (SELECT cohort, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1), "
        "t AS (SELECT c.cohort, n.n, "
        "CAST(round(-((c * 1.0 / n) * log2(c * 1.0 / n)) * 1e6, 0) AS BIGINT) "
        "AS term FROM c JOIN n USING (cohort)) "
        "SELECT CAST(cohort AS INT) AS cohort, max(n) AS n_events, "
        "CAST(count(*) AS BIGINT) AS n_types, "
        "round(CAST(sum(term) AS BIGINT) / 1e6, 6) AS entropy_bits "
        "FROM t GROUP BY cohort"
    ),
    # exact int64-microsecond lag vs the broadcast global max
    "table_freshness_report": (
        "WITH g AS (SELECT max(ts) AS gmax FROM events) "
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "max(ts) AS newest, "
        "CAST(epoch_us(max(gmax)) - epoch_us(max(ts)) AS BIGINT) AS lag_us, "
        "CAST(sum(CASE WHEN epoch_us(gmax) - epoch_us(ts) <= 86400000000 "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h, "
        "round(sum(CASE WHEN epoch_us(gmax) - epoch_us(ts) <= 86400000000 "
        "THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS share_last_24h "
        "FROM events CROSS JOIN g GROUP BY event_type"
    ),
    # length-diff symbol counting; 'g' flag on the DuckDB side
    "text_code_detect": (
        "WITH b AS (SELECT lang, source, n_chars, "
        "length(text) - length(regexp_replace(text, '[{}()\\[\\];=<>]', '', 'g')) "
        "AS sym FROM documents WHERE n_chars > 0), "
        "d AS (SELECT lang, source, sym, "
        "CAST(round(sym * 1e6 / n_chars, 0) AS BIGINT) AS di FROM b) "
        "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(sym) AS BIGINT) AS n_sym_chars, "
        "round(CAST(sum(di) AS BIGINT) * 1.0 / count(*) / 1e6, 6) AS mean_sym_density, "
        "CAST(sum(CASE WHEN di > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, "
        "round(sum(CASE WHEN di > 20000 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) "
        "AS flagged_share "
        "FROM d GROUP BY lang, source"
    ),
    # counts-of-counts over 64-char normalized-prefix fingerprints
    "dedup_prefix_cluster": (
        f"WITH f AS (SELECT md5(substr({DD_NORM.format(col='text')}, 1, 64)) AS fp, "
        "source FROM documents), "
        "per AS (SELECT fp, CAST(count(*) AS BIGINT) AS cluster_size, "
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM f GROUP BY fp) "
        "SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, "
        "CAST(sum(cluster_size) AS BIGINT) AS n_docs, "
        "max(n_sources) AS max_sources_in_cluster "
        "FROM per GROUP BY cluster_size"
    ),
    # rank over the vocabulary; integer checkpoint sums
    "text_vocab_coverage_curve": (
        f"WITH tok AS (SELECT unnest({_toks}) AS term FROM documents), "
        "tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term), "
        "r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM tc), "
        "a AS (SELECT CAST(sum(c) AS BIGINT) AS total, "
        "CAST(count(*) AS BIGINT) AS vocab, "
        "CAST(sum(CASE WHEN r <= 10 THEN c ELSE 0 END) AS BIGINT) AS cov10, "
        "CAST(sum(CASE WHEN r <= 100 THEN c ELSE 0 END) AS BIGINT) AS cov100, "
        "CAST(sum(CASE WHEN r <= 1000 THEN c ELSE 0 END) AS BIGINT) AS cov1000, "
        "CAST(sum(CASE WHEN r <= 5000 THEN c ELSE 0 END) AS BIGINT) AS cov5000 "
        "FROM r) "
        "SELECT CAST(t.top_n AS INT) AS top_n, vocab AS vocab_size, "
        "CASE t.top_n WHEN 10 THEN cov10 WHEN 100 THEN cov100 "
        "WHEN 1000 THEN cov1000 ELSE cov5000 END AS covered_tokens, "
        "total AS total_tokens, "
        "round((CASE t.top_n WHEN 10 THEN cov10 WHEN 100 THEN cov100 "
        "WHEN 1000 THEN cov1000 ELSE cov5000 END) * 1.0 / total, 6) AS coverage "
        "FROM a CROSS JOIN (VALUES (10), (100), (1000), (5000)) AS t(top_n)"
    ),
    # unique (cents, key) ORDER BY makes rank ties impossible
    "window_distribution_functions": (
        "WITH c AS (SELECT o_orderpriority, o_orderkey, "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders), "
        "r AS (SELECT *, "
        "percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey) AS pr, "
        "cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey) AS cd, "
        "ntile(10) OVER (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey) AS decile "
        "FROM c) "
        "SELECT o_orderpriority, o_orderkey, round(cents / 100.0, 2) AS order_value, "
        "round(pr, 6) AS pct_rank, round(cd, 6) AS cume_dist, "
        "CAST(decile AS INT) AS decile "
        "FROM r WHERE o_orderkey % 37 = 0"
    ),
    # same edge CTE as every graph oracle; the center cap is mirrored
    # (hubs identified by FULL degree, then dropped from every
    # neighbourhood) so the oracle replays the capped semantics exactly
    # rather than failing if data density ever exceeds the cap
    "graph_neighbor_jaccard": (
        "WITH nx AS (SELECT user_id AS src, lead(user_id) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id) AS dst FROM events), "
        "e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
        "FROM nx WHERE dst IS NOT NULL AND dst <> src), "
        "d AS (SELECT a AS z, b AS nbr FROM e UNION ALL SELECT b, a FROM e), "
        "fdeg AS (SELECT nbr, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY nbr), "
        "dc AS (SELECT d.z, d.nbr FROM d JOIN fdeg ON fdeg.nbr = d.z "
        f"WHERE fdeg.deg <= {_JACCARD_CENTER_CAP}), "
        "deg AS (SELECT nbr, CAST(count(*) AS BIGINT) AS deg FROM dc GROUP BY nbr), "
        "w AS (SELECT d1.nbr AS u, d2.nbr AS v FROM dc d1 JOIN dc d2 "
        "ON d1.z = d2.z AND d1.nbr < d2.nbr), "
        "cm AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common FROM w "
        "GROUP BY u, v HAVING count(*) >= 2) "
        "SELECT u, v, common, du.deg AS deg_u, dv.deg AS deg_v, "
        "round(common * 1.0 / (du.deg + dv.deg - common), 6) AS jaccard "
        "FROM cm JOIN deg du ON du.nbr = u JOIN deg dv ON dv.nbr = v"
    ),
    # centi-snapped integer moments folded to one row; identical
    # mean/variance/z expression tree both sides
    "events_ab_welch_ztest": (
        "WITH b AS (SELECT ((user_id % 2) + 2) % 2 AS arm, "
        "CAST(round(value * 100, 0) AS BIGINT) AS si "
        "FROM events WHERE event_type = 'purchase' "
        "AND value IS NOT NULL AND user_id IS NOT NULL), "
        "o AS (SELECT "
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, "
        "CAST(sum(CASE WHEN arm = 0 THEN si END) AS BIGINT) AS s0, "
        "CAST(sum(CASE WHEN arm = 0 THEN si * si END) AS HUGEINT) AS q0, "
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        "CAST(sum(CASE WHEN arm = 1 THEN si END) AS BIGINT) AS s1, "
        "CAST(sum(CASE WHEN arm = 1 THEN si * si END) AS HUGEINT) AS q1 FROM b), "
        "g AS (SELECT * FROM o WHERE n0 > 1 AND n1 > 1 "
        "AND CAST(n0 AS HUGEINT) * q0 - CAST(s0 AS HUGEINT) * s0 "
        "+ CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 > 0) "
        "SELECT n0, round(s0 / (100.0 * n0), 6) AS mean0, "
        "round((q0 / 1e4 - n0 * (s0 / (100.0 * n0)) * (s0 / (100.0 * n0))) "
        "/ (n0 - 1), 6) AS var0, "
        "n1, round(s1 / (100.0 * n1), 6) AS mean1, "
        "round((q1 / 1e4 - n1 * (s1 / (100.0 * n1)) * (s1 / (100.0 * n1))) "
        "/ (n1 - 1), 6) AS var1, "
        "round((s1 / (100.0 * n1) - s0 / (100.0 * n0)) / sqrt( "
        "((q0 / 1e4 - n0 * (s0 / (100.0 * n0)) * (s0 / (100.0 * n0))) / (n0 - 1)) / n0 "
        "+ ((q1 / 1e4 - n1 * (s1 / (100.0 * n1)) * (s1 / (100.0 * n1))) / (n1 - 1)) / n1"
        "), 6) AS z_score FROM g"
    ),
}

# the partitioned sibling computes the IDENTICAL result — same bitmap,
# same probes, same exactness join; only the Spark exchange strategy
# (shuffle-hash vs broadcast) differs, which SQL does not express
ORACLES["join_bloom_prefilter_partitioned"] = ORACLES["join_bloom_prefilter"]

# heavy-hitter rank over the bounded per-key frame; exact-integer
# ceil for the salt factor (HUGEINT product mirrors decimal(38,0))
ORACLES["join_key_skew_advisor"] = (
    "WITH per AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows "
    "FROM lineitem GROUP BY l_suppkey), "
    "tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, "
    "CAST(count(*) AS BIGINT) AS n_keys FROM per), "
    "r AS (SELECT per.*, tot.total, tot.n_keys, "
    "row_number() OVER (ORDER BY n_rows DESC, l_suppkey) AS rk "
    "FROM per CROSS JOIN tot) "
    "SELECT l_suppkey AS suppkey, n_rows, "
    "round(n_rows * 1.0 / total, 6) AS share, "
    "round(CAST(CAST(n_rows AS HUGEINT) * n_keys AS DOUBLE) / total, 6) "
    "AS ratio_to_mean, "
    "CAST((CAST(n_rows AS HUGEINT) * n_keys + total - 1) // total "
    "AS BIGINT) AS salt_factor, "
    "CAST(rk AS INT) AS rank "
    "FROM r WHERE rk <= 10"
)


# full bloom-path replay on gram strings: eval grams -> bitmap ->
# corpus probes -> exact hit check, the join_bloom_prefilter SQL
# pattern with the shared alnum-trigram derivation
_DB = _DECONTAM_BLOOM_BITS
ORACLES["decontam_bloom_prefilter"] = (
    "WITH tk AS (SELECT doc_id, "
    + DD_ALNUM_TOKS.format(col="text")
    + " AS t FROM documents), "
    "g AS (SELECT doc_id, list_distinct(list_transform("
    "range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) "
    "AS gs FROM tk WHERE len(t) >= 3), "
    "ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 17 = 0), "
    "words AS (SELECT CAST(floor(pos / 30) AS BIGINT) AS widx, "
    "bit_or(CAST(power(2, pos % 30) AS BIGINT)) AS word FROM "
    "(SELECT (('0x' || substr(md5(gram || ':' || i), 1, 8))::UBIGINT "
    f"% {_DB}) AS pos FROM ev "
    "CROSS JOIN (SELECT unnest(range(0, 3)) AS i)) p GROUP BY 1), "
    "pairs AS (SELECT doc_id, unnest(gs) AS gram FROM g "
    "WHERE doc_id % 17 <> 0), "
    "f AS (SELECT doc_id, gram, "
    f"(('0x' || substr(md5(gram || ':0'), 1, 8))::UBIGINT % {_DB}) AS p0, "
    f"(('0x' || substr(md5(gram || ':1'), 1, 8))::UBIGINT % {_DB}) AS p1, "
    f"(('0x' || substr(md5(gram || ':2'), 1, 8))::UBIGINT % {_DB}) AS p2 "
    "FROM pairs), "
    "pass AS (SELECT f.doc_id, f.gram FROM f "
    "LEFT JOIN words w0 ON w0.widx = CAST(floor(f.p0 / 30) AS BIGINT) "
    "LEFT JOIN words w1 ON w1.widx = CAST(floor(f.p1 / 30) AS BIGINT) "
    "LEFT JOIN words w2 ON w2.widx = CAST(floor(f.p2 / 30) AS BIGINT) "
    "WHERE CAST(floor(coalesce(w0.word, 0) / power(2, f.p0 % 30)) "
    "AS BIGINT) % 2 = 1 "
    "AND CAST(floor(coalesce(w1.word, 0) / power(2, f.p1 % 30)) "
    "AS BIGINT) % 2 = 1 "
    "AND CAST(floor(coalesce(w2.word, 0) / power(2, f.p2 % 30)) "
    "AS BIGINT) % 2 = 1), "
    "hits AS (SELECT pass.doc_id, CAST(count(*) AS BIGINT) AS n_bloom_pass, "
    "CAST(sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_true_hits FROM pass LEFT JOIN ev ON ev.gram = pass.gram "
    "GROUP BY pass.doc_id), "
    "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams "
    "FROM pairs GROUP BY doc_id) "
    "SELECT tot.doc_id AS doc_id, n_grams, "
    "CAST(coalesce(n_bloom_pass, 0) AS BIGINT) AS n_bloom_pass, "
    "CAST(coalesce(n_true_hits, 0) AS BIGINT) AS n_true_hits, "
    "CAST(coalesce(n_bloom_pass, 0) - coalesce(n_true_hits, 0) AS BIGINT) "
    "AS n_false_pos, "
    "coalesce(n_true_hits, 0) > 0 AS contaminated "
    "FROM tot LEFT JOIN hits ON hits.doc_id = tot.doc_id"
)
