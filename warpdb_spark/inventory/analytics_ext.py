"""Warehouse-maintenance / analytics extension inventory (round 3).

Operator families the reference's users reach for next once the core
engine works: MERGE-style upsert (mutable tables without a table
format), data profiling, integrity fingerprints, equi-width histograms,
correlation matrices, running distinct counts, and multi-resolution
rollup cascades (the hypertable continuous-aggregate shape,
SURVEY §2.9). Every entry is exact-oracle-checked against DuckDB.

Scale notes are inline per entry; the common theme is one key-shuffle
maximum, broadcast for the tiny side, and aggregation states that
compose (sum-of-sums) so each operator has an incremental 100 TB story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warpdb_spark.persist import persist_scoped
from warpdb_spark.sources.readers import cached_table, ns_to_timestamp


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-keyed metadata memo (r12): see sources.readers.cached_table
    return cached_table(spark, sf_dir, name)


# --- MERGE / upsert ----------------------------------------------------------

def merge_upsert_orders(spark, sf_dir):
    """MERGE INTO semantics without a table format (Delta/Iceberg): a
    change batch upserts into a base table — matched keys take the
    batch's values, unmatched batch keys insert, untouched base rows
    pass through. Base = orders with o_orderkey % 3 != 0; batch =
    orders with o_orderkey % 10 IN (0, 5) re-priced ×1.1 (so some
    batch keys hit the base and some are pure inserts).

    Shape: ONE full-outer hash join on the key + coalesce per column —
    the merge-on-read plan. At 100 TB both sides shuffle on o_orderkey
    once; with the base bucketed on the key (sources/bucketing.py) the
    base-side Exchange disappears and only the batch moves.
    """
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    # re-price by exact double addition (NOT round(x*1.1): Spark rounds
    # HALF_UP on the double's decimal repr, DuckDB on the raw double —
    # midpoint cases would diverge; + is bit-exact in both engines)
    batch = orders.filter((F.col("o_orderkey") % 10).isin(0, 5)).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    b = base.select([F.col(c).alias(f"b_{c}") for c in base.columns])
    u = batch.select([F.col(c).alias(f"u_{c}") for c in batch.columns])
    merged = b.join(u, b["b_o_orderkey"] == u["u_o_orderkey"], "full_outer")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    out = merged.select(
        *[F.coalesce(F.col(f"u_{c}"), F.col(f"b_{c}")).alias(c) for c in cols]
    )
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


# --- profiling / integrity ---------------------------------------------------

def profile_table_columns(spark, sf_dir):
    """Column-profile sweep of lineitem numerics (the reference's
    declared ColumnStats — src/warpdb.hpp table_stats — as a queryable
    long-format result): per column, row count, null count, exact
    distinct count, min, max, mean.

    ONE aggregation pass computes every metric (multi-distinct goes
    through Spark's Expand — at 100 TB swap exact distinct for
    approx_count_distinct and the pass becomes a plain partial-agg
    scan; the exact version is kept here because the oracle can check
    it bit-for-bit), then an unpivot via stack() reshapes to rows —
    zero extra shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 6).alias(f"{c}__min"),
            F.round(F.max(c), 6).alias(f"{c}__max"),
            F.round(F.avg(c), 6).alias(f"{c}__mean"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max, {c}__mean" for c in cols
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as (col_name, n_nulls, n_distinct, min_v, max_v, mean_v)",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_v", "max_v", "mean_v")


def table_fingerprint(spark, sf_dir):
    """Order-insensitive table integrity fingerprint per order-status
    segment: row count + count/min/max of the per-row md5 of a
    canonical column concatenation. Replication/migration check — two
    copies of a 100 TB table compare by shipping ONE tiny row per
    segment, no data movement; the md5 scan is embarrassingly parallel
    and the agg is partial-aggregated (min/max/count compose, so
    per-file fingerprints roll up to table fingerprints incrementally).
    """
    orders = _t(spark, sf_dir, "orders")
    # price canonicalized to integer cents — double→string rendering is
    # engine-specific, integer rendering is not
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            F.col("o_orderpriority"),
        )
    )
    return (
        orders.select(F.col("o_orderstatus").alias("segment"), h.alias("h"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("h").alias("n_distinct_rows"),
            F.min("h").alias("min_h"),
            F.max("h").alias("max_h"),
        )
    )


# --- statistics --------------------------------------------------------------

def stats_correlation_matrix(spark, sf_dir):
    """Pairwise Pearson correlation + sample covariance over the
    lineitem numeric columns, emitted as the upper triangle in long
    form. ONE scan, one global aggregate — every corr/covar state is a
    few moments, all partial-aggregated map-side; at 100 TB the only
    cross-node traffic is 6 tiny states. Rounded to 6 decimals so the
    float reduction order cannot flip the hash.
    """
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = []
    for a, b in pairs:
        aggs += [
            F.round(F.corr(a, b), 6).alias(f"{a}__{b}__corr"),
            F.round(F.covar_samp(a, b), 6).alias(f"{a}__{b}__cov"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', {a}__{b}__corr, {a}__{b}__cov" for a, b in pairs
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) as (col_a, col_b, pearson_r, covar)"
    )


# --- windows -----------------------------------------------------------------

def window_distinct_count(spark, sf_dir):
    """Running COUNT(DISTINCT event_type) per user over event time — a
    window neither Spark nor DuckDB supports natively; rewritten as a
    first-occurrence flag (row_number per (user, type) == 1) summed by
    a running window. Two window passes over the SAME (user_id)
    partitioning — one shuffle, the second window reuses the
    clustering. Deterministic tie-break on event_id.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("first_seen", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0))
        .withColumn("n_distinct_types", F.sum("first_seen").over(w_run))
        .select("event_id", "user_id", "n_distinct_types")
    )


# --- histograms / rollups ----------------------------------------------------

def events_value_histogram(spark, sf_dir):
    """Equi-width 20-bucket histogram of events.value with bounds
    computed in-query: global min/max (one tiny agg, broadcast back as
    a literal row) → bucket index → count + mean per bucket. The
    classic profiling histogram: two scans, and the second is a pure
    map-side bucket assignment + partial-agg count. The top edge
    closes into the last bucket.
    """
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    b = ev.crossJoin(F.broadcast(bounds))
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 20)),
        F.lit(19),
    ).cast("long")
    return (
        b.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
        .orderBy("bucket")
    )


def events_rollup_cascade(spark, sf_dir):
    """Multi-resolution rollup cascade (hypertable continuous
    aggregates): raw events → 1-minute partials (count/sum/min/max) →
    hourly re-aggregation of the partials → daily re-aggregation of
    the hourly rows; avg derived from sum/count at the end. Verified
    against a DIRECT raw→daily aggregate, proving the partial states
    compose exactly. At 100 TB each cascade level reads the level
    below (minutes: ~1/60th of raw; hours: 1/60th again) — refreshes
    and backfills never rescan raw data, and every level is an
    ordinary partial-agg groupBy.
    """
    ev = _t(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    hour = minute.groupBy(F.date_trunc("hour", F.col("m")).alias("h")).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sv").alias("sv"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    day = hour.groupBy(F.date_trunc("day", F.col("h")).alias("d")).agg(
        F.sum("cnt").alias("n_events"),
        F.round(F.sum("sv"), 4).alias("sum_value"),
        F.round(F.sum("sv") / F.sum("cnt"), 6).alias("avg_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
    )
    return day.orderBy("d")


def events_ohlc_bars(spark, sf_dir):
    """OHLC candlestick downsampling — hourly open/high/low/close +
    volume bars per event type, the standard tick→bar compaction of
    any time-series store (and the rollup_cascade companion: that
    entry proves partial states COMPOSE, this one adds the
    order-statistic pair they can't express as plain min/max).

    ONE map-side-combined groupBy: open/close are min_by/max_by over
    the unique (ts, event_id) order struct — order-statistic
    aggregates with composable partial states (each partition keeps
    its candidate row; merge compares keys), so the 100 TB plan is
    the same single shuffle as a count. The oracle spells the same
    open/close as first_value windows only because DuckDB's
    arg_min/arg_max take scalar keys, not structs."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bar_ts")
        )
        .agg(
            F.min_by("value", key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", key).alias("close_v"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("volume"),
        )
        .orderBy("event_type", "bar_ts")
    )


# --- slowly-changing dimensions / CDC ----------------------------------------

def scd2_event_intervals(spark, sf_dir):
    """SCD Type-2 interval derivation: each user's event stream becomes
    validity intervals [valid_from, valid_to) per state (event_type),
    the open current row carrying NULL valid_to — the standard
    change-log → dimension-history transform. ONE shuffle on user_id;
    lead() reuses the same partitioning. Deterministic tie-break on
    event_id."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 11 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        (F.lead("ts").over(w).isNull()).alias("is_current"),
    )


def table_diff_cdc(spark, sf_dir):
    """Change-data-capture diff of two table versions: row-level
    added / removed / changed classification by key, comparing md5
    content digests so arbitrarily wide rows diff by ONE string.
    Revised version = orders minus keys %13==0 (removes), with
    %7==0 re-priced (changes), plus key+10^7 clones of %29==0 rows
    (adds). Shape: digest scan on both sides + one full-outer key
    join — at 100 TB with both versions bucketed on the key this is
    an Exchange-free merge; unchanged rows (the vast majority) are
    filtered before anything else moves."""
    orders = _t(spark, sf_dir, "orders")

    def digest(df):
        return df.select(
            "o_orderkey",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                    F.col("o_orderpriority"),
                )
            ).alias("digest"),
        )

    base = digest(orders)
    revised_src = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(500.0))
            .otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 29 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(10000000)
            )
        )
    )
    revised = digest(revised_src)
    b = base.select(F.col("o_orderkey").alias("key"), F.col("digest").alias("b_digest"))
    r = revised.select(F.col("o_orderkey").alias("key"), F.col("digest").alias("r_digest"))
    j = b.join(r, "key", "full_outer")
    return (
        j.withColumn(
            "diff_type",
            F.when(F.col("b_digest").isNull(), F.lit("added"))
            .when(F.col("r_digest").isNull(), F.lit("removed"))
            .when(F.col("b_digest") != F.col("r_digest"), F.lit("changed")),
        )
        .filter(F.col("diff_type").isNotNull())
        .select("key", "diff_type")
    )


def events_equidepth_quantiles(spark, sf_dir):
    """Per-event-type equi-depth quartile profile: exact ntile(4) over
    value → per-(type, quartile) count/min/max. The oracle replays
    DuckDB's ntile(4) bit-for-bit; the Spark side reproduces the SAME
    assignment WITHOUT a corpus-scale per-type sort (r8 plan audit —
    the previous ``ntile(4) OVER (PARTITION BY event_type ORDER BY
    value)`` sorted the whole corpus in |types| tasks):
    operators/sequence.grouped_global_rank gives each row its exact
    group-wide position (row_number within floor(value) chunks +
    prefix-count offsets; (value, event_id) is a TOTAL order, so the
    position is deterministic), and ntile's bucket function of
    (rank, n) is applied closed-form in integer arithmetic — the first
    n mod 4 buckets take ceil(n/4) rows, the rest floor(n/4). The
    approx sibling `events_equidepth_approx` remains the sketch-based
    alternative when even exact ranks aren't needed."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    ev = _t(spark, sf_dir, "events")
    r = grouped_global_rank(
        ev.select("event_type", "event_id", "value"),
        "event_type",
        ["value", "event_id"],
        F.floor("value").cast("long"),
        rank_col="rn",
        n_col="n",
    )
    # ntile(b): q = n div b, rem = n mod b; bucket i <= rem has q+1
    # rows. rank <= rem*(q+1) -> ceil(rank/(q+1)); else rem +
    # ceil((rank - rem*(q+1))/q). Integer DIV throughout — float
    # division would wobble at 2^53.
    quartile = F.expr(
        "CASE WHEN rn <= (n % 4) * (n DIV 4 + 1) "
        "THEN (rn + (n DIV 4)) DIV (n DIV 4 + 1) "
        "ELSE (n % 4) + (rn - (n % 4) * (n DIV 4 + 1) + (n DIV 4) - 1) DIV (n DIV 4) END"
    ).cast("int")
    return (
        r.withColumn("quartile", quartile)
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .orderBy("event_type", "quartile")
    )


def events_equidepth_approx(spark, sf_dir):
    """The 100 TB twin of `events_equidepth_quantiles`: per-type
    quartile CUTPOINTS from percentile_approx (a tiny mergeable
    sketch — no sort anywhere), broadcast back, buckets assigned
    map-side, then a partial-agg count. Total cost: two scans, zero
    sorts, one broadcast of ~types×3 doubles. Verified the
    approx-count way (`agg_approx_count_distinct` pattern): each
    bucket's share must sit within 2% of n/4; the oracle computes the
    exact-rank buckets and asserts the same booleans — both engines
    emit all-TRUE, hash-checked."""
    ev = _t(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.25, 0.5, 0.75], 100000).alias("c")
    )
    b = ev.join(F.broadcast(cuts), "event_type")
    bucket = (
        F.when(F.col("value") <= F.col("c")[0], 1)
        .when(F.col("value") <= F.col("c")[1], 2)
        .when(F.col("value") <= F.col("c")[2], 3)
        .otherwise(4)
    )
    counts = (
        b.withColumn("q", bucket)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            *[
                F.sum(F.when(F.col("q") == i, 1).otherwise(0)).alias(f"n{i}")
                for i in (1, 2, 3, 4)
            ],
        )
    )
    out = counts.select(
        "event_type",
        "n_total",
        *[
            (
                F.abs(F.col(f"n{i}") - F.col("n_total") / 4.0)
                <= F.col("n_total") * 0.02
            ).alias(f"ok_q{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    return out.orderBy("event_type")


# --- embeddings: product quantization ----------------------------------------

def embedding_pq_codes(spark, sf_dir):
    """Product-quantization encoding of the embedding column (the
    vector-index compression standard beyond scalar int8): the 64-dim
    vector splits into 4 contiguous 16-dim subspaces, each quantized
    to its nearest of 16 codebook entries — 64 floats become 4 code
    ids. Codebooks are engine-portable-deterministic (the 16 vectors
    with lowest md5(vec_id), sliced per subspace — the
    operators/clustering.py::init_centroids pattern), distances are
    round-6 squared-L2 with lowest-code-id tie-break, so the DuckDB
    oracle replays every code exactly.

    Scale shape: the codebook is 64 tiny rows riding ONE broadcast;
    the fact side explodes ×4 subspaces and reduces by min-struct
    argmin in a single map-side-combined groupBy(vec_id) — one
    shuffle of 4 structs per vector, never the raw vectors. Training
    iterations (per-subspace Lloyd) reuse clustering.py::lloyd.
    """
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    init = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(16)
        .select(F.col("vec_id").alias("code_id"), F.col("v").alias("cv"))
    )
    subs = spark.range(4).select(F.col("id").cast("int").alias("sub"))
    codebook = init.crossJoin(subs).select(
        "sub",
        "code_id",
        F.slice("cv", F.col("sub") * 16 + 1, 16).alias("cvs"),
    )
    ev = emb.crossJoin(subs).select(
        "vec_id", "sub", F.slice("v", F.col("sub") * 16 + 1, 16).alias("evs")
    )
    d = ev.join(F.broadcast(codebook), "sub").select(
        "vec_id",
        "sub",
        "code_id",
        F.round(
            F.aggregate(
                F.zip_with("evs", "cvs", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("dist2"),
    )
    # min-struct argmin per (vec, sub), then one row per vector with the
    # 4 codes + total quantization error — a single groupBy(vec_id)
    per_sub = [
        F.min(F.when(F.col("sub") == s, F.struct("dist2", "code_id"))).alias(f"m{s}")
        for s in range(4)
    ]
    g = d.groupBy("vec_id").agg(*per_sub)
    return g.select(
        "vec_id",
        *[F.col(f"m{s}.code_id").alias(f"code_{s}") for s in range(4)],
        F.round(
            sum(F.col(f"m{s}.dist2") for s in range(4)), 6
        ).alias("quant_err"),
    )


def stream_static_enrich(spark, sf_dir):
    """Stream-static dimension enrichment
    (streaming/windows.py::enrich_static): the events fact stream
    joins the customer dim on user_id — a broadcast LEFT join, so the
    stream side never shuffles and the dim snapshot is re-read per
    micro-batch. Entry runs the batch-identical plan; the live
    two-source streaming run is pytest-asserted
    (tests/test_streaming.py). Aggregated per nation segment so the
    oracle pins join semantics (including unmatched-user NULLs)."""
    from warpdb_spark.streaming.windows import enrich_static

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    enriched = enrich_static(ev, dim, keys=["c_custkey"], how="left")
    return (
        enriched.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("c_nationkey")
    )


def similarity_pq_adc(spark, sf_dir):
    """PQ-ADC approximate nearest neighbors over the codes table
    (operators/similarity.py::pq_topk): 64-dim float vectors become 16
    sub-codes (md5-deterministic init codebooks, train_iters=0 so the
    oracle replays training exactly); each query's distance to a
    vector is a 16-term lookup-table sum over the CODES — the corpus
    is scanned compressed, never at full precision. Round-6 argmin
    with lowest-code tie-break and round-6 ranked distances make every
    rank DuckDB-replayable. The trained variant (distributed Lloyd
    refinement, higher recall) is pytest-asserted instead
    (tests/test_analytics_ext.py::TestPqSearch)."""
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk(
        emb, qs, k=5, m_subs=16, n_codes=32, train_iters=0, seed=42
    )


def similarity_ivfpq(spark, sf_dir):
    """IVFADC+R — the full production ANN stack in one query (Jégou
    et al. 2011; FAISS IndexIVFPQ): IVF coarse quantizer prunes to
    nprobe=4 of 16 lists, the PQ code scan ranks only those lists by
    asymmetric distance, and the top rerank_factor×k candidates
    re-rank at full precision. `similarity_ivf` proves the pruning,
    `similarity_pq_adc`/`_rerank` the compression — this entry proves
    they COMPOSE: one corpus pass emits (id, list, codes) from
    broadcast centroids+codebooks, scoring cogroups codes by list
    with the probe set, re-rank is a broadcast semi-join. Everything
    deterministic (shared md5 sample ordering: the 16 coarse
    centroids are the FIRST 16 of the PQ init's 32 rows, so ONE
    ordered scan seeds both quantizers in the oracle), replayed by
    DuckDB end-to-end."""
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    return S.ivfpq_topk(
        emb, qs, k=5, num_lists=16, nprobe=4, m_subs=16, n_codes=32,
        train_iters=0, rerank_factor=4, seed=42,
    )


def similarity_ivfpq_residual(spark, sf_dir):
    """TRUE IVFADC (Jégou et al. §III; the FAISS IndexIVFPQ default):
    same composition as ``similarity_ivfpq`` but PQ encodes each
    vector's RESIDUAL against its assigned coarse centroid, codebooks
    are trained on residuals, and each query builds one LUT per PROBED
    list from q − centroid[list]. The variant that matters on
    clustered (production) embeddings: raw-vector PQ gives every
    member of a tight cluster a near-identical code — measured
    recall@5 0.00 at 1M×64-cluster scale (tools/replay_ann_recall.py,
    r10) — while residual codes quantize the within-cluster offsets
    the ranking actually depends on. Extra cost: one residual map
    pass at train time, an nprobe-wide LUT broadcast at query time;
    the corpus-side plan is unchanged (one indexing pass, cogrouped
    code scan, broadcast re-rank). DuckDB replays assignment →
    residual → codebook → codes → per-list LUT ADC → re-rank
    end-to-end."""
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    return S.ivfpq_topk(
        emb, qs, k=5, num_lists=16, nprobe=4, m_subs=16, n_codes=32,
        train_iters=0, rerank_factor=4, seed=42, residual=True,
    )


# one md5-ordered scan seeds BOTH quantizers: rows 0-15 are the IVF
# centroids, rows 0-31 the PQ init codebook (same seed, same ordering)
_IVFPQ_SQL = (
    "WITH ord AS (SELECT row_number() OVER ("
    "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id) - 1 "
    "AS pos, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings "
    "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id LIMIT 32), "
    "civf AS (SELECT pos AS list_id, cv AS ce FROM ord WHERE pos < 16), "
    "lscored AS (SELECT e.vec_id, i.list_id, "
    "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), i.ce), 6) DESC, "
    "i.list_id) AS rn FROM embeddings e CROSS JOIN civf i), "
    "asg AS (SELECT vec_id, list_id FROM lscored WHERE rn = 1), "
    "qpr AS (SELECT vec_id AS query_id, list_id FROM lscored "
    "WHERE rn <= 4 AND vec_id < 10), "
    "cand AS (SELECT q.query_id, a.vec_id AS neighbor_id "
    "FROM qpr q JOIN asg a USING (list_id) WHERE a.vec_id <> q.query_id), "
    "subs AS (SELECT unnest(generate_series(0, 15)) AS sub), "
    "codebook AS (SELECT s.sub, i.pos AS code, "
    "i.cv[(s.sub * 4 + 1):(s.sub * 4 + 4)] AS cvs FROM ord i CROSS JOIN subs s), "
    "ev AS (SELECT e.vec_id, s.sub, "
    "CAST(e.embedding AS DOUBLE[])[(s.sub * 4 + 1):(s.sub * 4 + 4)] AS evs "
    "FROM embeddings e CROSS JOIN subs s), "
    "codes AS (SELECT vec_id, sub, code FROM ("
    "SELECT ev.vec_id, ev.sub, c.code, row_number() OVER ("
    "PARTITION BY ev.vec_id, ev.sub ORDER BY "
    "round(list_sum([(ev.evs[j] - c.cvs[j]) * (ev.evs[j] - c.cvs[j]) "
    "for j in generate_series(1, 4)]), 6), c.code) AS rn "
    "FROM ev JOIN codebook c ON ev.sub = c.sub) WHERE rn = 1), "
    "qlut AS (SELECT q.vec_id AS query_id, c.sub, c.code, "
    "list_sum([(q.evs[j] - c.cvs[j]) * (q.evs[j] - c.cvs[j]) "
    "for j in generate_series(1, 4)]) AS l "
    "FROM ev q JOIN codebook c ON q.sub = c.sub WHERE q.vec_id < 10), "
    "adc AS (SELECT l.query_id, cd.vec_id AS neighbor_id, "
    "round(sum(l.l), 6) AS dist2 "
    "FROM codes cd JOIN qlut l ON cd.sub = l.sub AND cd.code = l.code "
    "JOIN cand ON cand.query_id = l.query_id AND cand.neighbor_id = cd.vec_id "
    "GROUP BY 1, 2), "
    "shortlist AS (SELECT query_id, neighbor_id FROM ("
    "SELECT query_id, neighbor_id, row_number() OVER ("
    "PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rn FROM adc) "
    "WHERE rn <= 20), "
    "exact AS (SELECT s.query_id, s.neighbor_id, "
    "round(list_sum([(CAST(c.embedding AS DOUBLE[])[j] - CAST(q.embedding AS DOUBLE[])[j]) * "
    "(CAST(c.embedding AS DOUBLE[])[j] - CAST(q.embedding AS DOUBLE[])[j]) "
    "for j in generate_series(1, len(c.embedding))]), 6) AS dist2 "
    "FROM shortlist s JOIN embeddings c ON c.vec_id = s.neighbor_id "
    "JOIN embeddings q ON q.vec_id = s.query_id) "
    "SELECT query_id, neighbor_id, dist2, rank FROM ("
    "SELECT query_id, neighbor_id, dist2, CAST(row_number() OVER ("
    "PARTITION BY query_id ORDER BY dist2, neighbor_id) AS INTEGER) AS rank "
    "FROM exact) WHERE rank <= 5"
)

# TRUE-IVFADC replay: as _IVFPQ_SQL but everything PQ-side runs in
# RESIDUAL space — rev/qrev subtract the assigned (resp. probed)
# coarse centroid before slicing subvectors, the codebook is the
# residuals of ordering rows 16..47 (OFFSET past the 16 coarse
# centroids: a centroid's own residual is the zero vector, and an
# un-offset init collapses the codebook — the r10 replay finding),
# and the ADC join pins each candidate's LUT to its OWN list
# (l.list_id = asg.list_id).
def similarity_ivfpq_batch(spark, sf_dir):
    """IVFADC with a DISTRIBUTED query side (r10 verdict item 5
    extended to the ANN family): the ENTIRE embeddings table is the
    query set — the kNN-graph workload ("index once, neighbor every
    vector") that makes a driver-collected query path impossible at
    corpus scale. ``ivfpq_topk_batch`` keeps queries a DataFrame end
    to end: probe assignment is an Arrow-batched map against the
    broadcast coarse centroids, each probed list's residual LUT is
    built INSIDE the per-list cogroup from the raw query vector +
    broadcast codebooks (driver state = centroids + codebooks only,
    both corpus-bounded), and the exact re-rank joins by AQE's choice
    instead of forced broadcasts. Output is pinned equal to
    ``ivfpq_topk`` (tests) and the oracle is the SAME end-to-end
    DuckDB replay as ``similarity_ivfpq_residual`` with the query
    filter widened to every vector."""
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.ivfpq_topk_batch(
        emb, emb, k=5, num_lists=16, nprobe=4, m_subs=16, n_codes=32,
        train_iters=0, rerank_factor=4, seed=42, residual=True,
    )


def similarity_pq_batch(spark, sf_dir):
    """Plain PQ-ADC with a DISTRIBUTED query side (r12, closing the
    r11 verdict's item 8): the ENTIRE embeddings table is the query
    set and ``pq_topk_batch`` keeps it a DataFrame end to end — the
    corpus CODES and the queries hash into corpus-proportional blocks
    (the ``cosine_topk_blocked`` discipline), each (codes block, query
    block) pair cogroups exactly once, and the per-query LUT is built
    INSIDE the cogroup from the broadcast codebooks (driver state =
    the m×n_codes×dsub codebook only — never query-proportional).
    ``pq_topk`` now DELEGATES here past its ``max_queries`` driver
    cap instead of raising; equality with the collected path is
    test-pinned, and the oracle is ``similarity_pq_adc``'s end-to-end
    codebook→codes→ADC replay with the query filter widened to every
    vector."""
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_topk_batch(
        emb, emb, k=5, m_subs=16, n_codes=32, train_iters=0, seed=42
    )


_IVFPQ_RES_SQL = (
    "WITH ord AS (SELECT row_number() OVER ("
    "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id) - 1 "
    "AS pos, vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings "
    "ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id LIMIT 48), "
    "civf AS (SELECT pos AS list_id, cv AS ce FROM ord WHERE pos < 16), "
    "lscored AS (SELECT e.vec_id, i.list_id, "
    "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), i.ce), 6) DESC, "
    "i.list_id) AS rn FROM embeddings e CROSS JOIN civf i), "
    "asg AS (SELECT vec_id, list_id FROM lscored WHERE rn = 1), "
    "qpr AS (SELECT vec_id AS query_id, list_id FROM lscored "
    "WHERE rn <= 4 AND vec_id < 10), "
    "cand AS (SELECT q.query_id, a.vec_id AS neighbor_id "
    "FROM qpr q JOIN asg a USING (list_id) WHERE a.vec_id <> q.query_id), "
    "subs AS (SELECT unnest(generate_series(0, 15)) AS sub), "
    "rev AS (SELECT e.vec_id, s.sub, "
    "[CAST(e.embedding AS DOUBLE[])[s.sub * 4 + j] - c.ce[s.sub * 4 + j] "
    "for j in generate_series(1, 4)] AS evs "
    "FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id "
    "JOIN civf c ON c.list_id = a.list_id CROSS JOIN subs s), "
    "codebook AS (SELECT r.sub, i.pos - 16 AS code, r.evs AS cvs "
    "FROM ord i JOIN rev r ON r.vec_id = i.vec_id WHERE i.pos >= 16), "
    "codes AS (SELECT vec_id, sub, code FROM ("
    "SELECT ev.vec_id, ev.sub, c.code, row_number() OVER ("
    "PARTITION BY ev.vec_id, ev.sub ORDER BY "
    "round(list_sum([(ev.evs[j] - c.cvs[j]) * (ev.evs[j] - c.cvs[j]) "
    "for j in generate_series(1, 4)]), 6), c.code) AS rn "
    "FROM rev ev JOIN codebook c ON ev.sub = c.sub) WHERE rn = 1), "
    "qrev AS (SELECT q.query_id, q.list_id, s.sub, "
    "[CAST(e.embedding AS DOUBLE[])[s.sub * 4 + j] - c.ce[s.sub * 4 + j] "
    "for j in generate_series(1, 4)] AS qvs "
    "FROM qpr q JOIN embeddings e ON e.vec_id = q.query_id "
    "JOIN civf c ON c.list_id = q.list_id CROSS JOIN subs s), "
    "qlut AS (SELECT qr.query_id, qr.list_id, c2.sub, c2.code, "
    "list_sum([(qr.qvs[j] - c2.cvs[j]) * (qr.qvs[j] - c2.cvs[j]) "
    "for j in generate_series(1, 4)]) AS l "
    "FROM qrev qr JOIN codebook c2 ON qr.sub = c2.sub), "
    "adc AS (SELECT l.query_id, cd.vec_id AS neighbor_id, "
    "round(sum(l.l), 6) AS dist2 "
    "FROM codes cd JOIN asg a ON a.vec_id = cd.vec_id "
    "JOIN qlut l ON cd.sub = l.sub AND cd.code = l.code "
    "AND l.list_id = a.list_id "
    "JOIN cand ON cand.query_id = l.query_id AND cand.neighbor_id = cd.vec_id "
    "GROUP BY 1, 2), "
    "shortlist AS (SELECT query_id, neighbor_id FROM ("
    "SELECT query_id, neighbor_id, row_number() OVER ("
    "PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rn FROM adc) "
    "WHERE rn <= 20), "
    "exact AS (SELECT s.query_id, s.neighbor_id, "
    "round(list_sum([(CAST(c.embedding AS DOUBLE[])[j] - CAST(q.embedding AS DOUBLE[])[j]) * "
    "(CAST(c.embedding AS DOUBLE[])[j] - CAST(q.embedding AS DOUBLE[])[j]) "
    "for j in generate_series(1, len(c.embedding))]), 6) AS dist2 "
    "FROM shortlist s JOIN embeddings c ON c.vec_id = s.neighbor_id "
    "JOIN embeddings q ON q.vec_id = s.query_id) "
    "SELECT query_id, neighbor_id, dist2, rank FROM ("
    "SELECT query_id, neighbor_id, dist2, CAST(row_number() OVER ("
    "PARTITION BY query_id ORDER BY dist2, neighbor_id) AS INTEGER) AS rank "
    "FROM exact) WHERE rank <= 5"
)


_PQ_INDEX_ROOT = "/tmp/warpdb_spark_pq_index"


def _publish_atomic(tmp: str, dst: str, markers: list[str]) -> None:
    """Publish a built index dir with one atomic rename, SELF-HEALING a
    partial destination (r9 review finding: treating every rename
    failure as "a concurrent winner exists" wedged the cache forever
    when dst was left partial — e.g. a crash between table writes or a
    hand-deleted table — because the fresh build was discarded and the
    reader then failed on the missing table, on every call).

    markers are dst-relative _SUCCESS paths that define completeness.
    rename onto an existing dir fails; if dst is COMPLETE the
    concurrent winner's (bit-identical, deterministic build) copy
    stands and tmp is discarded; if dst is PARTIAL it is removed and
    the rename retried once. The worst interleaving (two healers, one
    deletes the other's just-published dir) still converges to a
    complete identical dir because builds are deterministic."""
    import os
    import shutil

    def complete() -> bool:
        return all(os.path.exists(os.path.join(dst, m)) for m in markers)

    for _ in range(2):
        try:
            os.rename(tmp, dst)
            return
        except OSError:
            if complete():
                break
            shutil.rmtree(dst, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def similarity_pq_persisted_index(spark, sf_dir):
    """PQ-ADC search served from a PERSISTED index — the amortization
    story behind `similarity_pq_adc`: index build (deterministic
    md5-init codebooks + one encode scan of the corpus) happens ONCE
    and is written as two parquet tables — codes (vec_id,
    codes array<int>; 32x smaller than the raw float32 vectors) and
    codebooks (sub, code, centroid array<double>; m x n_codes = 512
    bounded rows) — under a directory keyed by the corpus path. Every
    later query batch reads ONLY those tables: the returned plan's
    sole corpus-scale FileScan is the codes parquet (plan-pinned in
    tests/test_analytics_ext.py), embeddings are touched just to fetch
    the 10 full-precision query vectors (bounded collect, filter
    pushed down). Same deterministic construction as
    `similarity_pq_adc` (train_iters=0, seed 42), so reading the codes
    back from parquet reproduces the identical ADC ranking and the
    oracle replays build + lookup end-to-end. Rebuild rule: the index
    dir is keyed by md5(sf_dir) and reused if its _SUCCESS markers
    exist — the testdata corpora are immutable; point a mutable corpus
    at a fresh index root."""
    import hashlib
    import os

    import numpy as np

    from warpdb_spark.operators import similarity as S

    m_subs, n_codes = 16, 32
    emb = _t(spark, sf_dir, "embeddings")
    # key the index by corpus path AND build parameters + a format
    # version: a parameter/implementation change must MISS the cache,
    # not silently read codes built under different constants
    key = f"{sf_dir.rstrip('/')}|m{m_subs}|c{n_codes}|s42|iters0|v1"
    idx = os.path.join(_PQ_INDEX_ROOT, hashlib.md5(key.encode()).hexdigest()[:12])
    codes_path = os.path.join(idx, "codes.parquet")
    cb_path = os.path.join(idx, "codebooks.parquet")
    if not (
        os.path.exists(os.path.join(codes_path, "_SUCCESS"))
        and os.path.exists(os.path.join(cb_path, "_SUCCESS"))
    ):
        # Build into a per-process temp dir and PUBLISH with one atomic
        # rename (r8 advice): two concurrent cold-cache sessions used to
        # race mode('overwrite') on the shared final path, and overwrite
        # deletes files a concurrent reader's _SUCCESS check already
        # passed. _publish_atomic renames once, self-healing a partial
        # destination; a complete destination means a concurrent winner.
        import uuid

        tmp = f"{idx}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        cb = S.pq_train(
            emb, m_subs=m_subs, n_codes=n_codes, train_iters=0, seed=42
        )
        S.pq_encode(emb, cb).write.parquet(os.path.join(tmp, "codes.parquet"))
        cb_rows = [
            (s, c, [float(x) for x in cb[s, c]])
            for s in range(m_subs)
            for c in range(n_codes)
        ]
        spark.createDataFrame(
            cb_rows, "sub int, code int, centroid array<double>"
        ).write.parquet(os.path.join(tmp, "codebooks.parquet"))
        _publish_atomic(tmp, idx, ["codes.parquet/_SUCCESS",
                                   "codebooks.parquet/_SUCCESS"])

    # query path: index tables only (+ the bounded query-vector fetch)
    codes = spark.read.parquet(codes_path)
    cb_read = spark.read.parquet(cb_path).orderBy("sub", "code").collect()
    cb = np.array(
        [[cb_read[s * n_codes + c]["centroid"] for c in range(n_codes)] for s in range(m_subs)]
    )
    qs = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk(
        codes, qs, k=5, m_subs=m_subs, n_codes=n_codes, codes=codes, codebooks=cb
    )


_PQ_REFRESH_CUTOFF = 400  # base slice; >= n_codes at every test sf


def similarity_pq_index_refresh(spark, sf_dir):
    """Incremental REFRESH of the persisted PQ index — the update story
    `similarity_pq_persisted_index` leaves untold: the corpus gains new
    rows (vec_id >= {cutoff}); only THOSE are encoded, with the FROZEN
    base codebook (standard PQ practice — new rows ride the existing
    codebook; retraining is a rebuild, not a refresh), and appended as
    a separate delta parquet. The base code files are never rewritten
    (pinned in tests: deleting the delta and re-calling rebuilds ONLY
    the delta, base file list byte-identical; the delta encode's
    embeddings scan pushes vec_id >= cutoff down to parquet). Queries
    run over the UNION of base + delta codes. Because codebook init is
    deterministic in the BASE slice (md5-lowest vectors of
    vec_id < cutoff, train_iters=0), the DuckDB oracle replays
    train-on-base + encode-all + ADC end-to-end; at 100 TB the refresh
    cost is one scan of the NEW rows — O(delta), not O(corpus)."""
    import hashlib
    import os

    import numpy as np

    from warpdb_spark.operators import similarity as S

    m_subs, n_codes, cutoff = 16, 32, _PQ_REFRESH_CUTOFF
    emb = _t(spark, sf_dir, "embeddings")
    key = f"{sf_dir.rstrip('/')}|refresh|m{m_subs}|c{n_codes}|s42|iters0|cut{cutoff}|v1"
    idx = os.path.join(_PQ_INDEX_ROOT, hashlib.md5(key.encode()).hexdigest()[:12])
    base_path = os.path.join(idx, "base_codes.parquet")
    delta_path = os.path.join(idx, "delta_codes.parquet")
    cb_path = os.path.join(idx, "codebooks.parquet")

    def _done(p):
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    if not (_done(base_path) and _done(cb_path)):
        # initial build: codebook from the base slice, base codes, both
        # published atomically (the persisted-index discipline)
        import uuid

        tmp = f"{idx}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        base_emb = emb.filter(F.col("vec_id") < cutoff)
        cb = S.pq_train(base_emb, m_subs=m_subs, n_codes=n_codes,
                        train_iters=0, seed=42)
        S.pq_encode(base_emb, cb).write.parquet(
            os.path.join(tmp, "base_codes.parquet"))
        spark.createDataFrame(
            [(s_, c, [float(x) for x in cb[s_, c]])
             for s_ in range(m_subs) for c in range(n_codes)],
            "sub int, code int, centroid array<double>",
        ).write.parquet(os.path.join(tmp, "codebooks.parquet"))
        _publish_atomic(tmp, idx, ["base_codes.parquet/_SUCCESS",
                                   "codebooks.parquet/_SUCCESS"])

    cb_read = spark.read.parquet(cb_path).orderBy("sub", "code").collect()
    cb = np.array(
        [[cb_read[s_ * n_codes + c]["centroid"] for c in range(n_codes)]
         for s_ in range(m_subs)]
    )
    if not _done(delta_path):
        # THE REFRESH: encode only the new rows with the frozen
        # codebook; one atomic publish of the delta, base untouched
        import uuid

        tmpd = f"{delta_path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        S.pq_encode(emb.filter(F.col("vec_id") >= cutoff), cb).write.parquet(tmpd)
        _publish_atomic(tmpd, delta_path, ["_SUCCESS"])

    codes = spark.read.parquet(base_path).unionByName(
        spark.read.parquet(delta_path)
    )
    qs = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk(
        codes, qs, k=5, m_subs=m_subs, n_codes=n_codes, codes=codes, codebooks=cb
    )


def stream_pq_delta_encode(spark, sf_dir):
    """STREAMING twin of ``similarity_pq_index_refresh``'s delta leg —
    the live micro-batch deployment
    (streaming/pq_refresh.py::run_pq_delta_encode wires the identical
    encode into foreachBatch with exactly-once per-batch partitions;
    pytest pins a real readStream run producing byte-identical codes).
    This entry replays the event-order semantics in batch, the
    streaming family's oracle idiom: new vectors (vec_id >= cutoff)
    arrive in micro-batches of 50 arrival-ordered rows; each batch is
    encoded with the FROZEN base codebook and summarized as
    (n_vecs, integer code checksum, id range).

    What the oracle proves: PQ encoding is ROW-LOCAL under a frozen
    codebook, so batch boundaries cannot change any code — the
    summaries computed batch-by-batch equal DuckDB's one-pass
    replay of train-on-base + encode-delta grouped by the same batch
    key. Integer counts/sums only — exact hash. Scale: one
    zero-shuffle Arrow map pass over the DELTA plus a |batches|-row
    aggregate; the corpus is never rescanned (the scan prunes
    vec_id >= cutoff into parquet, plan-pinned for the refresh
    family)."""
    from warpdb_spark.operators import similarity as S

    m_subs, n_codes, cutoff, batch_rows = 16, 32, _PQ_REFRESH_CUTOFF, 50
    emb = _t(spark, sf_dir, "embeddings")
    cb = S.pq_train(
        emb.filter(F.col("vec_id") < cutoff),
        m_subs=m_subs, n_codes=n_codes, train_iters=0, seed=42,
    )
    codes = S.pq_encode(emb.filter(F.col("vec_id") >= cutoff), cb)
    return (
        codes.select(
            F.floor((F.col("vec_id") - cutoff) / batch_rows)
            .cast("long")
            .alias("batch_id"),
            "vec_id",
            F.aggregate(
                "codes", F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("__cs"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("__cs").alias("code_sum"),
            F.min("vec_id").alias("first_vec"),
            F.max("vec_id").alias("last_vec"),
        )
    )


def similarity_pq_rerank(spark, sf_dir):
    """PQ shortlist + exact re-rank (the IVFADC+R deployment shape):
    the ADC code scan produces a 4k-deep candidate shortlist, then
    ONLY those candidates are re-scored at full precision (broadcast
    semi-join fetch — queries × 4k vectors, never the corpus). Same
    deterministic codebooks as `similarity_pq_adc`, so the oracle
    replays the shortlist and the exact re-rank end-to-end."""
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk_rerank(
        emb, qs, k=5, rerank_factor=4, m_subs=16, n_codes=32, train_iters=0, seed=42
    )


# --- dialect: grouping modes -------------------------------------------------

def dialect_rollup_grouping(spark, sf_dir):
    """GROUP BY ROLLUP + GROUPING() end-to-end through the WarpDB
    dialect front-end (tokenizer → parser → builder): subtotal rows per
    returnflag and a grand total, disambiguated from real NULLs by
    grouping flags. The builder pre-projects the keys and emits ONE
    Expand-based aggregate — exactly Spark's native rollup plan, one
    shuffle regardless of how many grouping levels."""
    from warpdb_spark.api import WarpDB

    db = WarpDB(df=_t(spark, sf_dir, "lineitem"), table_name="lineitem", spark=spark)
    return db.query_sql(
        "SELECT l_returnflag, l_linestatus, "
        "sum(l_quantity) AS sum_qty, count(*) AS n, "
        "grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status "
        "FROM lineitem "
        "GROUP BY ROLLUP(l_returnflag, l_linestatus) "
        "ORDER BY g_flag, g_status, l_returnflag, l_linestatus"
    ).withColumn("g_flag", F.col("g_flag").cast("long")).withColumn(
        "g_status", F.col("g_status").cast("long")
    )


def dialect_grouping_sets(spark, sf_dir):
    """GROUP BY GROUPING SETS through the dialect: per-(status,priority)
    cells, per-priority marginals, and the grand total in one pass."""
    from warpdb_spark.api import WarpDB

    db = WarpDB(df=_t(spark, sf_dir, "orders"), table_name="orders", spark=spark)
    return db.query_sql(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
        "sum(o_totalprice) AS total "
        "FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ()) "
        "ORDER BY o_orderstatus, o_orderpriority"
    ).withColumn("total", F.round(F.col("total"), 2))


def stream_incremental_dedup(spark, sf_dir):
    """Incremental MinHash dedup shaped for STREAMING ingest — the
    §2.9 streaming pillar married to the dedup pillar: each document
    carries 4 engine-portable r=1 band keys
    (operators/dedup.py::portable_band_keys, "s|" + md5-min shingle
    hash); a doc is NOVEL iff it is the first arrival of EVERY one of
    its band keys, i.e. no earlier doc (smaller doc_id = arrival
    order) claimed any band.

    The entry runs the batch-identical plan: first-arrival per key is
    a map-side-combined min, the join back rides the same key
    partitioning (exchange reuse), then one per-doc aggregation — two
    shuffles total, 4 rows per doc. The LIVE stream is
    streaming/stateful.py::first_seen (applyInPandasWithState, state
    = one long per key), pytest-pinned to emit the identical novelty
    set across real micro-batches (tests/test_streaming.py). At
    100 TB the state store is the band-key index itself — bounded by
    distinct keys, evictable by timeout for bounded retention."""
    from warpdb_spark.operators.dedup import portable_band_keys

    docs = _t(spark, sf_dir, "documents")
    keyed = portable_band_keys(docs, "doc_id", "text", n_bands=4)
    firsts = keyed.groupBy("key").agg(F.min("doc_id").alias("first_id"))
    per_doc = (
        keyed.join(firsts, "key")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("first_id") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_dup_bands")
        )
    )
    return per_doc.select(
        "doc_id", "n_dup_bands", (F.col("n_dup_bands") == 0).alias("is_novel")
    )


def table_partition_skew_report(spark, sf_dir):
    """Partition-skew diagnostics for a planned hash-partitioning:
    assign each document to one of 32 engine-portable hash buckets
    (md5-hex-prefix, the ``sample_weighted`` trick) and report
    per-bucket row and byte (n_chars) totals plus their ratio to the
    perfectly-even share — the pre-flight check before choosing a
    partition key at 100 TB (a 3× hot bucket at 32 partitions stays
    3× hot at 32k; fix the KEY, not the count).

    One map-side-combined groupBy over a codegen'd scan (32 result
    rows at any corpus size); the even-share denominators ride a
    one-row broadcast. All ratios divide exact integers once."""
    docs = _t(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 32
    ).cast("int")
    per = (
        docs.select(b.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("n_chars").alias("n_bytes"))
    )
    tot = per.agg(
        F.sum("n_rows").alias("tr"),
        F.sum("n_bytes").alias("tb"),
        F.count(F.lit(1)).alias("nb"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        "n_bytes",
        F.round(F.col("n_rows") * F.col("nb") / F.col("tr"), 6).alias("row_skew"),
        F.round(F.col("n_bytes") * F.col("nb") / F.col("tb"), 6).alias("byte_skew"),
    )


_Z_BITS = 8        # per-dimension resolution (16-bit z keys)
_Z_FILE_SHIFT = 10  # 64 "files" of 1024 z-values each
_Z_BOX = (96, 159, 96, 159)  # the probe box: x-lo, x-hi, y-lo, y-hi


def _z_interleave(x, y):
    """16-bit Morton code: bit i of x → bit 2i, bit i of y → bit 2i+1.
    Plain shift/and/add — identical integer semantics in Spark SQL and
    DuckDB, and exactly the interleave a lakehouse OPTIMIZE ZORDER
    computes before range-partitioning files."""
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def table_zorder_layout(spark, sf_dir):
    """Z-order vs row-major layout evaluation — the decision report
    behind a Delta/Iceberg ``OPTIMIZE ZORDER BY (user_id, value)``:
    bucketize both dimensions to 8 bits (domain-relative, from a
    one-row max aggregate — no hardcoded domain), assign every event
    to one of 64 "files" under (a) the Morton-interleaved z-key and
    (b) the row-major linear key, compute each file's min/max column
    stats (the parquet footer analog), and replay a 64×64 box query
    against those stats: files hit, rows scanned (the I/O a pruned
    scan actually reads), rows matching, and scan efficiency.

    Why it matters at 100 TB: file skipping is THE scan-cost lever —
    a linear layout prunes on the leading dimension only (every file
    spans the full y range: here 16/64 files, 2474 rows for 45
    matches), while z-ordering bounds BOTH dimensions per file (4
    files, 45 rows, efficiency 1.0). The plan is one max-aggregate
    broadcast + one map pass + one 128-row groupBy — the evaluation
    itself costs one scan regardless of corpus size.

    Reference seam: the reference has no storage layout control
    (src/csv_loader.cpp loads row-order as-is); this is the SURVEY §2
    warehouse-maintenance superset."""
    # >= 0 alongside the null filter: the bucketize `div` truncates
    # toward zero in Spark but the oracle's `//` floors, and the
    # shift-based Morton code needs a non-negative domain — pin the
    # domain in BOTH engines instead of relying on the data (r9
    # advice). Non-binding on the test tables (ids/values >= 0).
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") >= 0) & (F.col("value") >= 0)
    )
    base = ev.select(
        "user_id", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    mx = base.agg(
        (F.max("user_id") + 1).alias("mu"), (F.max("cents") + 1).alias("mc")
    )
    n = 1 << _Z_BITS
    xy = base.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(user_id * {n}) div mu").alias("x"),
        F.expr(f"(cents * {n}) div mc").alias("y"),
    )
    z = xy.select(
        "x",
        "y",
        F.shiftright(_z_interleave(F.col("x"), F.col("y")), _Z_FILE_SHIFT).alias("zb"),
        F.shiftright(F.shiftleft(F.col("x"), _Z_BITS) + F.col("y"), _Z_FILE_SHIFT).alias("lb"),
    )
    xlo, xhi, ylo, yhi = _Z_BOX
    in_box = F.col("x").between(xlo, xhi) & F.col("y").between(ylo, yhi)

    def leg(bucket_col, name):
        return (
            z.groupBy(F.col(bucket_col).alias("bucket"))
            .agg(
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.min("y").alias("min_y"),
                F.max("y").alias("max_y"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(in_box, 1).otherwise(0)).alias("n_match"),
            )
            .select(F.lit(name).alias("layout"), "*")
        )

    stats = leg("zb", "zorder").unionByName(leg("lb", "linear"))
    hit = (
        (F.col("min_x") <= xhi)
        & (F.col("max_x") >= xlo)
        & (F.col("min_y") <= yhi)
        & (F.col("max_y") >= ylo)
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(hit, 1).otherwise(0)).alias("buckets_hit"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).alias("rows_scanned"),
            F.sum("n_match").alias("rows_matching"),
            F.round(
                F.sum("n_match").cast("double")
                / F.sum(F.when(hit, F.col("n_rows")).otherwise(0)),
                6,
            ).alias("scan_efficiency"),
        )
        .orderBy("layout")
    )


def _zorder_oracle() -> str:
    n = 1 << _Z_BITS
    xlo, xhi, ylo, yhi = _Z_BOX
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    interleave = " + ".join(terms)
    hit = (
        f"min_x <= {xhi} AND max_x >= {xlo} AND "
        f"min_y <= {yhi} AND max_y >= {ylo}"
    )
    box = f"x BETWEEN {xlo} AND {xhi} AND y BETWEEN {ylo} AND {yhi}"
    leg = (
        "SELECT '{name}' AS layout, {bucket} AS bucket, min(x) AS min_x, "
        "max(x) AS max_x, min(y) AS min_y, max(y) AS max_y, "
        "count(*) AS n_rows, "
        f"sum(CASE WHEN {box} THEN 1 ELSE 0 END) AS n_match "
        "FROM z GROUP BY 2"
    )
    return (
        "WITH base AS (SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) "
        "AS cents FROM events WHERE user_id >= 0 AND value >= 0), "
        "mx AS (SELECT max(user_id) + 1 AS mu, max(cents) + 1 AS mc FROM base), "
        f"xy AS (SELECT (user_id * {n}) // mu AS x, (cents * {n}) // mc AS y "
        "FROM base, mx), "
        f"z AS (SELECT x, y, ({interleave}) >> {_Z_FILE_SHIFT} AS zb, "
        f"((x << {_Z_BITS}) | y) >> {_Z_FILE_SHIFT} AS lb FROM xy), "
        "stats AS ("
        + leg.format(name="zorder", bucket="zb")
        + " UNION ALL "
        + leg.format(name="linear", bucket="lb")
        + ") "
        "SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets, "
        f"CAST(sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT) AS buckets_hit, "
        f"CAST(sum(CASE WHEN {hit} THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned, "
        "CAST(sum(n_match) AS BIGINT) AS rows_matching, "
        "round(CAST(sum(n_match) AS DOUBLE) / "
        f"sum(CASE WHEN {hit} THEN n_rows ELSE 0 END), 6) AS scan_efficiency "
        "FROM stats GROUP BY layout ORDER BY layout"
    )


def stream_dedup_rate_by_batch(spark, sf_dir):
    """Ingest-monitoring curve for the incremental dedup stream: docs
    arrive in micro-batches of 100 (batch = doc_id // 100, the
    arrival order ``stream_incremental_dedup`` replays); per batch,
    how many docs were novel vs rejected by the standing band-key
    state. A healthy fresh crawl holds a high novelty rate; a
    re-crawl shows it collapsing batch over batch — THE dashboard
    number an ingest pipeline alerts on.

    Same two-shuffle shape as ``stream_incremental_dedup`` (first
    arrival per key is a map-side-combined min; batching adds only a
    column), output is one row per batch forever — bounded."""
    from warpdb_spark.operators.dedup import portable_band_keys

    docs = _t(spark, sf_dir, "documents")
    keyed = portable_band_keys(docs, "doc_id", "text", n_bands=4)
    firsts = keyed.groupBy("key").agg(F.min("doc_id").alias("first_id"))
    per_doc = (
        keyed.join(firsts, "key")
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("first_id") < F.col("doc_id"), 1).otherwise(0)).alias(
                "dup"
            )
        )
    )
    g = per_doc.groupBy(F.floor(F.col("doc_id") / 100).alias("batch_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.lit(1) - F.col("dup")).alias("n_novel"),
    )
    return g.select(
        "batch_id",
        "n_docs",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_docs"), 6).alias("novelty_rate"),
    )


_PSI_BATCH = 250  # events per ingest micro-batch in the replay


def _drift_cents_counts(spark, sf_dir):
    """(batch_id, cents, n) ingest-replay counts shared by the drift
    legs: ONE map-side-combined groupBy collapses the corpus to
    per-batch integer-cent counts — the only corpus-sized stage either
    leg needs. PSI's $25 buckets regroup EXACTLY from cents
    (bucket = floor(cents/2500), and summing finer partial counts is
    the same integer count), so the unified entry derives both legs
    from one scan."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    rows = ev.select(
        F.floor(F.col("event_id") / _PSI_BATCH).alias("batch_id"),
        cents.alias("cents"),
    )
    return rows.groupBy("batch_id", "cents").agg(F.count(F.lit(1)).alias("n"))


def _psi_from_counts(counts):
    """PSI leg body over a precomputed (batch_id, bucket, n) frame.

    ``counts`` has MANY parentless consumers below (base appears in the
    grid build, the j join, and tot_b; cur in the grid union, j, and
    tot_c) — left inline (the r12 state) each reference re-scanned
    events and re-ran the corpus aggregation (6 scans in the live
    plan), so callers persist ``counts`` before passing it in."""
    base = counts.filter(F.col("batch_id") == 0).select(
        "bucket", F.col("n").alias("n_b")
    )
    cur = counts.filter(F.col("batch_id") >= 1)
    tot_c = cur.groupBy("batch_id").agg(F.sum("n").alias("tc"))
    tot_b = base.agg(F.sum("n_b").alias("tb"))
    # grid PER BATCH: the buckets that batch or the baseline touches —
    # NOT the global union across batches (a batch must not inherit
    # structural zeros introduced by some other batch's values; the
    # live monitor in streaming/drift.py scores one batch at a time
    # and the replay must agree — pinned in tests/test_streaming.py)
    grid = (
        tot_c.select("batch_id")
        .crossJoin(F.broadcast(base.select("bucket")))
        .unionByName(cur.select("batch_id", "bucket"))
        .distinct()
    )
    j = (
        grid.join(cur.select("batch_id", "bucket", F.col("n").alias("n_c")),
                  ["batch_id", "bucket"], "left")
        .join(F.broadcast(base), "bucket", "left")
        .join(F.broadcast(tot_c), "batch_id")
        .crossJoin(F.broadcast(tot_b))
        .select(
            "batch_id",
            F.coalesce(F.col("n_c"), F.lit(0)).alias("n_c"),
            F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
            "tc",
            "tb",
        )
    )
    from warpdb_spark.streaming.drift import psi_snapped_term, psi_usable

    usable = psi_usable(F.col("n_c"), F.col("n_b"))
    term = psi_snapped_term(
        F.col("n_c"), F.col("n_b"), F.col("tc"), F.col("tb")
    )
    return j.groupBy("batch_id").agg(
        F.max("tc").alias("n_batch"),
        F.max("tb").alias("n_base"),
        F.sum(F.when(usable, 1).otherwise(0)).cast("bigint").alias(
            "n_buckets_used"
        ),
        F.sum(F.when(usable, 0).otherwise(1)).cast("bigint").alias(
            "n_buckets_zero"
        ),
        F.round(F.sum(F.when(usable, term).otherwise(0)) / 1e6, 6).alias(
            "psi"
        ),
    )


def stream_psi_drift_by_batch(spark, sf_dir, cents_counts=None):
    """PSI drift per ingest micro-batch vs the FIRST batch — the
    streaming twin of ``events_psi_value_drift``, marrying the drift
    triangle with §2.9: a feature pipeline scores every arriving batch
    of purchase values against its standing baseline and alerts on the
    credit-scoring thresholds (0.1 / 0.25). Batches replay arrival
    order as event_id // 250 (the ``stream_dedup_rate_by_batch``
    convention); batch 0 is the baseline, batches ≥ 1 are scored.

    The entry runs the batch-identical plan: ONE map-side-combined
    groupBy collapses the corpus to (batch × $25-bucket) integer
    counts; the baseline bucket table and the batch totals are
    value-domain / batch-count bounded, so every join below the
    count collapse is a broadcast. PSI terms are micro-snapped
    integers before the sum and either-side-empty buckets are counted
    in n_buckets_zero, not epsilon-fudged (the
    ``events_psi_value_drift`` discipline). The LIVE stream is
    streaming/drift.py::attach_psi_monitor (foreachBatch + idempotent
    per-batch parquet), pytest-pinned to emit the identical PSI rows
    across real micro-batches (tests/test_streaming.py).

    ``cents_counts`` (r13): an optional precomputed — and persisted —
    ``(batch_id, cents, n)`` frame from ``_drift_cents_counts``; the
    $25 buckets regroup from it exactly (integer partial counts sum to
    the same bucket counts), letting the unified entry feed both legs
    from one corpus scan. Standalone (None), the plan is the r12 one
    plus a persist of the bucket-counts aggregate: the counts frame
    has ~6 parentless consumers in the final plan (base×3, cur×2,
    tot_c×2 expansions), each of which re-scanned events and re-ran
    the corpus aggregation (guide §5 caching: reused AND expensive)."""
    if cents_counts is not None:
        counts = cents_counts.groupBy(
            "batch_id", F.floor(F.col("cents") / 2500).alias("bucket")
        ).agg(F.sum("n").alias("n"))
    else:
        ev = _t(spark, sf_dir, "events").filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & F.col("event_id").isNotNull()
        )
        cents = F.round(F.col("value") * 100, 0).cast("long")
        rows = ev.select(
            F.floor(F.col("event_id") / _PSI_BATCH).alias("batch_id"),
            F.floor(cents / 2500).alias("bucket"),
        )
        counts = persist_scoped(
            rows.groupBy("batch_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
        )
    return _psi_from_counts(counts)


def stream_ks_drift_by_batch(spark, sf_dir, cents_counts=None):
    """Two-sample KS distance per ingest micro-batch vs the FIRST
    batch — the SHAPE leg of the streaming drift monitor
    (``stream_psi_drift_by_batch`` is the binned-share leg; a mixture
    change inside shared $25 buckets moves KS while PSI sleeps, and
    vice versa for mass moving between buckets). Same arrival replay
    (event_id // 250, batch 0 = baseline) and the
    ``stats_ks_two_sample`` exactness discipline: integer cents, the
    ECDF compare on integer cross-products |cum_b·n₀ − cum₀·n_b| in
    DECIMAL(38,0)/HUGEINT, argmax pinned (diff DESC, cents ASC).

    Scale shape: one map-side-combined groupBy collapses the corpus
    to (batch × distinct-cent) rows; every window below runs over
    frames bounded by the VALUE DOMAIN per batch (the cumulative walk
    partitions on batch_id, and each partition holds at most
    |cent domain| rows no matter the corpus size).

    ``cents_counts`` (r13): optional precomputed/persisted counts from
    ``_drift_cents_counts`` (the unified entry's shared scan).
    Standalone, the leg persists its own counts aggregate — same
    multi-consumer rationale as the PSI leg (the r12 plan re-scanned
    events ~6 times, once per parentless counts reference)."""
    if cents_counts is not None:
        counts = cents_counts
    else:
        counts = persist_scoped(_drift_cents_counts(spark, sf_dir))
    base = counts.filter(F.col("batch_id") == 0).select(
        "cents", F.col("n").alias("n_b")
    )
    cur = counts.filter(F.col("batch_id") >= 1)
    tot_c = cur.groupBy("batch_id").agg(F.sum("n").alias("tc"))
    tot_b = base.agg(F.sum("n_b").alias("tb"))
    # evaluation grid: for each batch, every cent value either side
    # steps at (the union support — an ECDF gap can peak at a point
    # only one side has)
    grid = (
        tot_c.select("batch_id")
        .crossJoin(F.broadcast(base.select("cents")))
        .unionByName(cur.select("batch_id", "cents"))
        .distinct()
    )
    j = (
        grid.join(
            cur.select("batch_id", "cents", F.col("n").alias("n_c")),
            ["batch_id", "cents"],
            "left",
        )
        .join(F.broadcast(base), "cents", "left")
        .select(
            "batch_id",
            "cents",
            F.coalesce("n_c", F.lit(0)).alias("n_c"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    wcum = (
        Window.partitionBy("batch_id")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = j.select(
        "batch_id",
        "cents",
        F.sum("n_c").over(wcum).alias("cum_c"),
        F.sum("n_b").over(wcum).alias("cum_b"),
    ).join(F.broadcast(tot_c), "batch_id").crossJoin(F.broadcast(tot_b))
    dnum = F.abs(
        F.col("cum_c").cast("decimal(38,0)") * F.col("tb")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("tc")
    )
    r = c.filter(F.col("tb") > 0).select(
        "batch_id", "cents", "tc", "tb", dnum.alias("dnum")
    )
    pick = Window.partitionBy("batch_id").orderBy(
        F.desc("dnum"), F.asc("cents")
    )
    top = r.withColumn("rn", F.row_number().over(pick)).filter(
        F.col("rn") == 1
    )
    ks = F.col("dnum").cast("double") / (
        F.col("tc").cast("double") * F.col("tb")
    )
    return top.select(
        "batch_id",
        F.col("tc").alias("n_batch"),
        F.col("tb").alias("n_base"),
        F.round(ks, 6).alias("ks_d"),
        F.round(F.col("cents") / 100.0, 2).alias("ks_at_value"),
        F.round(
            F.sqrt(
                F.col("tc").cast("double")
                * F.col("tb")
                / (F.col("tc") + F.col("tb"))
            )
            * ks,
            6,
        ).alias("ks_stat"),
    )


def stream_unified_drift_by_batch(spark, sf_dir):
    """The UNIFIED per-batch drift report — both legs of the streaming
    drift monitor in one row per micro-batch: PSI (binned shares;
    fires when mass moves between $25 buckets) joined to KS (ECDF
    shape; fires when mass moves WITHIN shared buckets, where PSI
    sleeps). One deployment reads one table and alerts on either
    signal. Reuses the two driver-green leg entries verbatim and adds
    a batch_id join of two |batches|-row frames — no new corpus
    surface; the oracle nests both leg oracles the same way. Live
    twin: streaming/drift.py::attach_drift_monitor (one foreachBatch
    writing psi + ks columns together), pytest-pinned to these rows
    (tests/test_streaming.py::TestStreamUnifiedDrift).

    r13: both legs are fed ONE persisted (batch_id, cents, n) counts
    frame (``_drift_cents_counts``) — PSI's $25 buckets regroup from
    it exactly — so the whole report makes a single pass over events
    (the r12 plan had 14 live parquet scans: each leg re-derived its
    counts once per parentless plan branch)."""
    cc = persist_scoped(_drift_cents_counts(spark, sf_dir))
    psi = stream_psi_drift_by_batch(spark, sf_dir, cents_counts=cc)
    ks = stream_ks_drift_by_batch(spark, sf_dir, cents_counts=cc).select(
        "batch_id", "ks_d", "ks_at_value", "ks_stat"
    )
    return psi.join(ks, "batch_id")


QUERIES = {
    "scd2_event_intervals": scd2_event_intervals,
    "stream_incremental_dedup": stream_incremental_dedup,
    "stream_psi_drift_by_batch": stream_psi_drift_by_batch,
    "stream_ks_drift_by_batch": stream_ks_drift_by_batch,
    "stream_unified_drift_by_batch": stream_unified_drift_by_batch,
    "table_partition_skew_report": table_partition_skew_report,
    "table_zorder_layout": table_zorder_layout,
    "events_ohlc_bars": events_ohlc_bars,
    "stream_dedup_rate_by_batch": stream_dedup_rate_by_batch,
    "table_diff_cdc": table_diff_cdc,
    "events_equidepth_quantiles": events_equidepth_quantiles,
    "events_equidepth_approx": events_equidepth_approx,
    "embedding_pq_codes": embedding_pq_codes,
    "stream_static_enrich": stream_static_enrich,
    "similarity_pq_adc": similarity_pq_adc,
    "similarity_ivfpq": similarity_ivfpq,
    "similarity_ivfpq_residual": similarity_ivfpq_residual,
    "similarity_ivfpq_batch": similarity_ivfpq_batch,
    "similarity_pq_batch": similarity_pq_batch,
    "similarity_pq_rerank": similarity_pq_rerank,
    "similarity_pq_persisted_index": similarity_pq_persisted_index,
    "similarity_pq_index_refresh": similarity_pq_index_refresh,
    "stream_pq_delta_encode": stream_pq_delta_encode,
    "dialect_rollup_grouping": dialect_rollup_grouping,
    "dialect_grouping_sets": dialect_grouping_sets,
    "merge_upsert_orders": merge_upsert_orders,
    "profile_table_columns": profile_table_columns,
    "table_fingerprint": table_fingerprint,
    "stats_correlation_matrix": stats_correlation_matrix,
    "window_distinct_count": window_distinct_count,
    "events_value_histogram": events_value_histogram,
    "events_rollup_cascade": events_rollup_cascade,
}


# Shared CTE prefix replaying PQ training-free codebooks (md5 init),
# per-subspace round-6 argmin codes, and the query lookup tables —
# consumed by both PQ search oracles.
# {init_where}: predicate on the codebook-INIT corpus slice — "" for
# the full-corpus builds; the refresh entry trains on the base slice
# only (encode/ADC always cover the full corpus).
_PQ_CTES_T = """
WITH init AS (
    SELECT row_number() OVER (ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id) - 1 AS code,
           CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings{init_where}
    ORDER BY md5(concat('42_', CAST(vec_id AS VARCHAR))), vec_id
    LIMIT 32
), subs AS (
    SELECT unnest(generate_series(0, 15)) AS sub
), codebook AS (
    SELECT s.sub, i.code, i.cv[(s.sub * 4 + 1):(s.sub * 4 + 4)] AS cvs
    FROM init i CROSS JOIN subs s
), ev AS (
    SELECT e.vec_id, s.sub,
           CAST(e.embedding AS DOUBLE[])[(s.sub * 4 + 1):(s.sub * 4 + 4)] AS evs
    FROM embeddings e CROSS JOIN subs s
), codes AS (
    SELECT vec_id, sub, code FROM (
        SELECT ev.vec_id, ev.sub, c.code,
               row_number() OVER (
                   PARTITION BY ev.vec_id, ev.sub
                   ORDER BY round(list_sum([(ev.evs[j] - c.cvs[j]) * (ev.evs[j] - c.cvs[j])
                                            for j in generate_series(1, 4)]), 6), c.code
               ) AS rn
        FROM ev JOIN codebook c ON ev.sub = c.sub
    ) WHERE rn = 1
), qlut AS (
    SELECT q.vec_id AS query_id, c.sub, c.code,
           list_sum([(q.evs[j] - c.cvs[j]) * (q.evs[j] - c.cvs[j])
                     for j in generate_series(1, 4)]) AS l
    FROM ev q JOIN codebook c ON q.sub = c.sub
    WHERE q.vec_id < 10
), adc AS (
    SELECT l.query_id, cd.vec_id AS neighbor_id, round(sum(l.l), 6) AS dist2
    FROM codes cd JOIN qlut l ON cd.sub = l.sub AND cd.code = l.code
    WHERE cd.vec_id != l.query_id
    GROUP BY 1, 2
)
"""

_PQ_CTES = _PQ_CTES_T.format(init_where="")

_PQ_ADC_SQL = _PQ_CTES + """
SELECT query_id, neighbor_id, dist2, rank FROM (
    SELECT query_id, neighbor_id, dist2,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS INTEGER) AS rank
    FROM adc
) WHERE rank <= 5
"""

_PQ_RERANK_SQL = _PQ_CTES + """
, shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rn
        FROM adc
    ) WHERE rn <= 20
), exact AS (
    SELECT s.query_id, s.neighbor_id,
           round(list_sum([(CAST(c.embedding AS DOUBLE[])[j] - CAST(q.embedding AS DOUBLE[])[j]) *
                           (CAST(c.embedding AS DOUBLE[])[j] - CAST(q.embedding AS DOUBLE[])[j])
                           for j in generate_series(1, len(c.embedding))]), 6) AS dist2
    FROM shortlist s
    JOIN embeddings c ON c.vec_id = s.neighbor_id
    JOIN embeddings q ON q.vec_id = s.query_id
)
SELECT query_id, neighbor_id, dist2, rank FROM (
    SELECT query_id, neighbor_id, dist2,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS INTEGER) AS rank
    FROM exact
) WHERE rank <= 5
"""


ORACLES = {
    # micro-snapped PSI per arrival batch vs batch 0, the
    # events_psi_value_drift grid discipline on the batch axis
    "stream_psi_drift_by_batch": (
        "WITH rows_ AS (SELECT CAST(event_id // 250 AS BIGINT) AS batch_id, "
        "CAST(floor(CAST(round(value * 100, 0) AS BIGINT) / 2500.0) AS BIGINT) "
        "AS bucket FROM events WHERE event_type = 'purchase' "
        "AND value IS NOT NULL AND event_id IS NOT NULL), "
        "c AS (SELECT batch_id, bucket, count(*) AS n FROM rows_ GROUP BY 1, 2), "
        "base AS (SELECT bucket, n AS n_b FROM c WHERE batch_id = 0), "
        "cur AS (SELECT * FROM c WHERE batch_id >= 1), "
        "tc AS (SELECT batch_id, CAST(sum(n) AS BIGINT) AS tc FROM cur GROUP BY 1), "
        "tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM base), "
        "grid AS (SELECT DISTINCT batch_id, bucket FROM ("
        "SELECT tc.batch_id, base.bucket FROM tc CROSS JOIN base "
        "UNION ALL SELECT batch_id, bucket FROM cur) u), "
        "j AS (SELECT grid.batch_id, coalesce(cur.n, 0) AS n_c, "
        "coalesce(base.n_b, 0) AS n_b, tc.tc, tb.tb FROM grid "
        "LEFT JOIN cur ON cur.batch_id = grid.batch_id "
        "AND cur.bucket = grid.bucket "
        "LEFT JOIN base ON base.bucket = grid.bucket "
        "JOIN tc ON tc.batch_id = grid.batch_id CROSS JOIN tb) "
        "SELECT batch_id, CAST(max(tc) AS BIGINT) AS n_batch, "
        "CAST(max(tb) AS BIGINT) AS n_base, "
        "CAST(sum(CASE WHEN n_c > 0 AND n_b > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_buckets_used, "
        "CAST(sum(CASE WHEN n_c > 0 AND n_b > 0 THEN 0 ELSE 1 END) AS BIGINT) "
        "AS n_buckets_zero, "
        "round(CAST(sum(CASE WHEN n_c > 0 AND n_b > 0 THEN "
        "CAST(round((CAST(n_c AS DOUBLE) / tc - CAST(n_b AS DOUBLE) / tb) "
        "* ln((CAST(n_c AS DOUBLE) / tc) / (CAST(n_b AS DOUBLE) / tb)) * 1e6, 0) "
        "AS BIGINT) ELSE 0 END) AS DOUBLE) / 1e6, 6) AS psi "
        "FROM j GROUP BY batch_id"
    ),
    # per-batch ECDF compare on the union support; integer
    # cross-products in HUGEINT, argmax pinned per batch
    "stream_ks_drift_by_batch": (
        "WITH rows_ AS (SELECT CAST(event_id // 250 AS BIGINT) AS batch_id, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events "
        "WHERE event_type = 'purchase' AND value IS NOT NULL "
        "AND event_id IS NOT NULL), "
        "c AS (SELECT batch_id, cents, CAST(count(*) AS BIGINT) AS n "
        "FROM rows_ GROUP BY 1, 2), "
        "base AS (SELECT cents, n AS n_b FROM c WHERE batch_id = 0), "
        "cur AS (SELECT * FROM c WHERE batch_id >= 1), "
        "tc AS (SELECT batch_id, CAST(sum(n) AS BIGINT) AS tc FROM cur "
        "GROUP BY 1), "
        "tb AS (SELECT CAST(coalesce(sum(n_b), 0) AS BIGINT) AS tb FROM base), "
        "grid AS (SELECT DISTINCT batch_id, cents FROM ("
        "SELECT tc.batch_id, base.cents FROM tc CROSS JOIN base "
        "UNION ALL SELECT batch_id, cents FROM cur) u), "
        "j AS (SELECT grid.batch_id, grid.cents, coalesce(cur.n, 0) AS n_c, "
        "coalesce(base.n_b, 0) AS n_b FROM grid "
        "LEFT JOIN cur ON cur.batch_id = grid.batch_id "
        "AND cur.cents = grid.cents "
        "LEFT JOIN base ON base.cents = grid.cents), "
        "cum AS (SELECT batch_id, cents, "
        "sum(n_c) OVER (PARTITION BY batch_id ORDER BY cents) AS cum_c, "
        "sum(n_b) OVER (PARTITION BY batch_id ORDER BY cents) AS cum_b "
        "FROM j), "
        "r AS (SELECT cum.batch_id, cents, tc.tc, tb.tb, "
        "abs(CAST(cum_c AS HUGEINT) * tb.tb - CAST(cum_b AS HUGEINT) * tc.tc) "
        "AS dnum FROM cum JOIN tc ON tc.batch_id = cum.batch_id "
        "CROSS JOIN tb WHERE tb.tb > 0), "
        "p AS (SELECT *, row_number() OVER (PARTITION BY batch_id "
        "ORDER BY dnum DESC, cents) AS rn FROM r) "
        "SELECT batch_id, tc AS n_batch, tb AS n_base, "
        "round(CAST(dnum AS DOUBLE) / (CAST(tc AS DOUBLE) * tb), 6) AS ks_d, "
        "round(cents / 100.0, 2) AS ks_at_value, "
        "round(sqrt(CAST(tc AS DOUBLE) * tb / (tc + tb)) "
        "* (CAST(dnum AS DOUBLE) / (CAST(tc AS DOUBLE) * tb)), 6) AS ks_stat "
        "FROM p WHERE rn = 1"
    ),
    # same band-key CTEs as stream_incremental_dedup, rolled up per
    # arrival batch of 100 docs
    "stream_dedup_rate_by_batch": (
        r"WITH norm AS (SELECT doc_id, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS n FROM documents), "
        "sh AS (SELECT doc_id, "
        "CASE WHEN len(string_split(n,' ')) < 3 THEN [n] "
        "ELSE list_distinct([array_to_string(string_split(n,' ')[i:i+2], ' ') "
        "for i in generate_series(1, len(string_split(n,' '))-2)]) END AS g "
        "FROM norm), "
        "sig AS (SELECT doc_id, list_min(list_transform(g, gm -> substr(md5('0|' || gm), 1, 16))) AS h0, list_min(list_transform(g, gm -> substr(md5('1|' || gm), 1, 16))) AS h1, list_min(list_transform(g, gm -> substr(md5('2|' || gm), 1, 16))) AS h2, list_min(list_transform(g, gm -> substr(md5('3|' || gm), 1, 16))) AS h3 FROM sh), "
        "inv AS (SELECT doc_id, unnest(['0|' || h0, '1|' || h1, '2|' || h2, '3|' || h3]) AS key FROM sig), "
        "f AS (SELECT key, min(doc_id) AS first_id FROM inv GROUP BY key), "
        "p AS (SELECT inv.doc_id, "
        "max(CASE WHEN first_id < inv.doc_id THEN 1 ELSE 0 END) AS dup "
        "FROM inv JOIN f USING (key) GROUP BY inv.doc_id) "
        "SELECT CAST(doc_id // 100 AS BIGINT) AS batch_id, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(1 - dup) AS BIGINT) AS n_novel, "
        "round(sum(1 - dup) * 1.0 / count(*), 6) AS novelty_rate "
        "FROM p GROUP BY 1"
    ),
    # md5-hex-prefix bucket replayed via the 0x-cast trick
    "table_partition_skew_report": (
        "WITH p AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        "::UBIGINT % 32 AS INT) AS bucket, n_chars FROM documents), "
        "per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(n_chars) AS BIGINT) AS n_bytes FROM p GROUP BY bucket), "
        "tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tr, "
        "CAST(sum(n_bytes) AS BIGINT) AS tb, count(*) AS nb FROM per) "
        "SELECT bucket, n_rows, n_bytes, "
        "round(n_rows * nb * 1.0 / tr, 6) AS row_skew, "
        "round(n_bytes * nb * 1.0 / tb, 6) AS byte_skew FROM per, tot"
    ),
    # identical Morton interleave, file stats, and box pruning math
    "table_zorder_layout": _zorder_oracle(),
    # open/close via first_value over (ts, event_id) asc/desc — the
    # window spelling of min_by/max_by on the struct key
    "events_ohlc_bars": (
        "WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bar_ts, "
        "value, ts, event_id FROM events WHERE value IS NOT NULL), "
        "w AS (SELECT event_type, bar_ts, value, "
        "first_value(value) OVER (PARTITION BY event_type, bar_ts "
        "ORDER BY ts, event_id) AS open_v, "
        "first_value(value) OVER (PARTITION BY event_type, bar_ts "
        "ORDER BY ts DESC, event_id DESC) AS close_v FROM b) "
        "SELECT event_type, bar_ts, min(open_v) AS open_v, "
        "max(value) AS high_v, min(value) AS low_v, "
        "min(close_v) AS close_v, CAST(count(*) AS BIGINT) AS n_events, "
        "round(sum(value), 4) AS volume "
        "FROM w GROUP BY event_type, bar_ts ORDER BY event_type, bar_ts"
    ),
    # band keys replayed bit-for-bit (md5-min shingle hash per seed);
    # novelty = first arrival of every band key
    "stream_incremental_dedup": (
        r"WITH norm AS (SELECT doc_id, "
        r"trim(regexp_replace(lower(text),'\s+',' ','g')) AS n FROM documents), "
        "sh AS (SELECT doc_id, "
        "CASE WHEN len(string_split(n,' ')) < 3 THEN [n] "
        "ELSE list_distinct([array_to_string(string_split(n,' ')[i:i+2], ' ') "
        "for i in generate_series(1, len(string_split(n,' '))-2)]) END AS g "
        "FROM norm), "
        "sig AS (SELECT doc_id, list_min(list_transform(g, gm -> substr(md5('0|' || gm), 1, 16))) AS h0, list_min(list_transform(g, gm -> substr(md5('1|' || gm), 1, 16))) AS h1, list_min(list_transform(g, gm -> substr(md5('2|' || gm), 1, 16))) AS h2, list_min(list_transform(g, gm -> substr(md5('3|' || gm), 1, 16))) AS h3 FROM sh), "
        "inv AS (SELECT doc_id, unnest(['0|' || h0, '1|' || h1, '2|' || h2, '3|' || h3]) AS key FROM sig), "
        "f AS (SELECT key, min(doc_id) AS first_id FROM inv GROUP BY key) "
        "SELECT inv.doc_id, "
        "CAST(sum(CASE WHEN first_id < inv.doc_id THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_dup_bands, "
        "CAST(sum(CASE WHEN first_id < inv.doc_id THEN 1 ELSE 0 END) AS BIGINT) = 0 "
        "AS is_novel "
        "FROM inv JOIN f USING (key) GROUP BY inv.doc_id"
    ),
    "events_equidepth_approx": """
        WITH q AS (
            SELECT event_type, value,
                   ntile(4) OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS qt
            FROM events
        ), counts AS (
            SELECT event_type,
                   count(*) AS n_total,
                   CAST(sum(CASE WHEN qt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN qt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN qt = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                   CAST(sum(CASE WHEN qt = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
            FROM q GROUP BY event_type
        )
        SELECT event_type, n_total,
               abs(n1 - n_total / 4.0) <= n_total * 0.02 AS ok_q1,
               abs(n2 - n_total / 4.0) <= n_total * 0.02 AS ok_q2,
               abs(n3 - n_total / 4.0) <= n_total * 0.02 AS ok_q3,
               abs(n4 - n_total / 4.0) <= n_total * 0.02 AS ok_q4
        FROM counts ORDER BY event_type
    """,
    "stream_static_enrich": """
        SELECT c.c_nationkey,
               count(*) AS n_events,
               round(sum(e.value), 4) AS sum_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey
    """,
    "similarity_pq_adc": _PQ_ADC_SQL,
    "similarity_ivfpq": _IVFPQ_SQL,
    "similarity_ivfpq_residual": _IVFPQ_RES_SQL,
    # same end-to-end replay, query filter widened to every vector
    "similarity_ivfpq_batch": _IVFPQ_RES_SQL.replace(" AND vec_id < 10", ""),
    "similarity_pq_rerank": _PQ_RERANK_SQL,
    # same ADC replay, qlut filter widened to every vector
    "similarity_pq_batch": _PQ_ADC_SQL.replace("\n    WHERE q.vec_id < 10", ""),
    # identical construction to the ADC entry - the persisted index must
    # reproduce the exact same codes, so the same build+lookup replay IS
    # the oracle
    "similarity_pq_persisted_index": _PQ_ADC_SQL,
    # same ADC pipeline with the codebook INIT restricted to the base
    # slice (what the frozen-codebook refresh actually computes); the
    # oracle proves base-train + delta-encode + union == one pipeline
    "similarity_pq_index_refresh": _PQ_CTES_T.format(
        init_where=f" WHERE vec_id < {_PQ_REFRESH_CUTOFF}"
    ) + """
SELECT query_id, neighbor_id, dist2, rank FROM (
    SELECT query_id, neighbor_id, dist2,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS INTEGER) AS rank
    FROM adc
) WHERE rank <= 5
""",
    # the same base-slice-trained codebook + codes CTEs, restricted to
    # the delta and grouped by the arrival micro-batch: code assignment
    # is row-local, so the per-batch checksums must match Spark's
    # batch-by-batch frozen-codebook encode exactly
    "stream_pq_delta_encode": _PQ_CTES_T.format(
        init_where=f" WHERE vec_id < {_PQ_REFRESH_CUTOFF}"
    ) + f"""
SELECT CAST((vec_id - {_PQ_REFRESH_CUTOFF}) // 50 AS BIGINT) AS batch_id,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(sum(code) AS BIGINT) AS code_sum,
       min(vec_id) AS first_vec, max(vec_id) AS last_vec
FROM codes WHERE vec_id >= {_PQ_REFRESH_CUTOFF}
GROUP BY 1
""",
    "embedding_pq_codes": """
        WITH init AS (
            SELECT vec_id AS code_id, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
        ), subs AS (
            SELECT unnest([0, 1, 2, 3]) AS sub
        ), codebook AS (
            SELECT s.sub, i.code_id, i.cv[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS cvs
            FROM init i CROSS JOIN subs s
        ), ev AS (
            SELECT e.vec_id, s.sub,
                   CAST(e.embedding AS DOUBLE[])[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS evs
            FROM embeddings e CROSS JOIN subs s
        ), d AS (
            SELECT ev.vec_id, ev.sub, c.code_id,
                   round(list_sum([(ev.evs[j] - c.cvs[j]) * (ev.evs[j] - c.cvs[j])
                                   for j in generate_series(1, 16)]), 6) AS dist2
            FROM ev JOIN codebook c ON ev.sub = c.sub
        ), a AS (
            SELECT vec_id, sub, code_id, dist2,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist2, code_id) AS rn
            FROM d
        )
        SELECT vec_id,
               max(CASE WHEN sub = 0 THEN code_id END) AS code_0,
               max(CASE WHEN sub = 1 THEN code_id END) AS code_1,
               max(CASE WHEN sub = 2 THEN code_id END) AS code_2,
               max(CASE WHEN sub = 3 THEN code_id END) AS code_3,
               round(sum(dist2), 6) AS quant_err
        FROM a WHERE rn = 1
        GROUP BY vec_id
    """,
    "scd2_event_intervals": """
        SELECT user_id,
               event_type AS state,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        FROM events WHERE user_id % 11 = 0
    """,
    "table_diff_cdc": """
        WITH base AS (
            SELECT o_orderkey AS key,
                   md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
                       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       o_orderpriority)) AS b_digest
            FROM orders
        ), revised_src AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 500.0
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderpriority
            FROM orders WHERE o_orderkey % 13 != 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                   o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 29 = 0
        ), revised AS (
            SELECT o_orderkey AS key,
                   md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
                       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       o_orderpriority)) AS r_digest
            FROM revised_src
        )
        SELECT COALESCE(b.key, r.key) AS key,
               CASE WHEN b.key IS NULL THEN 'added'
                    WHEN r.key IS NULL THEN 'removed'
                    WHEN b_digest != r_digest THEN 'changed' END AS diff_type
        FROM base b FULL OUTER JOIN revised r ON b.key = r.key
        WHERE (CASE WHEN b.key IS NULL THEN 'added'
                    WHEN r.key IS NULL THEN 'removed'
                    WHEN b_digest != r_digest THEN 'changed' END) IS NOT NULL
    """,
    "events_equidepth_quantiles": """
        WITH q AS (
            SELECT event_type, value, event_id,
                   ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
            FROM events
        )
        SELECT event_type, quartile,
               count(*) AS n,
               round(min(value), 6) AS lo,
               round(max(value), 6) AS hi
        FROM q
        GROUP BY event_type, quartile
        ORDER BY event_type, quartile
    """,
    "dialect_rollup_grouping": """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g_flag, g_status, l_returnflag, l_linestatus
    """,
    "dialect_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "merge_upsert_orders": """
        WITH base AS (
            SELECT * FROM orders WHERE o_orderkey % 3 != 0
        ), batch AS (
            SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 IN (0, 5)
        )
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM batch
        UNION ALL
        SELECT b.o_orderkey, b.o_orderstatus,
               CAST(b.o_totalprice AS DOUBLE) AS o_totalprice
        FROM base b ANTI JOIN batch u ON b.o_orderkey = u.o_orderkey
    """,
    "profile_table_columns": """
        WITH one AS (
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
                   count(DISTINCT l_quantity) AS q_distinct,
                   round(min(l_quantity), 6) AS q_min, round(max(l_quantity), 6) AS q_max,
                   round(avg(l_quantity), 6) AS q_mean,
                   CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS e_nulls,
                   count(DISTINCT l_extendedprice) AS e_distinct,
                   round(min(l_extendedprice), 6) AS e_min, round(max(l_extendedprice), 6) AS e_max,
                   round(avg(l_extendedprice), 6) AS e_mean,
                   CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
                   count(DISTINCT l_discount) AS d_distinct,
                   round(min(l_discount), 6) AS d_min, round(max(l_discount), 6) AS d_max,
                   round(avg(l_discount), 6) AS d_mean,
                   CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
                   count(DISTINCT l_tax) AS t_distinct,
                   round(min(l_tax), 6) AS t_min, round(max(l_tax), 6) AS t_max,
                   round(avg(l_tax), 6) AS t_mean
            FROM lineitem
        )
        SELECT 'l_quantity' AS col_name, n_rows, q_nulls AS n_nulls,
               q_distinct AS n_distinct, q_min AS min_v, q_max AS max_v, q_mean AS mean_v FROM one
        UNION ALL
        SELECT 'l_extendedprice', n_rows, e_nulls, e_distinct, e_min, e_max, e_mean FROM one
        UNION ALL
        SELECT 'l_discount', n_rows, d_nulls, d_distinct, d_min, d_max, d_mean FROM one
        UNION ALL
        SELECT 'l_tax', n_rows, t_nulls, t_distinct, t_min, t_max, t_mean FROM one
    """,
    "table_fingerprint": """
        SELECT o_orderstatus AS segment,
               count(*) AS n_rows,
               count(DISTINCT h) AS n_distinct_rows,
               min(h) AS min_h, max(h) AS max_h
        FROM (
            SELECT o_orderstatus,
                   md5(concat_ws('|',
                       CAST(o_orderkey AS VARCHAR),
                       CAST(o_custkey AS VARCHAR),
                       o_orderstatus,
                       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       o_orderpriority)) AS h
            FROM orders
        )
        GROUP BY o_orderstatus
    """,
    "stats_correlation_matrix": """
        WITH one AS (SELECT
            round(corr(l_quantity, l_extendedprice), 6) AS qe_r,
            round(covar_samp(l_quantity, l_extendedprice), 6) AS qe_c,
            round(corr(l_quantity, l_discount), 6) AS qd_r,
            round(covar_samp(l_quantity, l_discount), 6) AS qd_c,
            round(corr(l_quantity, l_tax), 6) AS qt_r,
            round(covar_samp(l_quantity, l_tax), 6) AS qt_c,
            round(corr(l_extendedprice, l_discount), 6) AS ed_r,
            round(covar_samp(l_extendedprice, l_discount), 6) AS ed_c,
            round(corr(l_extendedprice, l_tax), 6) AS et_r,
            round(covar_samp(l_extendedprice, l_tax), 6) AS et_c,
            round(corr(l_discount, l_tax), 6) AS dt_r,
            round(covar_samp(l_discount, l_tax), 6) AS dt_c
        FROM lineitem)
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, qe_r AS pearson_r, qe_c AS covar FROM one
        UNION ALL SELECT 'l_quantity', 'l_discount', qd_r, qd_c FROM one
        UNION ALL SELECT 'l_quantity', 'l_tax', qt_r, qt_c FROM one
        UNION ALL SELECT 'l_extendedprice', 'l_discount', ed_r, ed_c FROM one
        UNION ALL SELECT 'l_extendedprice', 'l_tax', et_r, et_c FROM one
        UNION ALL SELECT 'l_discount', 'l_tax', dt_r, dt_c FROM one
    """,
    "window_distinct_count": """
        WITH ev AS (
            SELECT event_id, user_id, event_type, ts
            FROM events WHERE user_id % 7 = 0
        ), flagged AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (
                       PARTITION BY user_id, event_type ORDER BY ts, event_id
                   ) = 1 THEN 1 ELSE 0 END AS first_seen
            FROM ev
        )
        SELECT event_id, user_id,
               CAST(sum(first_seen) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_distinct_types
        FROM flagged
    """,
    "events_value_histogram": """
        WITH bounds AS (
            SELECT min(value) AS lo, max(value) AS hi FROM events
        )
        SELECT CAST(least(floor((value - lo) / ((hi - lo) / 20)), 19) AS BIGINT) AS bucket,
               count(*) AS n,
               round(avg(value), 6) AS mean_value
        FROM events, bounds
        GROUP BY 1 ORDER BY 1
    """,
    "events_rollup_cascade": """
        SELECT date_trunc('day', ts) AS d,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value,
               round(sum(value) / count(*), 6) AS avg_value,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events
        GROUP BY 1 ORDER BY 1
    """,
}

# unified drift: both leg oracles nest verbatim; the join adds nothing
# the legs don't already hash-check
ORACLES["stream_unified_drift_by_batch"] = (
    "WITH psi AS ("
    + ORACLES["stream_psi_drift_by_batch"]
    + "), ks AS ("
    + ORACLES["stream_ks_drift_by_batch"]
    + ") SELECT psi.batch_id, psi.n_batch, psi.n_base, "
    "psi.n_buckets_used, psi.n_buckets_zero, psi.psi, "
    "ks.ks_d, ks.ks_at_value, ks.ks_stat "
    "FROM psi JOIN ks USING (batch_id)"
)
