"""Core SQL operator inventory (SURVEY §2.2-§2.8) on the TPC-H-ish
driver tables, each with a DuckDB oracle.

Entries prefixed ``dialect_`` run through the WarpDB front-end
(tokenizer → parser → Column compiler) to prove the whole pipeline;
the rest use the DataFrame API directly. Float aggregates are rounded
in BOTH engines to absorb summation-order differences (Spark partial
aggregation vs DuckDB's single-node sum — same IEEE doubles, different
order).

Scale notes (100 TB stance, verified with .explain on sf0.1):
- every scan carries its filter/projection into the parquet reader
  (PushedFilters/ReadSchema);
- dim joins (region/nation/supplier) are explicit ``broadcast()`` —
  no shuffle of the fact table for those;
- fact-fact joins shuffle on the join key once; aggregations ride the
  same hash partitioning where possible;
- nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from warpdb_spark.api import WarpDB
from warpdb_spark.persist import persist_scoped


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session-keyed metadata memo (r12): see sources.readers.cached_table
    # (events keeps the defensive legacy-conf handling there)
    from warpdb_spark.sources.readers import cached_table

    return cached_table(spark, sf_dir, name)


def _db(spark: SparkSession, sf_dir: str, *names: str) -> WarpDB:
    db = WarpDB(df=_t(spark, sf_dir, names[0]), table_name=names[0], spark=spark)
    for n in names[1:]:
        db.attach(n, _t(spark, sf_dir, n))
    return db


# --- scan / filter / project (reference flagship, include/warpdb.hpp:18) ---

def flagship_filter_project(spark, sf_dir):
    """``price * quantity WHERE price > 10`` through the mini-language
    (src/warpdb.cpp:199-257), on lineitem stand-in columns."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query("l_extendedprice * l_quantity WHERE l_extendedprice > 10")


def dialect_expression_projection(spark, sf_dir):
    """Arithmetic + precedence + UDF call through the dialect
    (src/expression.cpp:144-235, custom.cu:1-3)."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
        "discount(l_extendedprice, 0.9) AS discounted "
        "FROM lineitem WHERE l_quantity < 3"
    )


def dialect_predicates(spark, sf_dir):
    """Superset predicates BETWEEN/IN/LIKE/NOT through the dialect
    (SURVEY §2.2 ❌ row — we add)."""
    db = _db(spark, sf_dir, "part")
    return db.query_sql(
        "SELECT p_partkey AS pk, p_name AS name, p_size AS size FROM part "
        "WHERE p_size BETWEEN 10 AND 20 AND p_type IN ('ECONOMY', 'PROMO') "
        "AND p_name LIKE '%bolt%' AND NOT p_brand == 'Brand#13'"
    )


def expr_case_when(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").alias("pk"),
            F.when(F.col("p_size") < 10, "small")
            .when(F.col("p_size") < 30, "medium")
            .otherwise("large")
            .alias("size_class"),
        )
    )


def expr_string_functions(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.upper(F.col("c_mktsegment")).alias("seg_upper"),
        F.length(F.col("c_name")).alias("name_len"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_name")).alias("tagged"),
    )


def expr_date_functions(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --- aggregation (SURVEY §2.4) --------------------------------------------

def dialect_groupby_having(spark, sf_dir):
    """GROUP BY + HAVING with an aggregate not in SELECT, multi-agg —
    generalizing src/warpdb.cpp:350-444 through the dialect."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_quantity AS qty, round(SUM(l_extendedprice), 2) AS sum_price, "
        "COUNT(l_extendedprice) AS cnt, round(AVG(l_discount), 6) AS avg_disc "
        "FROM lineitem GROUP BY l_quantity "
        "HAVING COUNT(l_extendedprice) > 100 ORDER BY l_quantity ASC"
    )


def agg_global(spark, sf_dir):
    """Global (ungrouped) aggregate — 🟡 in the reference
    (src/warpdb.cpp:445-459: no reduction kernel)."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


def agg_distinct(spark, sf_dir):
    """SELECT DISTINCT + ORDER BY DESC (src/warpdb.cpp:463-476,
    tests/having_distinct_test.cpp:10-13) through the dialect."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql("SELECT DISTINCT l_quantity FROM lineitem ORDER BY l_quantity DESC")


def agg_count_distinct(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def agg_rollup(spark, sf_dir):
    """Grouping-set superset (SURVEY §2.4 ❌ row)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def agg_cube(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((flag), (status)) — the general form
    rollup/cube specialize; one Expand + one aggregation exchange,
    same shape at any scale."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# --- sorts / limits (SURVEY §2.6) ------------------------------------------

def sort_topk(spark, sf_dir):
    """ORDER BY + LIMIT → Spark TakeOrderedAndProject (no full sort at
    scale; each partition keeps k, merge on driver-side of the exchange)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
            F.col("l_extendedprice").alias("price"),
        )
        .orderBy(F.col("price").desc(), F.col("ok").asc(), F.col("ln").asc())
        .limit(10)
    )


def dialect_offset_limit(spark, sf_dir):
    """OFFSET-before-LIMIT ordering (src/warpdb.cpp:485-495) through the
    dialect."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderkey AS ok, o_totalprice AS total FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5"
    )


def dialect_cte_scalar_in(spark, sf_dir):
    """CTE + scalar subquery + IN-subquery through the dialect
    (superset — no subqueries/WITH in the reference keyword set,
    src/expression.cpp:58-62). The scalar subquery becomes a one-row
    broadcast cross-join; IN becomes a left-semi join."""
    db = _db(spark, sf_dir, "orders", "customer")
    return db.query_sql(
        "WITH rich AS (SELECT c_custkey AS ck FROM customer "
        "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)) "
        "SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders "
        "WHERE o_custkey IN (SELECT ck FROM rich) "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


def dialect_exists_theta(spark, sf_dir):
    """Correlated EXISTS with a non-equi (theta) correlation through
    the dialect — TPC-H q4's shape — rewritten to a left-semi join."""
    db = _db(spark, sf_dir, "orders", "lineitem")
    return db.query_sql(
        "SELECT o_orderpriority AS prio, COUNT(*) AS n FROM orders "
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
        "AND l_shipdate > o_orderdate) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )


def dialect_derived_table_q18(spark, sf_dir):
    """TPC-H q18 expressed entirely in the dialect: derived table
    (JOIN (SELECT ... GROUP BY ... HAVING ...) alias) + 3-way join +
    ORDER/LIMIT. Superset: the reference grammar only accepts bare
    identifiers after FROM/JOIN (src/expression.cpp:363-372)."""
    db = _db(spark, sf_dir, "orders", "lineitem", "customer")
    return db.query_sql(
        "SELECT c_custkey AS ck, o_orderkey AS ok, o_totalprice AS total_price, "
        "round(b.total_qty, 2) AS total_qty FROM orders "
        "JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty FROM lineitem "
        "GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) b "
        "ON o_orderkey = b.l_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY total_price DESC, ok ASC LIMIT 100"
    )


# --- joins (SURVEY §2.3 — parsed-only in the reference, executed here) -----

def join_inner_rowlevel(spark, sf_dir):
    """Inner equi join, row level (the JOIN grammar the reference parses
    at src/expression.cpp:375-401), through the dialect."""
    db = _db(spark, sf_dir, "orders", "lineitem")
    return db.query_sql(
        "SELECT orders.o_orderkey AS ok, orders.o_orderpriority AS prio, "
        "lineitem.l_linenumber AS ln, lineitem.l_quantity AS qty "
        "FROM orders JOIN lineitem ON orders.o_orderkey = lineitem.l_orderkey "
        "WHERE lineitem.l_quantity >= 49"
    )


def join_broadcast_dims(spark, sf_dir):
    """Star join through two broadcast dims: no shuffle of the fact side
    (explicit F.broadcast; AQE would also pick it, we don't rely on it)."""
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def join_semi(spark, sf_dir):
    """Left-semi: orders having any max-quantity lineitem."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") == 50)
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_semi"
    ).select(F.col("o_orderkey").alias("ok"))


def join_anti(spark, sf_dir):
    """Left-anti: orders with no max-quantity lineitem."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") == 50)
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
    ).select(F.col("o_orderkey").alias("ok"))


def join_left_outer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    big = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 9000).groupBy(
        "l_orderkey"
    ).agg(F.count(F.lit(1)).alias("n_big"))
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left")
        .select(
            F.col("o_orderkey").alias("ok"),
            F.coalesce(F.col("n_big"), F.lit(0)).alias("n_big_items"),
        )
    )


def join_full_outer(spark, sf_dir):
    """FULL OUTER JOIN: nations with customers vs nations with
    suppliers — rows survive from either side."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("int").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    su = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").cast("int").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(su, c.nk_c == su.nk_s, "full").select(
        F.coalesce(F.col("nk_c"), F.col("nk_s")).alias("nk"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


def join_cross_product(spark, sf_dir):
    """Explicit CROSS JOIN of two small dims (region × order priority
    values) — fine when both sides are tiny; anything larger should be
    an equi/banded join instead."""
    r = _t(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    p = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("prio"))
        .distinct()
    )
    return r.crossJoin(p)


def join_theta(spark, sf_dir):
    """Equi + theta condition (the reference grammar allows arbitrary ON
    expressions, src/expression.cpp:375-401). The equi part keys the
    shuffle; the inequality is a post-join filter — Catalyst plans this
    as a hash join, not a nested loop."""
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    return (
        supplier.join(
            customer,
            (supplier.s_nationkey == customer.c_nationkey)
            & (supplier.s_acctbal > customer.c_acctbal),
        )
        .select(
            F.col("s_suppkey").alias("sk"),
            F.col("c_custkey").alias("ck"),
        )
    )


# --- window functions (SURVEY §2.5 — parse-only in the reference) ----------

def window_running_sum(spark, sf_dir):
    """SUM(x) OVER (PARTITION BY ... ORDER BY ...) — completing
    include/expression.hpp:112-121 — through the dialect."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "SUM(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS running_qty "
        "FROM lineitem"
    )


def window_rank_topn(spark, sf_dir):
    """Top-3 per group via row_number — the scalable per-group top-k."""
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("rn"),
            F.col("l_extendedprice").alias("price"),
        )
    )


def window_lag_lead(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("event_id")
    return _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("value"),
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
    )


def window_frame_moving_avg(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("eid"),
        F.round(F.avg("value").over(w), 6).alias("mov_avg"),
    )


def window_range_frame(spark, sf_dir):
    """RANGE BETWEEN frame (value-based, ties share a frame) — counts
    lineitems whose quantity is within ±2 of the current row's within
    the same order."""
    w = Window.partitionBy("l_orderkey").orderBy("l_quantity").rangeBetween(-2, 2)
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").alias("qty"),
        F.count(F.lit(1)).over(w).alias("n_near_qty"),
    )


def window_value_functions(spark, sf_dir):
    """first_value/last_value/nth_value over an explicit unbounded ROWS
    frame (ties deterministic via the (qty, linenumber) sort)."""
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_quantity", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.first_value("l_quantity").over(w).alias("min_qty"),
        F.last_value("l_quantity").over(w).alias("max_qty"),
        F.nth_value("l_quantity", 2).over(w).alias("second_qty"),
    )


# --- set operations (SURVEY §2.7 — absent in reference) --------------------

def setop_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nk"))
    return c.union(s).distinct()


def setop_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nk"))
    return c.intersect(s)


def setop_except(spark, sf_dir):
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").cast("int").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nk"))
    return n.subtract(s)


def expr_math_functions(spark, sf_dir):
    """Built-in scalar math through the dialect's generic call syntax
    (src/expression.cpp:210-223 — the reference resolves names only at
    NVRTC compile time; Catalyst resolves at plan time)."""
    db = _db(spark, sf_dir, "lineitem")
    # Spark floor()/ceil() return LONG while DuckDB's return DOUBLE; the
    # driver's hash comparator distinguishes int vs float cells even when
    # numerically identical (r1 hash fail) — cast to double on this side.
    return db.query_sql(
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "round(sqrt(l_extendedprice), 6) AS root_price, "
        "abs(l_discount - 0.05) AS disc_dist, "
        "CAST(floor(l_extendedprice) AS double) AS floor_price, "
        "CAST(ceil(l_extendedprice) AS double) AS ceil_price, "
        "round(pow(l_quantity, 2), 2) AS qty_sq "
        "FROM lineitem WHERE l_quantity < 2"
    )


def agg_approx_count_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct — sketch-based, so the raw
    estimate is engine-specific. To make the entry hash-checkable we
    emit the *exact* count plus a boolean asserting the HLL estimate
    landed within 3×rsd of it; the oracle returns the exact count and
    TRUE. Tolerance is enforced in-query, determinism in the output."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "n_parts_exact",
        (
            F.abs(F.col("_approx") - F.col("n_parts_exact"))
            <= 3 * 0.02 * F.col("n_parts_exact")
        ).alias("approx_within_3rsd"),
    )


def agg_approx_percentile(spark, sf_dir):
    """Greenwald-Khanna approximate percentiles (approx_percentile with
    accuracy=10000): sketch output is engine-specific, so — the
    agg_approx_count_distinct pattern — the entry emits the EXACT
    per-group p50/p90 and booleans asserting the sketch landed within
    1% relative error; the oracle returns the exact values and TRUE."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("_p50_exact"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("_p90_exact"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("_p50_approx"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias("_p90_approx"),
    )
    tol = 0.01
    return agg.select(
        "flag",
        F.round("_p50_exact", 4).alias("p50"),
        F.round("_p90_exact", 4).alias("p90"),
        (F.abs(F.col("_p50_approx") - F.col("_p50_exact"))
         <= tol * F.abs(F.col("_p50_exact"))).alias("p50_within_tol"),
        (F.abs(F.col("_p90_approx") - F.col("_p90_exact"))
         <= tol * F.abs(F.col("_p90_exact"))).alias("p90_within_tol"),
    )


def udaf_group_median(spark, sf_dir):
    """Custom UDAF via applyInPandas: per-group numpy median — the
    grouped-map pattern for aggregations Spark lacks natively (the
    SURVEY §2.8 parity demo for the reference's custom.cu UDF seam).
    Arrow batches per group; shuffle = one hash partition on the key.

    DELIBERATELY bounded-key (l_returnflag: 3 groups) and pinned in
    the audit's KNOWN_FLATMAP: one Python worker holds a third of
    lineitem, which does NOT survive 100x. The scale default is
    implemented as ``udaf_group_median_chunked`` (same groups, same
    output, same oracle — grouped_global_rank value-chunk rank
    selection, no Python executor); percentile_approx is the
    sketch path when ~1e-4 relative error is fine. This entry exists
    to exercise the applyInPandas UDAF surface itself."""
    import pandas as pd

    def median(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "flag": [pdf["l_returnflag"].iloc[0]],
                "median_price": [round(float(pdf["l_extendedprice"].median()), 4)],
            }
        )

    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(median, "flag string, median_price double")
    )


def udaf_group_median_chunked(spark, sf_dir):
    """The scale-safe twin ``udaf_group_median``'s docstring promises:
    the SAME exact per-group median (same groups, same output schema,
    same oracle SQL) spelled on operators/sequence.grouped_global_rank
    value-chunks instead of applyInPandas — no Python executor, no
    single worker holding a third of lineitem.

    Median as rank selection: with n rows per group and a global asc
    rank over l_extendedprice, the median is the mean of the values at
    ranks floor((n+1)/2) and floor(n/2)+1 (equal ranks when n is odd —
    one row; adjacent middle pair when even — two rows averaged,
    exactly numpy's / DuckDB's interpolation). grouped_global_rank
    assigns the rank in two passes: row_number within (group,
    floor(price/1000) value-chunk) — parallel in the chunk count —
    plus prefix offsets over one aggregated row per chunk; rank ties
    among equal values are arbitrary within a chunk, which is exact
    for value-at-rank selection. The final filter keeps ≤2 rows per
    group before a 3-row aggregate. l_extendedprice is non-null
    (TPC-H), so a plain asc order and a plain floor chunk agree
    between engines."""
    from warpdb_spark.operators.sequence import grouped_global_rank

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    d = grouped_global_rank(
        li,
        "l_returnflag",
        [F.asc("l_extendedprice")],
        F.floor(F.col("l_extendedprice") / 1000.0).cast("long"),
        rank_col="rk",
        n_col="n",
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor(F.col("n") / 2) + 1
    return (
        d.filter((F.col("rk") == lo) | (F.col("rk") == hi))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.round(F.avg("l_extendedprice"), 4).alias("median_price"))
    )


# --- TPC-H-shaped headline queries (bench set) ------------------------------

def tpch_q1_pricing_summary(spark, sf_dir):
    """Q1: scan-heavy multi-agg — partial aggregation does the work
    map-side; the shuffle carries only |flags|x|statuses| rows."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q3_shipping_priority(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    lineitem = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        # customer is ~1.5% of orders' size after the segment filter —
        # broadcast it; orders⋈lineitem shuffles once on orderkey.
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").cast("date").cast("string").alias("odate"),
            F.col("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("ok").asc())
        .limit(10)
    )


def tpch_q5_local_supplier_volume(spark, sf_dir):
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            customer,
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def tpch_q6_forecast_revenue(spark, sf_dir):
    """Q6: pure scan+filter+agg — the filters land in PushedFilters, the
    scan reads 4 columns, and the agg is a map-side partial."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def dialect_tpch_q1(spark, sf_dir):
    """Q1 run ENTIRELY through the WarpDB dialect front-end (tokenizer →
    parser → compiler → builder) — typed TIMESTAMP literal, arithmetic
    expressions inside aggregates, multi-key GROUP BY, ORDER BY. Same
    plan shape as the DataFrame-API version (map-side partials)."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_returnflag, l_linestatus, "
        "round(SUM(l_quantity), 2) AS sum_qty, "
        "round(SUM(l_extendedprice), 2) AS sum_base_price, "
        "round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
        "round(AVG(l_quantity), 6) AS avg_qty, "
        "round(AVG(l_extendedprice), 6) AS avg_price, "
        "round(AVG(l_discount), 6) AS avg_disc, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    )


def dialect_tpch_q6(spark, sf_dir):
    """Q6 through the dialect: typed literals + BETWEEN + global
    aggregate over an expression. Filters still reach PushedFilters."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT round(SUM(l_extendedprice * l_discount), 2) AS revenue "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    )


def tpch_q18_large_volume_customer(spark, sf_dir):
    lineitem = _t(spark, sf_dir, "lineitem")
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("o_orderkey").alias("ok"),
            F.col("o_totalprice").alias("total_price"),
            F.round(F.col("total_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), F.col("ok"))
        .limit(100)
    )


def window_rank_family(spark, sf_dir):
    """Ranking/analytic window functions (rank/dense_rank/percent_rank/
    ntile) — the parser's superset of the reference's parse-only OVER —
    expressed entirely in the dialect, incl. the named-WINDOW clause
    and CAST (both supersets)."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_orderkey AS ok, l_linenumber AS ln, l_returnflag AS flag, "
        "CAST(RANK() OVER w AS INT) AS rnk, "
        "CAST(DENSE_RANK() OVER w AS INT) AS drnk, "
        "round(PERCENT_RANK() OVER w, 6) AS prnk, "
        "CAST(NTILE(4) OVER w AS INT) AS quartile "
        "FROM lineitem WHERE l_orderkey < 100 "
        "WINDOW w AS (PARTITION BY l_returnflag "
        "ORDER BY l_quantity, l_orderkey, l_linenumber)"
    )


def window_qualify(spark, sf_dir):
    """QUALIFY (superset; Snowflake/DuckDB-style post-window filter)
    through the dialect: latest order per customer via row_number,
    alias-referenced in QUALIFY. Windows see the pre-filter frame."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_custkey AS ck, o_orderkey AS ok, o_totalprice AS total, "
        "CAST(row_number() OVER w AS INT) AS rn "
        "FROM orders "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
        "QUALIFY rn <= 2"
    )


def dialect_event_time(spark, sf_dir):
    """Event-time SQL through the dialect (superset): ANSI typed
    literals (TIMESTAMP/INTERVAL), timestamp arithmetic, date_trunc
    bucketing, and EXTRACT — the surface a time-series user hits
    first. Runs fully through tokenizer → parser → compiler."""
    db = _db(spark, sf_dir, "events")
    return db.query_sql(
        "SELECT date_trunc('hour', ts) AS h, event_type AS et, "
        "COUNT(*) AS n, round(SUM(value), 2) AS sum_value "
        "FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '6 hours' "
        "AND extract(hour FROM ts) >= 6 "
        "GROUP BY h, et"
    )


def window_ignore_nulls(spark, sf_dir):
    """ANSI null treatment through the dialect (superset):
    ``lag(x) IGNORE NULLS`` / ``last_value(x) IGNORE NULLS`` — the
    last-observation-carried-forward idiom over a sparsely-observed
    column (every 3rd value masked here). PySpark's lag wrapper hides
    the ignoreNulls flag, so the compiler bridges to the Scala
    overload; first/last use the native ignorenulls parameter. DuckDB
    runs its in-argument spelling of the same ANSI semantics."""
    db = _db(spark, sf_dir, "events")
    return db.query_sql(
        "SELECT event_id, user_id, "
        "lag(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END) IGNORE NULLS "
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_obs, "
        "last_value(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END) IGNORE NULLS "
        "OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf "
        "FROM events"
    )


def dialect_array_agg(spark, sf_dir):
    """ARRAY_AGG(expr ORDER BY key) through the dialect (superset):
    ordered native-type array collection — compiled to ONE map-side-
    combinable aggregate (collect (key, value) structs → array_sort →
    project), the same shape as STRING_AGG but preserving the element
    type. Nulls skipped per the dialect contract, so the DuckDB oracle
    adds FILTER (x IS NOT NULL) to its null-keeping array_agg.

    The entry RESULT serializes the array via array_join — the driver's
    canonicalizer (pandas sort_values over raw columns) cannot hash
    nested-typed columns, so no inventory entry may return one
    (tests/test_inventory_contract.py pins the ban). The native
    array<bigint> behavior stays asserted in tests/test_derived_tables.py
    and tests/test_dialect_extras.py."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderpriority AS pri, "
        "array_join(array_agg(o_orderkey ORDER BY o_orderkey), ',') AS keys, "
        "count(*) AS n "
        "FROM orders WHERE o_custkey % 50 = 0 "
        "GROUP BY o_orderpriority ORDER BY pri"
    )


def dialect_broadcast_hint(spark, sf_dir):
    """Optimizer hints through the dialect (superset): ``/*+
    BROADCAST(t) */`` forces the named side of a join to broadcast —
    the scale knob for dim joins expressed in the query text itself
    (Spark-hint semantics; BROADCASTJOIN/MAPJOIN aliases accepted,
    unknown hint names ignored like every engine). DuckDB sees the
    hint as a comment, so the oracle runs the IDENTICAL text; the
    BroadcastHashJoin plan shape is pinned in pytest."""
    db = _db(spark, sf_dir, "orders", "customer")
    return db.query_sql(
        "SELECT /*+ BROADCAST(customer) */ c_mktsegment AS seg, "
        "count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment ORDER BY seg"
    )


def dialect_select_star(spark, sf_dir):
    """``SELECT *`` / ``t.*`` through the dialect (superset): stars
    expand to concrete qualified columns in declaration order BEFORE
    validation, so every downstream pass (grouping checks, QUALIFY,
    ordinals) sees plain columns. Column pruning still applies — a
    later projection of fewer columns prunes the scan as usual."""
    db = _db(spark, sf_dir, "orders", "customer")
    return db.query_sql(
        "SELECT c.*, o_orderkey, o_totalprice FROM orders "
        "JOIN customer c ON o_custkey = c.c_custkey "
        "WHERE o_totalprice > 400000 ORDER BY o_orderkey"
    )


def _read_schema_cols(flat_plan: str) -> list[str]:
    """``name:type`` column specs of the CUSTOMER scan's ReadSchema in
    a whitespace-stripped formatted plan (the scan whose pruning the
    canary checks — identified by carrying c_acctbal)."""
    out: list[str] = []
    for seg in flat_plan.split("ReadSchema:struct<")[1:]:
        cols = seg.split(">", 1)[0].split(",")
        if any(c.startswith("c_acctbal:") for c in cols):
            out = cols
    return out


def dialect_explain(spark, sf_dir):
    """§2.10 ``explain`` API pinned to the GOLDEN plan shape (the
    working version of the reference's optimizer demo output,
    src/main.cu:298-299 / src/optimizer.cpp:21-61, which only prints a
    stubbed constant-condition analysis). The entry runs
    ``WarpDB.explain(mode='formatted')`` on a representative dialect
    query — fact table (customer) filtered + joined to a SCALE-FREE
    dim (nation, 25 rows at every SF) + grouped — and emits one row of
    plan FACTS, each a property this engine promises at 100 TB:

    - filter_pushed: the WHERE predicate reaches the parquet scan
      (PushedFilters carries GreaterThan(c_acctbal, 0.0));
    - scan_pruned: ReadSchema reads exactly the two customer columns
      the query needs, nothing else;
    - join_broadcast: the nation side plans as BroadcastHashJoin (a
      constant-size dim must never shuffle the fact table);
    - agg_partial: partial_sum before the exchange (map-side combine:
      the shuffle carries |nations| rows, not |customers|);
    - one_shuffle: exactly one hashpartitioning exchange in the whole
      plan (the final-agg shuffle — anything more is waste).

    The oracle returns the same five constants TRUE: the comparison
    pins that the PLAN facts hold, the approx-entry boolean idiom.

    This is a deliberate PLAN CANARY (r10 advice): the booleans pin
    physical-plan substrings, so a Spark version bump, an AQE /
    broadcast-threshold config change, or a parquet schema reorder can
    flip one and fail the oracle even though the engine is fine —
    that loud failure is the point (it flags a silent plan regression
    the same way it would flag an environment change; re-review the
    pins on either). The ReadSchema probe matches each pruned column
    independently, not the struct's column order."""
    db = _db(spark, sf_dir, "customer", "nation")
    txt = db.explain(
        "SELECT n_name, COUNT(*) AS n_cust, round(SUM(c_acctbal), 2) AS s "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > 0 GROUP BY n_name",
        mode="formatted",
    )
    flat = txt.replace(" ", "")
    return spark.createDataFrame(
        [(
            "GreaterThan(c_acctbal,0.0)" in flat,
            # order-independent: exactly the two needed columns, in
            # whatever order the scan's ReadSchema spells them
            all(
                c in _read_schema_cols(flat)
                for c in ("c_nationkey:int", "c_acctbal:double")
            )
            and len(_read_schema_cols(flat)) == 2,
            "BroadcastHashJoin" in txt,
            "partial_sum" in txt,
            flat.count("hashpartitioning(") == 1,
        )],
        "filter_pushed boolean, scan_pruned boolean, join_broadcast boolean, "
        "agg_partial boolean, one_shuffle boolean",
    )


def dialect_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` (superset; DuckDB): keys = every non-aggregate
    select item in select order, resolved by the builder — plus
    aggregate-less GROUP BY executing as distinct key tuples. DuckDB
    runs the identical text."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderstatus AS st, o_orderpriority AS pri, "
        "count(*) AS n, round(avg(o_totalprice), 2) AS avg_total "
        "FROM orders GROUP BY ALL ORDER BY ALL"
    )


def dialect_json_arrow(spark, sf_dir):
    """Postgres/DuckDB ``->>'key'`` JSON text extraction through the
    dialect (superset): postfix operator desugaring to
    get_json_object(expr, '$.key') — chainable for nested objects,
    missing keys are NULL, pure JVM scan (zero shuffle before the
    aggregate). DuckDB executes its native ->> on the identical text."""
    db = _db(spark, sf_dir, "events")
    return db.query_sql(
        "SELECT event_type AS et, "
        "count(*) AS n, "
        "round(avg(CAST(props ->> 'k' AS double)), 6) AS mean_k "
        "FROM events WHERE props ->> 'k' IS NOT NULL "
        "GROUP BY event_type ORDER BY et"
    )


def dialect_ansi_fetch_bool(spark, sf_dir):
    """ANSI surface additions through the dialect (superset): BOOL_AND /
    BOOL_OR aggregates (with map-side partial aggregation like any
    other agg) and the ``OFFSET n ROWS FETCH FIRST n ROWS ONLY``
    spelling of OFFSET/LIMIT. DuckDB runs the identical text."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderstatus AS st, "
        "bool_and(o_totalprice > 1000) AS all_over_1k, "
        "bool_or(o_orderpriority = '1-URGENT') AS any_urgent, "
        "count(*) AS n "
        "FROM orders GROUP BY o_orderstatus "
        "ORDER BY st OFFSET 1 ROWS FETCH FIRST 2 ROWS ONLY"
    )


def dialect_udtf_ngrams(spark, sf_dir):
    """Real Python UDTF in the dialect's FROM clause (superset; closes
    SURVEY §2.8's table-function row — the reference's generic call
    syntax src/expression.cpp:210-223 generalized to table position):
    ``FROM split_ngrams(documents.text, 2)`` laterally applies the
    ``@udtf``-registered SplitNgrams class per document, then a plain
    GROUP BY counts bigrams. Catalyst plans the UDTF as an Arrow-batched
    Generate over the filter-pushed scan (the ``doc_id % 20`` predicate
    executes BEFORE the Python stage), so the Python rate applies only
    to the sampled 5%; full-corpus n-gram counting stays on the
    zero-Python HOF path (``text_top_bigrams``). DuckDB replays the
    identical tokenization with a list comprehension + unnest."""
    db = _db(spark, sf_dir, "documents")
    return db.query_sql(
        "SELECT ngram, COUNT(*) AS tf FROM split_ngrams(documents.text, 2) "
        "WHERE doc_id % 20 = 0 GROUP BY ngram ORDER BY tf DESC, ngram LIMIT 50"
    )


def dialect_udtf_sentences(spark, sf_dir):
    """Second Python UDTF through the dialect FROM clause (superset;
    the reference's generic call syntax src/expression.cpp:210-223
    generalized to table position, as dialect_udtf_ngrams),
    proving the registration surface generalizes beyond SplitNgrams:
    ``FROM sentence_split(documents.text)`` emits FOUR typed columns per
    lateral row — sentence index, the sentence, and its character span
    in the original text (running-offset state inside eval, still a
    pure per-row function). The ``doc_id % 25`` predicate pushes below
    the deterministic-marked UDTF into the parquet scan, so Python runs
    on the 4% sample only. DuckDB replays the identical literal-'. '
    split with a struct-comprehension unnest and reconstructs the
    offsets with a windowed length sum (integer state — no float
    accumulation to diverge)."""
    db = _db(spark, sf_dir, "documents")
    return db.query_sql(
        "SELECT doc_id, sent_idx, sentence, char_start, char_end "
        "FROM sentence_split(documents.text) WHERE doc_id % 25 = 0 "
        "ORDER BY doc_id, sent_idx"
    )


def dialect_star_modifiers(spark, sf_dir):
    """DuckDB-style star modifiers through the dialect (superset):
    ``SELECT * EXCLUDE (cols) REPLACE (expr AS col)`` — projection
    surgery without enumerating the schema, the ergonomic form wide
    tables need. Expansion happens at plan build (the star becomes
    qualified Vars minus excludes, with replaced expressions aliased in
    place), so Catalyst sees a plain projection and column pruning
    reaches the scan. DuckDB executes the identical text."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT * EXCLUDE (o_orderpriority, o_orderstatus) "
        "REPLACE (round(o_totalprice / 1000, 3) AS o_totalprice) "
        "FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey"
    )


def dialect_try_cast(spark, sf_dir):
    """``TRY_CAST(expr AS type)`` through the dialect (superset):
    NULL on conversion failure instead of the session's ANSI runtime
    error — the safe-ingest idiom for dirty columns. Compiles to
    Column.try_cast (JVM-side, codegen); DuckDB executes the identical
    text. Documented divergence (property-fuzz finding): DuckDB casts
    decimal STRINGS to integer types by rounding ('2.5' -> 3) where
    Spark yields NULL — the dialect keeps Spark semantics, so oracle
    entries avoid that input class."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderpriority AS pri, "
        "TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri_num, "
        "TRY_CAST(o_orderpriority AS DOUBLE) AS bad_cast, "
        "count(*) AS n "
        "FROM orders GROUP BY o_orderpriority ORDER BY pri"
    )


def dialect_ilike(spark, sf_dir):
    """Case-insensitive pattern matching through the dialect (superset;
    Postgres/DuckDB ``ILIKE`` / ``NOT ILIKE``): compiles to
    Column.ilike — a JVM-side predicate that stays in the scan's
    codegen stage, no shuffle. DuckDB executes the identical text."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderpriority AS pri, count(*) AS n FROM orders "
        "WHERE o_orderpriority ILIKE '%urgent%' "
        "AND o_orderpriority NOT ILIKE '2-%' "
        "GROUP BY o_orderpriority ORDER BY pri"
    )


def dialect_with_ties(spark, sf_dir):
    """``ORDER BY ... LIMIT n WITH TIES`` / ``FETCH FIRST n ROWS WITH
    TIES`` (superset; ANSI/Postgres spelling): rows tying the boundary
    on the sort keys are kept. Executes as the two-pass boundary-key
    plan (r11): TakeOrderedAndProject of the sort keys to the top-n,
    collect ONE boundary row, then filter the input by an explicit
    lexicographic predicate — no window, no single-task rank; both
    passes distribute (contract-pinned:
    test_with_ties_plan_has_no_window_node).
    Nullable sort keys must spell NULLS FIRST/LAST explicitly (the
    dialect's documented ORDER BY stance — engine defaults differ and
    WITH TIES makes the returned SET depend on them). DuckDB has no
    WITH TIES, so the oracle replays the rank filter explicitly."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_custkey, count(*) AS n FROM orders "
        "GROUP BY o_custkey ORDER BY n DESC LIMIT 10 WITH TIES"
    )


def dialect_range_interval_frame(spark, sf_dir):
    """Event-time RANGE frame with INTERVAL bounds through the dialect
    (superset): ``RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT
    ROW`` over per-user event time — the rolling-window shape every
    time-series user writes. The compiler lowers the bound to a
    microsecond offset over ``unix_micros(ts)``, so the frame is exact
    to the µs (no second-truncation drift vs engines that range over
    native timestamps). ROWS+INTERVAL, month units, and multi-key
    ORDER BY raise ValidationError at compile."""
    db = _db(spark, sf_dir, "events")
    return db.query_sql(
        "SELECT event_id AS eid, user_id AS uid, "
        "round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW), 4) AS sum_1h, "
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND INTERVAL '30 minutes' FOLLOWING) AS n_1h_centered "
        "FROM events"
    )


def dialect_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE through the dialect (superset — Spark itself has
    no recursive plan node): bounded-fixpoint evaluation in the builder
    (plans/builder.py::_build_recursive_cte — per-round localCheckpoint
    lineage truncation, scalar convergence probe, 100-round cap; UNION
    deduplicates the frontier so cyclic graphs converge, UNION ALL is
    bag semantics). Here: a 50-hop chain walk over doc_ids with depth
    tracking — DuckDB runs the IDENTICAL query text natively."""
    db = _db(spark, sf_dir, "documents")
    return db.query_sql(
        "WITH RECURSIVE hop AS ("
        "SELECT doc_id AS node, 0 AS depth FROM documents WHERE doc_id = 0 "
        "UNION ALL "
        "SELECT doc_id AS node, depth + 1 AS depth "
        "FROM documents JOIN hop ON doc_id = node + 50"
        ") SELECT node, depth FROM hop"
    )


def dialect_self_join(spark, sf_dir):
    """Base-table aliases + self-join through the dialect (superset):
    pairs of orders by the same customer where the later order is at
    least 2x the earlier one's value — the canonical same-table
    comparison that needs ``orders a JOIN orders b`` (aliases shadow
    the table name per ANSI; pre-alias the dialect rejected this as a
    duplicate join table). DuckDB runs the identical text."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT a.o_orderkey AS ok_small, b.o_orderkey AS ok_big, "
        "round(b.o_totalprice / a.o_totalprice, 4) AS ratio "
        "FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey "
        "WHERE a.o_orderkey < b.o_orderkey "
        "AND b.o_totalprice >= 2 * a.o_totalprice "
        "ORDER BY ratio DESC, ok_small, ok_big LIMIT 50"
    )


def dialect_agg_filter(spark, sf_dir):
    """ANSI ``FILTER (WHERE ...)`` on aggregates through the dialect
    (superset): per-aggregate row predicates compile to
    agg(CASE WHEN cond THEN arg END) — NULL-skipping gives exactly the
    ANSI semantics, and the conditional stays inside the one
    map-side-combined aggregation pass (no per-predicate scans).
    Composes with DISTINCT and HAVING; FILTER after a scalar function
    is a ParseError. DuckDB runs the identical text natively."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT o_orderpriority AS pri, COUNT(*) AS n_all, "
        "COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big, "
        "round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS sum_f, "
        "COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000) AS cust_big "
        "FROM orders GROUP BY o_orderpriority ORDER BY pri"
    )


def dialect_string_agg(spark, sf_dir):
    """STRING_AGG with mandatory-literal separator and ORDER BY key
    through the dialect (superset), plus the % (modulo) operator:
    customers' order comments... — here, per-region nation rosters and
    an even/odd split via ``n_nationkey % 2``. Compiled to ONE
    map-side-combinable aggregate: collect (key, value) structs →
    array_sort → array_join; NULL values and FILTER-failing rows
    become NULL structs that collect_list skips (ANSI). DuckDB runs
    the identical text."""
    db = _db(spark, sf_dir, "nation")
    return db.query_sql(
        "SELECT n_regionkey AS rk, n_nationkey % 2 AS parity, "
        "STRING_AGG(n_name, ', ' ORDER BY n_name) AS names, "
        "STRING_AGG(n_name, '|' ORDER BY n_nationkey DESC) AS by_key_desc "
        "FROM nation GROUP BY n_regionkey, parity ORDER BY rk, parity"
    )


def dialect_unnest(spark, sf_dir):
    """DuckDB-style ``unnest(array)`` in the select list through the
    dialect (superset; aliases to Spark's explode generator): flatten
    every embedding to (vec_id, element) rows, rounded in an outer
    derived table because generators must sit at the select top level.
    DuckDB runs the identical text. At scale this is a zero-shuffle
    map-side expansion."""
    db = _db(spark, sf_dir, "embeddings")
    return db.query_sql(
        "SELECT vec_id, round(val, 6) AS val FROM "
        "(SELECT vec_id, unnest(embedding) AS val FROM embeddings) t"
    )


def dialect_tpch_q3(spark, sf_dir):
    """Q3 entirely through the dialect front-end: three-table join,
    typed TIMESTAMP literals, nested CAST in the projection, grouped
    expression aggregate, ORDER BY ... LIMIT (TakeOrderedAndProject).
    Same ground truth as ``tpch_q3_shipping_priority`` but a much
    harder front-end path — multi-join + cast + top-k in one query."""
    db = _db(spark, sf_dir, "customer", "orders", "lineitem")
    return db.query_sql(
        "SELECT o_orderkey AS ok, "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate, "
        "round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' "
        "GROUP BY o_orderkey, o_orderdate "
        "ORDER BY revenue DESC, ok ASC LIMIT 10"
    )


def dialect_tpch_q12(spark, sf_dir):
    """Q12 through the dialect: conditional aggregation (CASE inside
    SUM), string IN-lists, join + range predicates. Spark's integer
    SUM stays bigint end-to-end — the int-typing class the r2 oracle
    fix addressed is pinned here through the front-end too."""
    db = _db(spark, sf_dir, "lineitem", "orders")
    return db.query_sql(
        "SELECT l_linestatus AS status, "
        "SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS high_line_count, "
        "SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 0 ELSE 1 END) AS low_line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
        "GROUP BY l_linestatus ORDER BY l_linestatus"
    )


def dialect_setops(spark, sf_dir):
    """Compound SELECT through the dialect front-end: UNION chained
    with EXCEPT, ORDER BY/LIMIT binding to the combined result (ANSI).
    Set-op execution is builder-native (``union``/``exceptAll``-free
    path — EXCEPT is distinct semantics); Catalyst plans the distinct
    as one hash aggregate over the union, no extra shuffle beyond it."""
    db = _db(spark, sf_dir, "orders", "customer")
    return db.query_sql(
        "SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000 "
        "UNION SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT' "
        "EXCEPT SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0 "
        "ORDER BY k LIMIT 500"
    )


def dialect_distinct_on(spark, sf_dir):
    """Postgres-style ``SELECT DISTINCT ON`` through the dialect
    front-end: latest-order-per-customer — the canonical
    first-row-per-group query. Executes as ONE row_number window
    (single hash partitioning on the ON keys, within-partition sort,
    no global sort); the well-definedness rule (ORDER BY must lead
    with the ON expressions) is enforced as a ValidationError, not
    left to partition luck. DuckDB runs the identical text natively."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate, "
        "o_totalprice FROM orders WHERE o_totalprice > 50000 "
        "ORDER BY o_custkey, o_orderdate DESC, o_orderkey LIMIT 2000"
    )


def dialect_pivot(spark, sf_dir):
    """``FROM ... PIVOT (agg FOR col IN (...))`` through the dialect
    front-end (Spark SQL/DuckDB/Snowflake spelling; superset — the
    reference parses bare table names only, src/expression.cpp:363).
    Executes as ONE groupBy().pivot(values).agg() pass: the IN list is
    mandatory exactly so Spark skips the extra distinct-discovery job
    — the same single shuffle as the CASE-aggregation the oracle
    spells. Aliased IN values rename the output columns; the implicit
    grouping keys are the FROM frame's remaining columns."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT prio, round(o_tot, 2) AS open_total, "
        "round(f_tot, 2) AS filled_total, round(p_tot, 2) AS pending_total "
        "FROM (SELECT o_orderpriority AS prio, o_orderstatus AS st, "
        "o_totalprice AS price FROM orders) "
        "PIVOT (SUM(price) FOR st IN ('O' AS o_tot, 'F' AS f_tot, 'P' AS p_tot)) "
        "ORDER BY prio"
    )


def dialect_unpivot(spark, sf_dir):
    """``FROM ... UNPIVOT (val FOR name IN (...))`` through the
    dialect — the SQL spelling of ``reshape_unpivot``'s melt, plus the
    two semantics the DataFrame API can't say: NULL measures are
    EXCLUDED by default (the ANSI rule; ``INCLUDE NULLS`` opts out)
    and ``AS label`` renames a measure in the name column. Zero
    shuffle: row-local expansion inside the scan, 4x map-side output."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_orderkey AS ok, l_linenumber AS ln, measure, "
        "round(value, 2) AS value "
        "FROM (SELECT l_orderkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount AS disc, l_tax FROM lineitem "
        "WHERE l_orderkey <= 160) "
        "UNPIVOT (value FOR measure IN (l_quantity AS qty, "
        "l_extendedprice AS price, disc, l_tax AS tax)) "
        "ORDER BY ok, ln, measure"
    )


def dialect_qualify_pivot(spark, sf_dir):
    """Clause COMPOSITION: QUALIFY filtering a PIVOT result — the
    reshaped frame's columns (o_tot) feed a window predicate in the
    same statement, proving the front-end threads PIVOT output
    through validation → QUALIFY → ORDER BY like any plain frame
    (each r9 clause was verified alone; this pins the seam between
    them). Executes as one groupBy().pivot().agg() shuffle + a top-2
    pick over the |priorities|-row pivoted frame (the window sees
    aggregated rows only — audit tier groups_limited at worst).
    Oracle spells the pivot as CASE-aggregation and runs the same
    QUALIFY natively."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT prio, round(o_tot, 2) AS open_total, "
        "round(f_tot, 2) AS filled_total "
        "FROM (SELECT o_orderpriority AS prio, o_orderstatus AS st, "
        "o_totalprice AS price FROM orders) "
        "PIVOT (SUM(price) FOR st IN ('O' AS o_tot, 'F' AS f_tot)) "
        "QUALIFY row_number() OVER (ORDER BY o_tot DESC, prio) <= 2 "
        "ORDER BY prio"
    )


def dialect_unpivot_multi(spark, sf_dir):
    """MULTI-MEASURE UNPIVOT through the dialect — ``((amount, rate)
    FOR kind IN ((price, disc) AS ..., (qty, tax) AS ...))``: each IN
    tuple yields one output row carrying BOTH measures (the Spark
    SQL/ANSI form ``dialect_unpivot``'s single-measure melt can't
    say). Executes as explode(array(struct...)) — still a row-local
    narrow expansion, zero shuffle, 2x map-side output; per-position
    type coercion follows the least-common-type rule (qty bigint →
    double beside price). The oracle spells the semantic definition
    directly: one UNION ALL branch per tuple."""
    db = _db(spark, sf_dir, "lineitem")
    return db.query_sql(
        "SELECT l_orderkey AS ok, l_linenumber AS ln, kind, "
        "round(amount, 2) AS amount, round(rate, 3) AS rate "
        "FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, "
        "l_quantity, l_tax, l_discount FROM lineitem "
        "WHERE l_orderkey <= 160) "
        "UNPIVOT ((amount, rate) FOR kind IN "
        "((l_extendedprice, l_discount) AS price_disc, "
        "(l_quantity, l_tax) AS qty_tax)) "
        "ORDER BY ok, ln, kind"
    )


def dialect_values_table(spark, sf_dir):
    """``FROM (VALUES ...) AS v(cols)`` through the dialect — the
    inline literal table every lookup/enrichment query wants without
    creating a temp view (superset; the reference has no literal
    tables). The 3-row VALUES side is a LocalRelation → broadcast
    join; DuckDB runs the IDENTICAL text natively."""
    db = _db(spark, sf_dir, "orders")
    return db.query_sql(
        "SELECT s.label AS status_label, count(*) AS n_orders, "
        "round(sum(o_totalprice), 2) AS total "
        "FROM orders JOIN (VALUES ('O', 'open'), ('F', 'filled'), "
        "('P', 'pending')) AS s(code, label) "
        "ON orders.o_orderstatus = s.code "
        "GROUP BY s.label ORDER BY status_label"
    )


def histogram_value_buckets(spark, sf_dir):
    """Fixed-width histogram of order totals (floor bucketing)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy((F.floor(F.col("o_totalprice") / 50000) * 50000).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def setop_except_all(spark, sf_dir):
    """Bag-semantics EXCEPT ALL (multiplicity-aware difference)."""
    a = _t(spark, sf_dir, "lineitem").select(F.col("l_quantity").cast("int").alias("q"))
    b = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_quantity").cast("int").alias("q")
    )
    return a.exceptAll(b).groupBy("q").agg(F.count(F.lit(1)).alias("n"))


def setop_intersect_all(spark, sf_dir):
    """Bag-semantics INTERSECT ALL (multiplicity-aware intersection) —
    completes the set-op family (union/intersect/except/except-all)."""
    a = _t(spark, sf_dir, "lineitem").select(F.col("l_quantity").cast("int").alias("q"))
    b = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_quantity").cast("int").alias("q")
    )
    return a.intersectAll(b).groupBy("q").agg(F.count(F.lit(1)).alias("n"))


def tpch_q4_order_priority(spark, sf_dir):
    """Q4 analog: order-priority counts for orders having a lineitem
    shipped after the order date (EXISTS → left-semi join)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = _t(spark, sf_dir, "lineitem")
    joined = orders.join(
        late,
        (orders.o_orderkey == late.l_orderkey) & (late.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q10_returned_items(spark, sf_dir):
    """Q10 analog: revenue lost to returns per customer, top 20."""
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        returned.join(orders, returned.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("ck"))
        .limit(20)
    )


def tpch_q14_promo_revenue(spark, sf_dir):
    """Q14 analog: PROMO parts' share of revenue (conditional agg)."""
    lineitem = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = F.broadcast(_t(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


# --- event-funnel / cohort analytics (superset; events table) --------------

def events_funnel_conversion(spark, sf_dir):
    """Ordered funnel view → click → purchase per user: stage k counts
    only events strictly after the user's stage-(k-1) completion.
    Three filtered scans each aggregated to user level (map-side
    combine, one user_id shuffle each) joined user-to-user — every join
    side is |users|, never |events|, so the shape survives any event
    volume. Output: per-user funnel depth 0-3."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    users = ev.select("user_id").distinct()
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("p_ts").isNotNull(), 3)
            .when(F.col("c_ts").isNotNull(), 2)
            .when(F.col("v_ts").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("funnel_depth"),
        )
    )


def events_cohort_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-activity day, distinct
    active users per (cohort_day, day_offset). The first-seen table is
    |users|-sized and rides a broadcast join back onto events — one
    events shuffle (user_id) + one aggregation shuffle, independent of
    event volume per user."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            # TIMESTAMP, not DATE, in the output: DuckDB DATE surfaces as
            # a midnight pandas Timestamp under fetchdf while Spark DATE
            # collects as datetime.date — timestamps render identically
            # under both of the driver's possible fetch paths
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("int").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


def events_sessionize(spark, sf_dir):
    """Batch sessionization (gaps-and-islands): a session breaks when a
    user's inter-event gap exceeds 1 hour. lag → new-session flag →
    cumulative sum, all inside ONE user_id hash partitioning (the two
    window specs and the final groupBy share it — Catalyst plans a
    single Exchange), so event volume scales linearly with exactly one
    shuffle. The streaming twin is ``stream_session_windows``; this is
    the reprocessing/backfill path every pipeline also needs."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    prev = F.lag(sec).over(w)
    flagged = ev.withColumn(
        "new_s",
        F.when(prev.isNull() | ((sec - prev) > 3600), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(sec) - F.min(sec)).cast("bigint").alias("duration_secs"),
    )


def events_resample_locf(spark, sf_dir):
    """Time-series resample to a 6-hour grid per event_type with
    gap-filling: missing buckets are generated from the bucket range of
    the (persisted, tiny) aggregate and filled by last observation
    carried forward. The LOCF window runs over the BUCKET timeline
    (time-range/6h × |event types| rows), never over raw events, so at
    100 TB the expensive side stays a single partial-aggregated shuffle
    of events and the carry-forward cost is unchanged. This is the
    hypertable-rollup/downsample shape (TimescaleDB time_bucket +
    locf analog) expressed in pure DataFrame ops."""
    bucket_s = 6 * 3600
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.col("ts").cast("long") / bucket_s)).alias("bucket"),
        "value",
    )
    # the tiny (types × buckets) aggregate is persisted and eagerly
    # materialized (same pattern as dedup's shared shingle frame) so its
    # three consumers — grid bounds, the type dimension, and the fill
    # join — all read the cache: raw events is scanned and shuffled
    # exactly ONCE no matter the corpus size. Without this, Catalyst
    # prunes each consumer's subtree differently and re-scans events
    # three times (no exchange reuse across differently-pruned plans).
    agg = persist_scoped(
        ev.groupBy("event_type", "bucket").agg(
            F.round(F.sum("value"), 6).alias("bucket_value"),
            F.count(F.lit(1)).alias("n_events_raw"),
        ),
        eager=True,
    )
    bounds = agg.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = (
        bounds.select(F.explode(F.sequence("lo", "hi")).alias("bucket"))
        .crossJoin(F.broadcast(agg.select("event_type").distinct()))
    )
    filled = grid.join(agg, ["event_type", "bucket"], "left")
    # Two-pass LOCF (r11, retiring the audit's KNOWN_RAW pin): carry
    # within (event_type, 512-bucket chunk) partitions — parallel in
    # the grid span — with the cross-chunk carry-in stitched from ONE
    # aggregated row per chunk (agg_input tier). A bare
    # event_type-partitioned window would put a whole type's grid
    # timeline in one task once spans outgrow it.
    from warpdb_spark.operators.sequence import grouped_carry

    carried = grouped_carry(
        filled,
        "event_type",
        ["bucket"],
        value="bucket_value",
        chunk_expr=F.floor(F.col("bucket") / 512),
        out_col="value_locf",
        broadcast_offsets=True,  # grid chunks are span-bounded
    )
    return carried.select(
        "event_type",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.coalesce("n_events_raw", F.lit(0)).cast("bigint").alias("n_events"),
        "value_locf",
    )


def agg_mode_median(spark, sf_dir):
    """Ordered-set aggregates per group: exact interpolated median
    (percentile 0.5) and a DETERMINISTIC mode (most frequent value,
    smallest wins ties — built from a count + rank window rather than
    ``F.mode`` so ties can't flap between engines). Two shuffles on
    small keys; the count table the mode ranks over is |distinct
    values per group|, not |rows|."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty")
    )
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity").asc()
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    return med.join(mode, "l_returnflag").select(
        "l_returnflag", F.round("median_qty", 6).alias("median_qty"), "mode_qty"
    )


def reshape_unpivot(spark, sf_dir):
    """UNPIVOT/melt — the inverse of ``reshape_pivot``: lineitem's four
    measure columns become (measure, value) rows keyed by line id.
    ``DataFrame.unpivot`` is a narrow transformation (row-local
    expansion, zero shuffle) and the 4× row growth is pure map-side
    output — the 100 TB cost is the scan itself."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 160)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    ).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        "measure",
        "value",
    )


QUERIES = {
    "flagship_filter_project": flagship_filter_project,
    "dialect_expression_projection": dialect_expression_projection,
    "dialect_predicates": dialect_predicates,
    "expr_case_when": expr_case_when,
    "expr_string_functions": expr_string_functions,
    "expr_date_functions": expr_date_functions,
    "dialect_groupby_having": dialect_groupby_having,
    "agg_global": agg_global,
    "agg_distinct": agg_distinct,
    "agg_count_distinct": agg_count_distinct,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "sort_topk": sort_topk,
    "dialect_offset_limit": dialect_offset_limit,
    "dialect_cte_scalar_in": dialect_cte_scalar_in,
    "dialect_exists_theta": dialect_exists_theta,
    "dialect_derived_table_q18": dialect_derived_table_q18,
    "join_inner_rowlevel": join_inner_rowlevel,
    "join_broadcast_dims": join_broadcast_dims,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_left_outer": join_left_outer,
    "join_full_outer": join_full_outer,
    "join_cross_product": join_cross_product,
    "join_theta": join_theta,
    "window_running_sum": window_running_sum,
    "window_rank_topn": window_rank_topn,
    "window_lag_lead": window_lag_lead,
    "window_frame_moving_avg": window_frame_moving_avg,
    "expr_math_functions": expr_math_functions,
    "agg_approx_count_distinct": agg_approx_count_distinct,
    "udaf_group_median": udaf_group_median,
    "udaf_group_median_chunked": udaf_group_median_chunked,
    "setop_union": setop_union,
    "setop_intersect": setop_intersect,
    "setop_except": setop_except,
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q6_forecast_revenue": tpch_q6_forecast_revenue,
    "dialect_tpch_q1": dialect_tpch_q1,
    "dialect_tpch_q6": dialect_tpch_q6,
    "tpch_q18_large_volume_customer": tpch_q18_large_volume_customer,
    "window_range_frame": window_range_frame,
    "window_rank_family": window_rank_family,
    "histogram_value_buckets": histogram_value_buckets,
    "setop_except_all": setop_except_all,
    "setop_intersect_all": setop_intersect_all,
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "tpch_q14_promo_revenue": tpch_q14_promo_revenue,
    "agg_grouping_sets": agg_grouping_sets,
    "window_value_functions": window_value_functions,
    "events_funnel_conversion": events_funnel_conversion,
    "events_cohort_retention": events_cohort_retention,
    "window_qualify": window_qualify,
    "agg_approx_percentile": agg_approx_percentile,
    "dialect_event_time": dialect_event_time,
    "dialect_range_interval_frame": dialect_range_interval_frame,
    "dialect_recursive_cte": dialect_recursive_cte,
    "dialect_self_join": dialect_self_join,
    "dialect_agg_filter": dialect_agg_filter,
    "dialect_string_agg": dialect_string_agg,
    "dialect_unnest": dialect_unnest,
    "events_sessionize": events_sessionize,
    "events_resample_locf": events_resample_locf,
    "agg_mode_median": agg_mode_median,
    "reshape_unpivot": reshape_unpivot,
    "dialect_setops": dialect_setops,
    "dialect_distinct_on": dialect_distinct_on,
    "dialect_pivot": dialect_pivot,
    "dialect_unpivot": dialect_unpivot,
    "dialect_values_table": dialect_values_table,
    "window_ignore_nulls": window_ignore_nulls,
    "dialect_ansi_fetch_bool": dialect_ansi_fetch_bool,
    "dialect_broadcast_hint": dialect_broadcast_hint,
    "dialect_select_star": dialect_select_star,
    "dialect_explain": dialect_explain,
    "dialect_qualify_pivot": dialect_qualify_pivot,
    "dialect_unpivot_multi": dialect_unpivot_multi,
    "dialect_group_by_all": dialect_group_by_all,
    "dialect_json_arrow": dialect_json_arrow,
    "dialect_udtf_ngrams": dialect_udtf_ngrams,
    "dialect_udtf_sentences": dialect_udtf_sentences,
    "dialect_star_modifiers": dialect_star_modifiers,
    "dialect_try_cast": dialect_try_cast,
    "dialect_with_ties": dialect_with_ties,
    "dialect_ilike": dialect_ilike,
    "dialect_array_agg": dialect_array_agg,
    "dialect_tpch_q3": dialect_tpch_q3,
    "dialect_tpch_q12": dialect_tpch_q12,
}

ORACLES = {
    "flagship_filter_project": (
        "SELECT l_extendedprice * l_quantity AS result FROM lineitem "
        "WHERE l_extendedprice > 10"
    ),
    "dialect_expression_projection": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
        "l_extendedprice * 0.9 AS discounted FROM lineitem WHERE l_quantity < 3"
    ),
    "dialect_predicates": (
        "SELECT p_partkey AS pk, p_name AS name, p_size AS size FROM part "
        "WHERE p_size BETWEEN 10 AND 20 AND p_type IN ('ECONOMY', 'PROMO') "
        "AND p_name LIKE '%bolt%' AND NOT p_brand = 'Brand#13'"
    ),
    "expr_case_when": (
        "SELECT p_partkey AS pk, CASE WHEN p_size < 10 THEN 'small' "
        "WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class FROM part"
    ),
    "expr_string_functions": (
        "SELECT c_custkey AS ck, upper(c_mktsegment) AS seg_upper, "
        "length(c_name) AS name_len, substring(c_name, 1, 8) AS name_prefix, "
        "concat_ws('-', c_mktsegment, c_name) AS tagged FROM customer"
    ),
    "expr_date_functions": (
        "SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, "
        "count(*) AS n_orders FROM orders GROUP BY 1, 2"
    ),
    "dialect_groupby_having": (
        "SELECT l_quantity AS qty, round(sum(l_extendedprice), 2) AS sum_price, "
        "count(l_extendedprice) AS cnt, round(avg(l_discount), 6) AS avg_disc "
        "FROM lineitem GROUP BY l_quantity HAVING count(l_extendedprice) > 100 "
        "ORDER BY qty"
    ),
    "agg_global": (
        "SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS total_price, "
        "round(avg(l_quantity), 6) AS avg_qty, min(l_shipdate) AS first_ship, "
        "max(l_shipdate) AS last_ship FROM lineitem"
    ),
    "agg_distinct": "SELECT DISTINCT l_quantity FROM lineitem ORDER BY l_quantity DESC",
    "agg_count_distinct": (
        "SELECT count(DISTINCT l_partkey) AS n_parts, "
        "count(DISTINCT l_suppkey) AS n_supps FROM lineitem"
    ),
    "agg_rollup": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
        "GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    ),
    "agg_cube": (
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders "
        "GROUP BY CUBE(o_orderstatus, o_orderpriority)"
    ),
    "agg_grouping_sets": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "round(sum(l_quantity), 2) AS sum_qty FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
    ),
    "window_value_functions": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "first_value(l_quantity) OVER w AS min_qty, "
        "last_value(l_quantity) OVER w AS max_qty, "
        "nth_value(l_quantity, 2) OVER w AS second_qty FROM lineitem "
        "WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity, l_linenumber "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    ),
    "events_funnel_conversion": (
        "WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events "
        "WHERE event_type = 'view' GROUP BY 1), "
        "c AS (SELECT e.user_id, min(ts) AS c_ts FROM events e JOIN v USING (user_id) "
        "WHERE event_type = 'click' AND ts > v_ts GROUP BY 1), "
        "p AS (SELECT e.user_id, min(ts) AS p_ts FROM events e JOIN c USING (user_id) "
        "WHERE event_type = 'purchase' AND ts > c_ts GROUP BY 1) "
        "SELECT u.user_id, CAST(CASE WHEN p_ts IS NOT NULL THEN 3 "
        "WHEN c_ts IS NOT NULL THEN 2 WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END AS INT) "
        "AS funnel_depth FROM (SELECT DISTINCT user_id FROM events) u "
        "LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"
    ),
    "events_cohort_retention": (
        "WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), "
        "f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1) "
        "SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, "
        "CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset, "
        "count(DISTINCT user_id) AS n_active FROM d JOIN f USING (user_id) "
        "GROUP BY 1, 2"
    ),
    "sort_topk": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, l_extendedprice AS price "
        "FROM lineitem ORDER BY price DESC, ok ASC, ln ASC LIMIT 10"
    ),
    "dialect_offset_limit": (
        "SELECT o_orderkey AS ok, o_totalprice AS total FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5"
    ),
    "dialect_cte_scalar_in": (
        "WITH rich AS (SELECT c_custkey AS ck FROM customer "
        "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)) "
        "SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders "
        "WHERE o_custkey IN (SELECT ck FROM rich) "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    "dialect_exists_theta": (
        "SELECT o_orderpriority AS prio, COUNT(*) AS n FROM orders "
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
        "AND l_shipdate > o_orderdate) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "dialect_derived_table_q18": (
        "SELECT c_custkey AS ck, o_orderkey AS ok, o_totalprice AS total_price, "
        "round(b.total_qty, 2) AS total_qty FROM orders "
        "JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem "
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) b "
        "ON o_orderkey = b.l_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY total_price DESC, ok ASC LIMIT 100"
    ),
    "join_inner_rowlevel": (
        "SELECT o_orderkey AS ok, o_orderpriority AS prio, l_linenumber AS ln, "
        "l_quantity AS qty FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE l_quantity >= 49"
    ),
    "join_broadcast_dims": (
        "SELECT r_name AS region, count(*) AS n_customers, "
        "round(sum(c_acctbal), 2) AS sum_acctbal FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ),
    "join_semi": (
        "SELECT o_orderkey AS ok FROM orders WHERE EXISTS ("
        "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity = 50)"
    ),
    "join_anti": (
        "SELECT o_orderkey AS ok FROM orders WHERE NOT EXISTS ("
        "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity = 50)"
    ),
    "join_left_outer": (
        "SELECT o_orderkey AS ok, coalesce(b.n_big, 0) AS n_big_items FROM orders "
        "LEFT JOIN (SELECT l_orderkey, count(*) AS n_big FROM lineitem "
        "WHERE l_extendedprice > 9000 GROUP BY l_orderkey) b "
        "ON o_orderkey = b.l_orderkey"
    ),
    "join_full_outer": (
        "SELECT coalesce(nk_c, nk_s) AS nk, coalesce(n_cust, 0) AS n_cust, "
        "coalesce(n_supp, 0) AS n_supp FROM "
        "(SELECT CAST(c_nationkey AS INT) AS nk_c, count(*) AS n_cust "
        "FROM customer GROUP BY 1) c FULL JOIN "
        "(SELECT CAST(s_nationkey AS INT) AS nk_s, count(*) AS n_supp "
        "FROM supplier GROUP BY 1) s ON nk_c = nk_s"
    ),
    "join_cross_product": (
        "SELECT r_name AS region, prio FROM region CROSS JOIN "
        "(SELECT DISTINCT o_orderpriority AS prio FROM orders) p"
    ),
    "join_theta": (
        "SELECT s_suppkey AS sk, c_custkey AS ck FROM supplier JOIN customer "
        "ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal"
    ),
    "window_running_sum": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) "
        "AS running_qty FROM lineitem"
    ),
    "window_rank_topn": (
        "SELECT flag, rn, price FROM (SELECT l_returnflag AS flag, "
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, "
        "l_orderkey, l_linenumber) AS rn, l_extendedprice AS price FROM lineitem) "
        "WHERE rn <= 3"
    ),
    "window_lag_lead": (
        "SELECT event_id AS eid, user_id AS uid, value, "
        "lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value, "
        "lead(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value "
        "FROM events"
    ),
    "window_frame_moving_avg": (
        "SELECT event_id AS eid, round(avg(value) OVER ("
        "PARTITION BY user_id ORDER BY event_id "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg FROM events"
    ),
    "expr_math_functions": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "round(sqrt(l_extendedprice), 6) AS root_price, "
        "abs(l_discount - 0.05) AS disc_dist, "
        "floor(l_extendedprice) AS floor_price, "
        "ceil(l_extendedprice) AS ceil_price, "
        "round(pow(l_quantity, 2), 2) AS qty_sq "
        "FROM lineitem WHERE l_quantity < 2"
    ),
    "agg_approx_count_distinct": (
        "SELECT count(DISTINCT l_partkey) AS n_parts_exact, "
        "TRUE AS approx_within_3rsd FROM lineitem"
    ),
    "udaf_group_median": (
        "SELECT l_returnflag AS flag, round(median(l_extendedprice), 4) AS median_price "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    # identical oracle text by design: the chunked twin must reproduce
    # the applyInPandas demo bit-for-bit
    "udaf_group_median_chunked": (
        "SELECT l_returnflag AS flag, round(median(l_extendedprice), 4) AS median_price "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "setop_union": (
        "SELECT CAST(c_nationkey AS INT) AS nk FROM customer UNION "
        "SELECT CAST(s_nationkey AS INT) AS nk FROM supplier"
    ),
    "setop_intersect": (
        "SELECT CAST(c_nationkey AS INT) AS nk FROM customer INTERSECT "
        "SELECT CAST(s_nationkey AS INT) AS nk FROM supplier"
    ),
    "setop_except": (
        "SELECT CAST(n_nationkey AS INT) AS nk FROM nation EXCEPT "
        "SELECT CAST(s_nationkey AS INT) AS nk FROM supplier"
    ),
    "tpch_q1_pricing_summary": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
        "round(avg(l_quantity), 6) AS avg_qty, round(avg(l_extendedprice), 6) AS avg_price, "
        "round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    "tpch_q3_shipping_priority": (
        "SELECT o_orderkey AS ok, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' "
        "AND l_shipdate > TIMESTAMP '1998-01-01' "
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, ok ASC LIMIT 10"
    ),
    "tpch_q5_local_supplier_volume": (
        "SELECT n_name AS nation, round(sum(l_extendedprice * (1 - l_discount)), 2) "
        "AS revenue FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' GROUP BY n_name"
    ),
    "tpch_q6_forecast_revenue": (
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
    # dialect variants run the same queries through the front-end; the
    # ground truth is identical
    "dialect_tpch_q1": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
        "round(avg(l_quantity), 6) AS avg_qty, round(avg(l_extendedprice), 6) AS avg_price, "
        "round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    "dialect_tpch_q6": (
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
    "window_range_frame": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, l_quantity AS qty, "
        "count(*) OVER (PARTITION BY l_orderkey ORDER BY l_quantity "
        "RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS n_near_qty FROM lineitem"
    ),
    "window_rank_family": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, l_returnflag AS flag, "
        "CAST(rank() OVER w AS INT) AS rnk, CAST(dense_rank() OVER w AS INT) AS drnk, "
        "round(percent_rank() OVER w, 6) AS prnk, CAST(ntile(4) OVER w AS INT) AS quartile "
        "FROM lineitem WHERE l_orderkey < 100 "
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)"
    ),
    "histogram_value_buckets": (
        "SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket, "
        "count(*) AS n FROM orders GROUP BY 1"
    ),
    "window_qualify": (
        "SELECT o_custkey AS ck, o_orderkey AS ok, o_totalprice AS total, "
        "CAST(row_number() OVER w AS INT) AS rn FROM orders "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
        "QUALIFY rn <= 2"
    ),
    "agg_approx_percentile": (
        "SELECT l_returnflag AS flag, "
        "round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, "
        "round(quantile_cont(l_extendedprice, 0.9), 4) AS p90, "
        "TRUE AS p50_within_tol, TRUE AS p90_within_tol "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "dialect_event_time": (
        "SELECT date_trunc('hour', ts) AS h, event_type AS et, "
        "count(*) AS n, round(sum(value), 2) AS sum_value "
        "FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '6 hours' "
        "AND extract(hour FROM ts) >= 6 "
        "GROUP BY 1, 2"
    ),
    "dialect_range_interval_frame": (
        "SELECT event_id AS eid, user_id AS uid, "
        "round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW), 4) AS sum_1h, "
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND INTERVAL '30 minutes' FOLLOWING) AS n_1h_centered "
        "FROM events"
    ),
    "dialect_unnest": (
        "SELECT vec_id, round(val, 6) AS val FROM "
        "(SELECT vec_id, unnest(embedding) AS val FROM embeddings) t"
    ),
    "dialect_string_agg": (
        "SELECT n_regionkey AS rk, n_nationkey % 2 AS parity, "
        "STRING_AGG(n_name, ', ' ORDER BY n_name) AS names, "
        "STRING_AGG(n_name, '|' ORDER BY n_nationkey DESC) AS by_key_desc "
        "FROM nation GROUP BY n_regionkey, parity ORDER BY rk, parity"
    ),
    "dialect_agg_filter": (
        "SELECT o_orderpriority AS pri, COUNT(*) AS n_all, "
        "COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big, "
        "round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS sum_f, "
        "COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000) AS cust_big "
        "FROM orders GROUP BY o_orderpriority ORDER BY pri"
    ),
    "dialect_self_join": (
        "SELECT a.o_orderkey AS ok_small, b.o_orderkey AS ok_big, "
        "round(b.o_totalprice / a.o_totalprice, 4) AS ratio "
        "FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey "
        "WHERE a.o_orderkey < b.o_orderkey "
        "AND b.o_totalprice >= 2 * a.o_totalprice "
        "ORDER BY ratio DESC, ok_small, ok_big LIMIT 50"
    ),
    "dialect_recursive_cte": (
        "WITH RECURSIVE hop AS ("
        "SELECT doc_id AS node, 0 AS depth FROM documents WHERE doc_id = 0 "
        "UNION ALL "
        "SELECT doc_id AS node, depth + 1 AS depth "
        "FROM documents JOIN hop ON doc_id = node + 50"
        ") SELECT node, depth FROM hop"
    ),
    "setop_except_all": (
        "SELECT q, count(*) AS n FROM ("
        "SELECT CAST(l_quantity AS INT) AS q FROM lineitem EXCEPT ALL "
        "SELECT CAST(l_quantity AS INT) AS q FROM lineitem WHERE l_returnflag = 'R'"
        ") GROUP BY q"
    ),
    "setop_intersect_all": (
        "SELECT q, count(*) AS n FROM ("
        "SELECT CAST(l_quantity AS INT) AS q FROM lineitem INTERSECT ALL "
        "SELECT CAST(l_quantity AS INT) AS q FROM lineitem WHERE l_returnflag = 'R'"
        ") GROUP BY q"
    ),
    "tpch_q4_order_priority": (
        "SELECT o_orderpriority, count(*) AS order_count FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' "
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
        "AND l_shipdate > o_orderdate) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "tpch_q10_returned_items": (
        "SELECT c_custkey AS ck, c_name AS name, n_name AS nation, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, n_name "
        "ORDER BY revenue DESC, ck LIMIT 20"
    ),
    "tpch_q14_promo_revenue": (
        "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' "
        "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) / "
        "sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"
    ),
    "tpch_q18_large_volume_customer": (
        "SELECT c_custkey AS ck, o_orderkey AS ok, o_totalprice AS total_price, "
        "round(b.total_qty, 2) AS total_qty FROM orders "
        "JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem "
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) b ON o_orderkey = b.l_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY total_price DESC, ok LIMIT 100"
    ),
    "dialect_tpch_q3": (
        "SELECT o_orderkey AS ok, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' "
        "AND l_shipdate > TIMESTAMP '1998-01-01' "
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, ok ASC LIMIT 10"
    ),
    "dialect_tpch_q12": (
        "SELECT l_linestatus AS status, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY 1"
    ),
    # dialect skips nulls; DuckDB's array_agg keeps them -> FILTER.
    # Serialized via array_to_string so the driver canonicalizer (which
    # cannot hash list-typed cells) gets a flat string on both sides.
    "dialect_array_agg": (
        "SELECT o_orderpriority AS pri, "
        "array_to_string(array_agg(o_orderkey ORDER BY o_orderkey) "
        "FILTER (o_orderkey IS NOT NULL), ',') AS keys, "
        "CAST(count(*) AS BIGINT) AS n "
        "FROM orders WHERE o_custkey % 50 = 0 "
        "GROUP BY o_orderpriority ORDER BY pri"
    ),
    "dialect_json_arrow": (
        "SELECT event_type AS et, "
        "CAST(count(*) AS BIGINT) AS n, "
        "round(avg(CAST(props ->> 'k' AS double)), 6) AS mean_k "
        "FROM events WHERE props ->> 'k' IS NOT NULL "
        "GROUP BY event_type ORDER BY et"
    ),
    "dialect_star_modifiers": (
        "SELECT * EXCLUDE (o_orderpriority, o_orderstatus) "
        "REPLACE (round(o_totalprice / 1000, 3) AS o_totalprice) "
        "FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey"
    ),
    "dialect_try_cast": (
        "SELECT o_orderpriority AS pri, "
        "TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri_num, "
        "TRY_CAST(o_orderpriority AS DOUBLE) AS bad_cast, "
        "count(*) AS n "
        "FROM orders GROUP BY o_orderpriority ORDER BY pri"
    ),
    "dialect_ilike": (
        "SELECT o_orderpriority AS pri, count(*) AS n FROM orders "
        "WHERE o_orderpriority ILIKE '%urgent%' "
        "AND o_orderpriority NOT ILIKE '2-%' "
        "GROUP BY o_orderpriority ORDER BY pri"
    ),
    "dialect_with_ties": (
        "WITH g AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey), "
        "r AS (SELECT o_custkey, n, rank() OVER (ORDER BY n DESC) AS rk FROM g) "
        "SELECT o_custkey, n FROM r WHERE rk <= 10"
    ),
    "dialect_udtf_ngrams": (
        r"WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), "
        r"'\s+', ' ', 'g')), ' ') AS toks FROM documents WHERE doc_id % 20 = 0), "
        "ng AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) "
        "ELSE [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)] END) "
        "AS ngram FROM t) "
        "SELECT ngram, COUNT(*) AS tf FROM ng GROUP BY ngram "
        "ORDER BY tf DESC, ngram LIMIT 50"
    ),
    # literal-'. ' split; offsets rebuilt via windowed INTEGER length
    # sums (start_i = sum(len+2) over preceding sentences)
    "dialect_udtf_sentences": (
        "WITH p AS (SELECT doc_id, "
        "unnest([{'i': i, 's': string_split(text, '. ')[i]} "
        "for i in generate_series(1, len(string_split(text, '. ')))], "
        "recursive := true) "
        "FROM documents WHERE doc_id % 25 = 0), "
        "q AS (SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, s AS sentence, "
        "CAST(coalesce(sum(len(s) + 2) OVER (PARTITION BY doc_id ORDER BY i "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS char_start "
        "FROM p) "
        "SELECT doc_id, sent_idx, sentence, char_start, "
        "CAST(char_start + len(sentence) AS INT) AS char_end "
        "FROM q ORDER BY doc_id, sent_idx"
    ),
    "dialect_select_star": (
        "SELECT c.*, o_orderkey, o_totalprice FROM orders "
        "JOIN customer c ON o_custkey = c.c_custkey "
        "WHERE o_totalprice > 400000 ORDER BY o_orderkey"
    ),
    "dialect_group_by_all": (
        "SELECT o_orderstatus AS st, o_orderpriority AS pri, "
        "CAST(count(*) AS BIGINT) AS n, round(avg(o_totalprice), 2) AS avg_total "
        "FROM orders GROUP BY ALL ORDER BY ALL"
    ),
    # plan-shape facts: the oracle pins that every promised plan
    # property holds (the approx-entry boolean idiom)
    "dialect_explain": (
        "SELECT TRUE AS filter_pushed, TRUE AS scan_pruned, "
        "TRUE AS join_broadcast, TRUE AS agg_partial, TRUE AS one_shuffle"
    ),
    # semantic definition: one UNION ALL branch per IN tuple; a row
    # survives EXCLUDE NULLS iff any measure is non-null (all lineitem
    # measures are non-null, so no branch filter is needed here)
    "dialect_unpivot_multi": (
        "SELECT ok, ln, kind, round(amount, 2) AS amount, "
        "round(rate, 3) AS rate FROM ("
        "SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "'price_disc' AS kind, l_extendedprice AS amount, "
        "l_discount AS rate FROM lineitem WHERE l_orderkey <= 160 "
        "UNION ALL "
        "SELECT l_orderkey, l_linenumber, 'qty_tax', "
        "CAST(l_quantity AS DOUBLE), l_tax "
        "FROM lineitem WHERE l_orderkey <= 160) "
        "ORDER BY ok, ln, kind"
    ),
    "dialect_qualify_pivot": (
        "SELECT prio, round(o_tot, 2) AS open_total, "
        "round(f_tot, 2) AS filled_total FROM ("
        "SELECT o_orderpriority AS prio, "
        "sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS o_tot, "
        "sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS f_tot "
        "FROM orders GROUP BY 1) "
        "QUALIFY row_number() OVER (ORDER BY o_tot DESC, prio) <= 2 "
        "ORDER BY prio"
    ),
    # DuckDB reads the hint as a comment -> identical text
    "dialect_broadcast_hint": (
        "SELECT /*+ BROADCAST(customer) */ c_mktsegment AS seg, "
        "CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment ORDER BY seg"
    ),
    # identical text in both engines
    "dialect_ansi_fetch_bool": (
        "SELECT o_orderstatus AS st, "
        "bool_and(o_totalprice > 1000) AS all_over_1k, "
        "bool_or(o_orderpriority = '1-URGENT') AS any_urgent, "
        "count(*) AS n "
        "FROM orders GROUP BY o_orderstatus "
        "ORDER BY st OFFSET 1 ROWS FETCH FIRST 2 ROWS ONLY"
    ),
    # DuckDB's in-argument IGNORE NULLS spelling of the same semantics
    "window_ignore_nulls": (
        "SELECT event_id, user_id, "
        "lag(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_obs, "
        "last_value(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf "
        "FROM events"
    ),
    # DuckDB executes the identical DISTINCT ON text natively
    # the CASE-aggregation spelling of the same pivot (engine-portable;
    # DuckDB's native PIVOT syntax differs)
    "dialect_pivot": (
        "SELECT o_orderpriority AS prio, "
        "round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) "
        "AS open_total, "
        "round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) "
        "AS filled_total, "
        "round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) "
        "AS pending_total "
        "FROM orders GROUP BY o_orderpriority ORDER BY prio"
    ),
    # DuckDB runs the identical VALUES text natively
    "dialect_values_table": (
        "SELECT s.label AS status_label, count(*) AS n_orders, "
        "round(sum(o_totalprice), 2) AS total "
        "FROM orders JOIN (VALUES ('O', 'open'), ('F', 'filled'), "
        "('P', 'pending')) AS s(code, label) "
        "ON orders.o_orderstatus = s.code "
        "GROUP BY s.label ORDER BY status_label"
    ),
    # UNION ALL melt (portable; non-null measures only, labeled names)
    "dialect_unpivot": (
        "WITH b AS (SELECT l_orderkey AS ok, l_linenumber AS ln, "
        "l_quantity, l_extendedprice, l_discount, l_tax "
        "FROM lineitem WHERE l_orderkey <= 160) "
        "SELECT ok, ln, measure, round(value, 2) AS value FROM ("
        "SELECT ok, ln, 'qty' AS measure, l_quantity AS value FROM b "
        "UNION ALL SELECT ok, ln, 'price', l_extendedprice FROM b "
        "UNION ALL SELECT ok, ln, 'disc', l_discount FROM b "
        "UNION ALL SELECT ok, ln, 'tax', l_tax FROM b) "
        "WHERE value IS NOT NULL ORDER BY ok, ln, measure"
    ),
    "dialect_distinct_on": (
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate, "
        "o_totalprice FROM orders WHERE o_totalprice > 50000 "
        "ORDER BY o_custkey, o_orderdate DESC, o_orderkey LIMIT 2000"
    ),
    "dialect_setops": (
        "SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000 "
        "UNION SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT' "
        "EXCEPT SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0 "
        "ORDER BY k LIMIT 500"
    ),
    # date_diff('second', ...) counts second-boundary crossings =
    # floor(epoch b) - floor(epoch a), exactly Spark's
    # ts.cast('long') subtraction — the 1h gap test is truncated-second
    # in both engines.
    "events_sessionize": (
        "WITH o AS (SELECT user_id, ts, event_id, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS new_s "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "s AS (SELECT user_id, ts, CAST(sum(new_s) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT) "
        "AS session_seq FROM o) "
        "SELECT user_id, session_seq, count(*) AS n_events, "
        "min(ts) AS session_start, max(ts) AS session_end, "
        "CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_secs "
        "FROM s GROUP BY 1, 2"
    ),
    "events_resample_locf": (
        "WITH ev AS (SELECT event_type, "
        "CAST(floor(epoch(ts) / 21600) AS BIGINT) AS bucket, value FROM events), "
        "agg AS (SELECT event_type, bucket, round(sum(value), 6) AS bucket_value, "
        "count(*) AS n_events_raw FROM ev GROUP BY 1, 2), "
        "grid AS (SELECT t.event_type, g.bucket FROM "
        "(SELECT DISTINCT event_type FROM ev) t CROSS JOIN "
        "(SELECT unnest(generate_series(min(bucket), max(bucket))) AS bucket FROM ev) g) "
        "SELECT grid.event_type, grid.bucket, "
        "CAST(coalesce(n_events_raw, 0) AS BIGINT) AS n_events, "
        "last_value(bucket_value IGNORE NULLS) OVER ("
        "PARTITION BY grid.event_type ORDER BY grid.bucket ROWS UNBOUNDED PRECEDING"
        ") AS value_locf "
        "FROM grid LEFT JOIN agg ON grid.event_type = agg.event_type "
        "AND grid.bucket = agg.bucket"
    ),
    "agg_mode_median": (
        "WITH med AS (SELECT l_returnflag, "
        "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6) AS median_qty "
        "FROM lineitem GROUP BY 1), "
        "c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt "
        "FROM lineitem GROUP BY 1, 2), "
        "m AS (SELECT l_returnflag, l_quantity AS mode_qty FROM ("
        "SELECT *, row_number() OVER (PARTITION BY l_returnflag "
        "ORDER BY cnt DESC, l_quantity ASC) AS rn FROM c) WHERE rn = 1) "
        "SELECT l_returnflag, median_qty, mode_qty FROM med JOIN m USING (l_returnflag)"
    ),
    "reshape_unpivot": (
        "SELECT l_orderkey AS ok, l_linenumber AS ln, measure, value FROM ("
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value "
        "FROM lineitem WHERE l_orderkey <= 160 "
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice "
        "FROM lineitem WHERE l_orderkey <= 160 "
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount "
        "FROM lineitem WHERE l_orderkey <= 160 "
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax "
        "FROM lineitem WHERE l_orderkey <= 160)"
    ),
}
