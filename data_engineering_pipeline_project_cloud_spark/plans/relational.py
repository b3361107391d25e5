"""General relational operator surface (SURVEY.md §7 M4).

Categories the build mandate requires that the reference never
implements (marked ABSENT in SURVEY.md §2): semi/anti joins, window
functions, rollup/cube/grouping sets, set operations, distinct
aggregates, JSON extraction, non-equi range joins, pivot, top-k.
All pure built-in DataFrame ops — zero UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..frames import local_frame
from ..functions import money, portable_hash64
from ..operators import relational as rel
from ..operators.sketches import HLL_EST_NUM
from ..sources import load_table
from ..sources.manifest_source import read_manifest, write_frame


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers that have at least one order.  Semi joins
    ship only the join key of the probe side and stop at first match —
    at scale, prefer this over join+distinct (no fan-out, no dedup)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows: top-3 customers per nation by account balance,
    with row_number/rank/dense_rank side by side.  One shuffle on the
    partition key; tie-break pinned on custkey for determinism."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        cust.select(
            "c_custkey", "c_nationkey",
            money("c_acctbal").cast("double").alias("acctbal"),
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: per-customer running order total, lag/lead of
    order price, and order sequence number over event time.  Frame
    edges (lag/lead off the partition boundary) are presented as -1
    rather than NULL so the canonical output is null-free (the operator
    semantics — offset windows — are unchanged)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    price = money("o_totalprice")
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderdate").alias("order_date"),
        price.cast("double").alias("order_price"),
        F.sum(price).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").alias("running_total"),
        F.coalesce(F.lag(price, 1).over(w).cast("double"), F.lit(-1.0))
        .alias("prev_price"),
        F.coalesce(F.lead(price, 1).over(w).cast("double"), F.lit(-1.0))
        .alias("next_price"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions: first/last/nth value over a running
    frame plus ntile quartiles — the remaining analytic-window family
    (ranking and lag/lead live in the two queries above)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    price = money("o_totalprice")
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        price.cast("double").alias("order_price"),
        F.first(price).over(running).cast("double").alias("first_price"),
        F.last(price).over(running).cast("double").alias("latest_price"),
        F.coalesce(F.nth_value(price, 2).over(running).cast("double"),
                   F.lit(-1.0)).alias("second_price"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(nation, segment): subtotal hierarchy with grouping ids.
    Spark expands grouping sets before the hash agg — still a single
    shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.rollup("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
             F.sum(money("c_acctbal")).cast("double").alias("sum_acctbal"),
             F.grouping_id().cast("long").alias("gid"))
        # subtotal rows carry NULL keys; presented as -1/'ALL' sentinels
        # (gid still tells real keys from subtotals) — null-free output
        .select(F.coalesce(F.col("c_nationkey"), F.lit(-1)).cast("long")
                .alias("c_nationkey"),
                F.coalesce(F.col("c_mktsegment"), F.lit("ALL"))
                .alias("c_mktsegment"),
                "n_customers", "sum_acctbal", "gid")
    )


def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus) over lineitem quantities."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
             F.count(F.lit(1)).cast("long").alias("n_items"),
             F.grouping_id().cast("long").alias("gid"))
        .select(F.coalesce(F.col("l_returnflag"), F.lit("ALL"))
                .alias("l_returnflag"),
                F.coalesce(F.col("l_linestatus"), F.lit("ALL"))
                .alias("l_linestatus"),
                "sum_qty", "n_items", "gid")
    )


def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: nations with customers vs nations with
    suppliers, tagged by which set operation produced the row."""
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation_key")).distinct()
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation_key")).distinct()
    both = cust_n.intersect(supp_n).withColumn("set_op", F.lit("intersect"))
    only_cust = cust_n.exceptAll(supp_n).withColumn("set_op", F.lit("except"))
    return both.unionByName(only_cust)


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates per group (COUNT(DISTINCT x)) — Spark
    plans these as expand + two-phase agg.  The approximate variant
    (HLL approx_count_distinct, the scale path for 100 TB cardinality
    estimation) is exposed in `approx_distinct_counts` (rows-only
    check: sketch values are engine-specific)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch cardinalities — the O(1)-memory scale path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


def json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events.props payload (SURVEY.md §2.5
    ABSENT row): get_json_object → typed column → aggregate."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"), money("value").alias("value"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("sum_k"),
             F.max("k").cast("long").alias("max_k"),
             F.sum("value").cast("double").alias("sum_value"),
             F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def json_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON payload into ``map<string,int>``
    and explode its entries (key/value lateral view) — schema-on-read
    for semi-structured columns without a fixed struct."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        ev.select(F.explode(m).alias("key", "value"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entries"),
             F.sum("value").cast("long").alias("sum_value"),
             F.min("value").cast("long").alias("min_value"),
             F.max("value").cast("long").alias("max_value"))
    )


def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: events banded into literal value tiers
    (lo <= value < hi).  Spark plans this as a broadcast nested-loop
    join — fine because the build side is a 5-row literal dim; a
    big-big range join would instead be bucketed by range (see
    operators/asof.py for that pattern)."""
    ev = load_table(spark, sf_dir, "events")
    tiers = local_frame(
        spark,
        [("t0", 0.0, 100.0), ("t1", 100.0, 200.0), ("t2", 200.0, 300.0),
         ("t3", 300.0, 400.0), ("t4", 400.0, 1000.0)],
        "tier string, lo double, hi double")
    return (
        ev.join(F.broadcast(tiers),
                (ev["value"] >= tiers["lo"]) & (ev["value"] < tiers["hi"]))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum(money("value")).cast("double").alias("sum_value"))
    )


def pivot_segment_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: customer counts, market segments × nation region.  Pivot
    values are pinned (no extra discovery pass over the data)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)).cast("long"))
        .na.fill(0, segs)
    )


def global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (top-k).  Spark executes TakeOrdered —
    per-partition heaps + driver merge of k rows, never a full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey",
                      money("o_totalprice").cast("double").alias("total_price"),
                      "o_orderdate")
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectation suite over the star schema: nullability,
    accepted values, ranges, key uniqueness, referential integrity —
    the generalized form of the reference's single PK contract
    (``scripts/transform-complex-full.py:212-213``).  Each row is one
    check with its distributed violation count."""
    from ..operators.quality import (
        expect_accepted_values,
        expect_in_range,
        expect_not_null,
        expect_references,
        expect_unique,
        union_reports,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return union_reports([
        expect_not_null(orders, "o_orderkey"),
        expect_not_null(li, "l_orderkey"),
        expect_accepted_values(li, "l_returnflag", ["A", "N", "R"]),
        expect_in_range(li, "l_discount", 0.0, 1.0),
        expect_unique(orders, ["o_orderkey"]),
        expect_unique(cust, ["c_custkey"]),
        expect_references(li, "l_orderkey", orders, "o_orderkey"),
        expect_references(orders, "o_custkey", cust, "c_custkey"),
        expect_references(cust, "c_nationkey", nation, "n_nationkey"),
    ])


def grouping_sets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS ((flag), (status), ()) — the general
    form rollup/cube specialize.  Single shuffle after Expand."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets([["l_returnflag"], ["l_linestatus"], []],
                        "l_returnflag", "l_linestatus")
        .agg(F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
             F.count(F.lit(1)).cast("long").alias("n_items"),
             F.grouping_id().cast("long").alias("gid"))
        .select(F.coalesce(F.col("l_returnflag"), F.lit("ALL"))
                .alias("l_returnflag"),
                F.coalesce(F.col("l_linestatus"), F.lit("ALL"))
                .alias("l_linestatus"),
                "sum_qty", "n_items", "gid")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: pure scan-filter-aggregate, every predicate
    pushed to parquet (the canonical data-skipping query)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_discount").between(0.02, 0.09))
                  & (F.col("l_quantity") < 24))
        .agg(F.sum((money("l_extendedprice") * money("l_discount"))
                   .cast("decimal(18,4)")).cast("double")
             .alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: EXISTS semi-join (orders having any late-shipped
    item) then priority counts — semi join ships only keys."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"],
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


def correlated_max_item_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery in Spark SQL — the reference's A4
    idiom (``scripts/transform-complex-full.py:72-79``) handed to
    Catalyst, whose RewriteCorrelatedScalarSubquery decorrelates it to
    an aggregate + left join (no per-row re-execution; see SURVEY.md
    §4.2).  The DataFrame rewrite of the same semantics is ``pay_agg``."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql("""
        SELECT o_orderkey AS order_id,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
               COALESCE(
                   (SELECT CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2)))
                                AS DOUBLE)
                    FROM v_lineitem WHERE l_orderkey = o_orderkey),
                   -1.0) AS max_item_price
        FROM v_orders
    """)


def string_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar string family ABSENT from the reference (SURVEY.md
    §2.5): substring, concat, regexp extraction, padding, translate —
    all codegen, exercised over the part dim."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.concat_ws("-", "p_brand", F.col("p_size").cast("string"))
        .alias("brand_size"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.translate("p_brand", "#", "_").alias("brand_clean"),
        F.length("p_name").cast("long").alias("name_len"),
        F.upper(F.reverse("p_brand")).alias("brand_rev"),
    )


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: sample stddev/variance, Pearson
    correlation, sample covariance (built-ins — estimators agree
    cross-engine), plus population skewness/kurtosis computed from raw
    power sums.  Built-in skewness/kurtosis differ ~1e-4 between
    engines (bias-correction variants), so those two are spelled as
    the SAME power-sum formula on both sides — which is also the
    single-pass, partially-aggregatable form you'd want at 100 TB.
    Rounded to 4 dp against summation-order noise."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    price = F.col("l_extendedprice").cast("double")
    grouped = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp(price), 4).alias("price_stddev"),
        F.round(F.var_samp(price), 4).alias("price_var"),
        F.round(F.corr(qty, price), 4).alias("qty_price_corr"),
        F.round(F.covar_samp(qty, price), 4).alias("qty_price_covar"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(price).alias("s1"),
        F.sum(price * price).alias("s2"),
        F.sum(price * price * price).alias("s3"),
        F.sum(price * price * price * price).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * F.col("s2") / F.col("n") \
        + 2 * mu * mu * mu
    m4 = (F.col("s4") / F.col("n") - 4 * mu * F.col("s3") / F.col("n")
          + 6 * mu * mu * F.col("s2") / F.col("n") - 3 * mu * mu * mu * mu)
    return grouped.select(
        "l_returnflag", "price_stddev", "price_var",
        F.round(m3 / F.pow(m2, 1.5), 4).alias("price_skew"),
        F.round(m4 / (m2 * m2) - 3.0, 4).alias("price_kurt"),
        "qty_price_corr", "qty_price_covar",
        F.col("n").cast("long").alias("n_rows"),
    )


def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (median / p90) per group — the
    sort-based exact form; the 100 TB path is approx_percentile
    (t-digest sketch), same call shape."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(price, F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile(price, F.lit(0.9)), 4).alias("p90_price"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


HIST_BUCKETS = 10
HIST_LO, HIST_HI = 0.0, 100000.0


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals via ``width_bucket`` — the
    profiling primitive behind range-partitioning decisions and data
    drift checks.  Map-side bucket assignment + one partial-aggregated
    groupBy of ≤ buckets+2 rows (under/overflow land in 0 and
    buckets+1); bucket bounds are reported so the result is
    self-describing."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    b = F.width_bucket(price, F.lit(HIST_LO), F.lit(HIST_HI),
                       F.lit(HIST_BUCKETS))
    step = (HIST_HI - HIST_LO) / HIST_BUCKETS
    return (o.select(b.cast("long").alias("bucket"),
                     money("o_totalprice").alias("p"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum("p").cast("double").alias("total_price"))
            .select("bucket",
                    F.round(F.lit(HIST_LO) + (F.col("bucket") - 1) * step, 2)
                    .alias("bucket_lo"),
                    F.round(F.lit(HIST_LO) + F.col("bucket") * step, 2)
                    .alias("bucket_hi"),
                    "n_orders", "total_price"))


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): the four lineitem measures melted to
    (measure, value) rows, then re-aggregated.  Map-side expand — the
    inverse of pivot."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_orderkey",
        money("l_quantity").alias("quantity"),
        money("l_extendedprice").alias("extendedprice"),
        money("l_discount").alias("discount"),
        money("l_tax").alias("tax"),
    ).unpivot(
        "l_orderkey",
        ["quantity", "extendedprice", "discount", "tax"],
        "measure", "value")
    return long.groupBy("measure").agg(
        F.sum("value").cast("double").alias("sum_value"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def argmax_customer_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by aggregates: per nation, the customer holding the
    max (and min) account balance, tie-broken on custkey via struct
    ordering — single hash agg, no window."""
    cust = load_table(spark, sf_dir, "customer")
    bal = money("c_acctbal")
    return cust.groupBy("c_nationkey").agg(
        F.max(F.struct(bal.alias("b"), F.col("c_custkey").alias("k")))["k"]
        .alias("richest_custkey"),
        F.min(F.struct(bal.alias("b"), F.col("c_custkey").alias("k")))["k"]
        .alias("poorest_custkey"),
        F.max(bal).cast("double").alias("max_bal"),
        F.min(bal).cast("double").alias("min_bal"),
    )


def salted_join_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew lever as a registry face: orders ⋈ customer with the
    big side salted over 8 sub-keys (operators/skew.py).  Semantically
    identical to the plain equi-join — which is exactly what the oracle
    SQL runs — so the driver check proves the salting is transparent.
    Use when ONE key's rows exceed a task; AQE handles the rest."""
    from ..operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        money("o_totalprice").alias("total_price"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_mktsegment").alias("segment"))
    joined = salted_join(orders, cust, "customer_id", salt_buckets=8)
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("total_price").cast("double").alias("sum_price"))


ZORDER_BITS = 16
ZORDER_EPOCH = "1992-01-01"


def zorder_layout_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional layout key: the Morton (Z-order) interleave of
    customer and order-day buckets (operators/skew.py:zorder_key).
    Sorting the table by this key before writing clusters rows close
    in BOTH dimensions into the same files, so row-group min/max stats
    prune scans for predicates on either column — the data-skipping
    strategy behind OPTIMIZE ZORDER, from plain column arithmetic."""
    from ..operators.skew import zorder_key

    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit(ZORDER_EPOCH).cast("date"))
    # range-bucketize custkey into [0, 2^bits) — zorder_key's contract;
    # a raw key above 2^bits would wrap under the mask and interleave
    # distant customers into the same z-ranges.  The divisor derives
    # from the observed max (one tiny agg, broadcast back), so the
    # bucketization stays locality-preserving at ANY scale factor.
    mx = o.agg(F.max("o_custkey").alias("mx"))
    scale = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((F.col("mx") + 1) / F.lit(1 << ZORDER_BITS)).cast("long"))
    cust_bucket = F.floor(F.col("o_custkey") / scale).cast("long")
    return o.crossJoin(F.broadcast(mx)).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        day.cast("long").alias("order_day"),
        zorder_key(cust_bucket, day, bits=ZORDER_BITS).alias("zkey"))


def hll_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches: a Datasketches HLL per
    event type, UNIONED into a corpus-wide sketch without touching the
    raw rows again — the pattern that makes distinct counts roll up
    through cube/partition levels at 100 TB (per-partition sketches
    are bytes; exact distincts would re-shuffle the fact table per
    level).  Output: per-type estimates plus the unioned __ALL__ row.
    Rows-only face (sketch estimates have no SQL oracle); the ≤2%
    error bound vs exact is pytest-asserted."""
    ev = load_table(spark, sf_dir, "events")
    # consumed twice (per-type estimates + the union row): persist the
    # |types| sketch rows so the fact table is scanned once
    per_type = scoped_persist(ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")))
    by_type = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("long").alias("est_users"))
    unioned = (per_type.agg(F.hll_union_agg("sk").alias("u"))
               .select(F.lit("__ALL__").alias("event_type"),
                       F.hll_sketch_estimate("u").cast("long")
                       .alias("est_users")))
    return by_type.unionByName(unioned)


def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style COLUMN PROFILER: one row per profiled column with
    completeness (nulls), cardinality (exact distinct — the oracle
    needs exactness; at 100 TB swap in approx_count_distinct) and the
    min/max rendered through TYPE-STABLE string forms (BIGINT /
    DECIMAL / date-formatted — never raw double→string, whose
    exponent formatting is engine-specific).  One pass per column
    family over the table; the profile output is O(columns) driver
    metadata."""
    o = load_table(spark, sf_dir, "orders")
    ident = (lambda c: c.cast("string"))
    cols = [
        # (name, typed expr — min/max happen on the TYPE, not its
        #  string form — , string renderer for the aggregated bound)
        ("o_orderkey", F.col("o_orderkey").cast("long"), ident),
        ("o_custkey", F.col("o_custkey").cast("long"), ident),
        ("o_orderstatus", F.col("o_orderstatus"), ident),
        ("o_orderpriority", F.col("o_orderpriority"), ident),
        ("o_totalprice", F.col("o_totalprice").cast("decimal(12,2)"),
         ident),
        ("o_orderdate", F.col("o_orderdate").cast("date"),
         lambda c: F.date_format(c, "yyyy-MM-dd")),
    ]
    # ONE scan for the whole profile: all columns' metrics in a single
    # aggregate (multiple exact distincts run through Spark's Expand —
    # one pass over the data, not one scan per column), then the 1-row
    # result unpivots to the per-column report
    aggs = []
    for name, expr, render in cols:
        v = expr
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"__n_{name}"),
            F.sum(F.when(v.isNull(), 1).otherwise(0)).cast("long")
            .alias(f"__null_{name}"),
            F.countDistinct(v).cast("long").alias(f"__nd_{name}"),
            render(F.min(v)).alias(f"__min_{name}"),
            render(F.max(v)).alias(f"__max_{name}"),
        ]
    one = o.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(name).alias("column"),
                 F.col(f"__n_{name}").alias("n_rows"),
                 F.col(f"__null_{name}").alias("n_null"),
                 F.col(f"__nd_{name}").alias("n_distinct"),
                 F.col(f"__min_{name}").alias("min_value"),
                 F.col(f"__max_{name}").alias("max_value"))
        for name, _, _ in cols])
    return (one.select(F.explode(rows).alias("r"))
            .select("r.column", "r.n_rows", "r.n_null", "r.n_distinct",
                    "r.min_value", "r.max_value"))


WEIGHTED_SAMPLE_K = 100


def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (operators/sampling.py:weighted_sample — Efraimidis–Spirakis):
    100 orders drawn with probability proportional to their total
    price, deterministically from the portable hash (no RNG state, so
    retries/re-runs/oracles select the same rows).  One scan + one
    global top-k; the weight-proportional inclusion property is
    pytest-asserted."""
    from ..operators.sampling import weighted_sample

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double")
        .alias("total_price"))
    return weighted_sample(o, "total_price", "o_orderkey",
                           WEIGHTED_SAMPLE_K)


def portable_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-reproducible HyperLogLog
    (operators/sketches.py:hll_portable_registers/_estimate): distinct
    users per event type + the register-MERGED ``__ALL__`` rollup,
    from first-principles HLL on the portable md5 fold — unlike the
    Datasketches face (``hll_rollup_users``, rows-only by nature),
    every register and estimate here is bit-identical in the oracle,
    so the driver hash-checks an actual probabilistic sketch.  The
    harmonic denominator is summed as an exact integer (Σ2^(55−M)),
    eliminating float-order effects; the ≤ standard-error accuracy vs
    exact distincts is pytest-asserted."""
    from ..operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type",
                                                    "user_id")
    regs = scoped_persist(
        hll_portable_registers(ev, "user_id", ["event_type"]))
    all_regs = (regs.groupBy("bucket")
                .agg(F.max("m").cast("int").alias("m"))
                .select(F.lit("__ALL__").alias("event_type"), "bucket",
                        "m"))
    return hll_portable_estimate(
        regs.unionByName(all_regs), ["event_type"]
    ).select("event_type", F.col("est_count").alias("est_users"))


def _format_copy(spark: SparkSession, sf_dir: str, table: str, fmt: str,
                 options: dict[str, str] | None = None,
                 partition_by: str | None = None) -> str:
    """Scratch copy of ``table`` in ``fmt``.  Format round-trips are
    write-once layout decisions (like the bucketed tables): the read
    path is what each face exercises, so repeated calls in one session
    reuse the first write; plans/scratch.py owns the cross-sf
    lifecycle."""
    from .scratch import scoped_scratch

    name = f"rt_{fmt}_{table}" + (f"_{partition_by}" if partition_by else "")

    def build(path: str) -> None:
        w = load_table(spark, sf_dir, table).write.mode("overwrite")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.format(fmt).save(path)

    return scoped_scratch(name, sf_dir, build)


def csv_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source path with a PINNED schema (SURVEY §2 S1): the region
    table written as headered CSV and read back with an explicit
    schema — never inference, which samples the file and can flip a
    column's type between runs.  The oracle reads the original
    parquet, so a quoting/escaping/typing bug anywhere in the text
    round-trip fails the hash check."""
    path = _format_copy(spark, sf_dir, "region", "csv", {"header": "true"})
    back = (spark.read.schema("r_regionkey int, r_name string")
            .option("header", "true").csv(path))
    return back.select(
        F.col("r_regionkey").cast("long").alias("r_regionkey"), "r_name")


def jsonl_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source path with a pinned schema (S1): nation
    written as JSONL and read back with an explicit schema (schema'd
    reads skip the double scan JSON inference costs — at 100 TB
    inference reads the corpus twice)."""
    path = _format_copy(spark, sf_dir, "nation", "json")
    back = (spark.read
            .schema("n_nationkey int, n_name string, n_regionkey int")
            .json(path))
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"))


def xml_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source path with a pinned schema (S1 family — Spark 4
    ships the XML reader natively): supplier written as row-tagged XML
    and read back with an explicit schema (XML inference, like
    JSON/CSV, double-scans and can type-flip; feeds and B2B exports
    are where XML still shows up).  The oracle reads the original
    parquet, so any escaping/typing drift through the markup
    round-trip fails the hash check."""
    path = _format_copy(spark, sf_dir, "supplier", "xml",
                        {"rootTag": "suppliers", "rowTag": "supplier"})
    back = (spark.read
            .schema("s_suppkey long, s_name string, s_nationkey long")
            .option("rowTag", "supplier").format("xml").load(path))
    return back.select("s_suppkey", "s_name", "s_nationkey")


def orc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source path (S1): orders written as ORC (self-describing —
    types, including the LTZ timestamp, survive without a pinned
    schema) and aggregated from the ORC copy; the oracle aggregates
    the original parquet, so any type drift through the columnar
    round-trip breaks parity."""
    path = _format_copy(spark, sf_dir, "orders", "orc")
    back = spark.read.orc(path)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(money("o_totalprice")).cast("double")
                 .alias("sum_price"),
                 F.max("o_orderdate").alias("max_orderdate")))


_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def jdbc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JDBC round-trip (S2 partitioned scan + S3 batched
    overwrite sink) through embedded Derby — the JVM database Spark
    already ships for its metastore, so the sandbox's no-DB-server
    constraint doesn't bite.  Write: ``mode("overwrite")`` +
    ``batchsize`` (the reference's batched-INSERT rationale,
    ``scripts/main.py:55-62``); read: partitionColumn/bounds → 4
    parallel range queries (the anti-single-connection shape,
    ``sources/catalog.py:read_jdbc``).  The oracle reads the original
    parquet, so any type-mapping drift through the SQL dialect fails
    the hash check."""
    from ..sources.catalog import read_jdbc, write_jdbc
    from .scratch import scoped_scratch

    def build(base: str) -> None:
        url = f"jdbc:derby:{base}/db;create=true"
        write_jdbc(load_table(spark, sf_dir, "nation"), url, "nation_rt",
                   batch_size=10000, properties=_DERBY_PROPS)

    base = scoped_scratch("jdbc_derby", sf_dir, build)
    url = f"jdbc:derby:{base}/db;create=true"
    back = read_jdbc(spark, url, "nation_rt",
                     partition_column="n_nationkey", lower_bound=0,
                     upper_bound=25, num_partitions=4,
                     properties=_DERBY_PROPS)
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"))


def partition_pruned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet layout + partition-pruned scan (the CTAS/
    S5 layout decision and its payoff): orders written
    ``partitionBy(o_orderstatus)`` once per session, then read back
    filtered to one status and aggregated.  The filter resolves
    against DIRECTORY names — non-matching partitions are never
    opened (PartitionFilters in the scan node, plan-asserted in
    tests/test_operators.py).  At 100 TB partition pruning is the
    difference between scanning one status's files and the whole
    table; the oracle (same aggregate over the unpartitioned parquet
    WHERE status='F') proves the layout move lost nothing."""
    path = _format_copy(spark, sf_dir, "orders", "parquet",
                        partition_by="o_orderstatus")
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(money("o_totalprice")).cast("double")
                 .alias("sum_price")))


SKEW_REPORT_TOPK = 5


def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic: the heaviest keys per fact-side join
    column with row counts and table share — the report you run
    BEFORE choosing between salting, bucketing, and AQE skew-join
    thresholds (operators/skew.py holds the levers; this finds where
    they're needed).  A key holding >1/shuffle-partitions of the
    table is the straggler signature.

    Shape: one partial-aggregated groupBy per column (the shuffle
    carries key+count, never fact rows), top-k via ORDER BY + LIMIT
    (TakeOrderedAndProject — per-partition top-k, no total sort),
    deterministic tie-break on the key value.
    """
    def top_keys(table: str, col: str) -> DataFrame:
        t = load_table(spark, sf_dir, table)
        counts = t.groupBy(F.col(col).cast("long").alias("key")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"))
        total = t.agg(F.count(F.lit(1)).alias("total"))
        return (counts.crossJoin(F.broadcast(total))
                .select(F.lit(f"{table}.{col}").alias("join_col"), "key",
                        "n_rows",
                        F.round(F.col("n_rows") / F.col("total"), 6)
                        .alias("share"))
                .orderBy(F.col("n_rows").desc(), F.col("key").asc())
                .limit(SKEW_REPORT_TOPK))

    return (top_keys("orders", "o_custkey")
            .unionByName(top_keys("lineitem", "l_orderkey")))


QSKETCH_BIN = 1000  # fixed-width histogram bin (price units)


def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable QUANTILE sketches (the t-digest pattern with a
    deterministic fixed-bin histogram, so it IS oracle-checkable
    unlike the HLL face): per-returnflag price histograms are built in
    one partial-aggregated pass, then the corpus-wide row is derived
    by MERGING the per-flag histograms (summing bin counts) — the raw
    fact table is scanned exactly once, which is what lets quantiles
    roll up through cube/partition levels at 100 TB.  Estimates are
    bin lower edges at the ceil-rank crossing: the ceil-rank ORDER
    STATISTIC always lies inside the estimated bin (pytest-asserted),
    i.e. max error = one bin width vs that order statistic.  An
    interpolated percentile can sit farther away when the data has a
    gap wider than a bin at the interpolation point — order-statistic
    semantics are what a histogram sketch promises.

    All bin/rank arithmetic is floor/div integer logic over IEEE
    doubles, bit-identical cross-engine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bin_ = F.floor(F.col("l_extendedprice") / QSKETCH_BIN).cast("long")
    hist = scoped_persist(
        li.groupBy(F.col("l_returnflag").alias("g"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt")))
    merged = (hist.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
              .select(F.lit("__ALL__").alias("g"), "bin", "cnt"))
    allh = hist.select("g", "bin", "cnt").unionByName(merged)
    wc = (Window.partitionBy("g").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy("g")
    cum = allh.select(
        "g", "bin", "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"))
    # integer rank crossings: cum >= ceil(q*n) ⟺ cum*denom >= n*num
    hit50 = F.col("cum") * 2 >= F.col("n")
    hit95 = F.col("cum") * 100 >= F.col("n") * 95
    return (cum.groupBy("g")
            .agg(F.max("n").cast("long").alias("n_rows"),
                 (F.min(F.when(hit50, F.col("bin"))) * QSKETCH_BIN)
                 .cast("double").alias("p50_est"),
                 (F.min(F.when(hit95, F.col("bin"))) * QSKETCH_BIN)
                 .cast("double").alias("p95_est")))


SALT_DISTINCT_BUCKETS = 16


def two_stage_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe COUNT(DISTINCT) as a registry face: distinct users per
    event type computed in two stages — dedup within (type, salt)
    sub-keys, then sum the per-salt distinct counts.  A single-stage
    distinct shuffles EVERY row of a hot group to one reducer for the
    dedup; salting splits that group 16 ways and the second stage
    moves only 16 tiny rows per group.  The salt is the user id's own
    hash, so a user lands in exactly one sub-key and the two-stage
    count is exact — which the oracle (plain COUNT DISTINCT) proves."""
    ev = load_table(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("user_id"), F.lit(SALT_DISTINCT_BUCKETS))
    stage1 = (ev.select("event_type", "user_id", salt.alias("__salt"))
              .groupBy("event_type", "__salt")
              .agg(F.countDistinct("user_id").alias("part")))
    return (stage1.groupBy("event_type")
            .agg(F.sum("part").cast("long").alias("n_users")))


#: sf_dir whose bucketed orders/customer tables are currently written
#: (and registered in the session catalog).  Bucketing IS a write-once
#: layout decision — the whole point is that N later joins reuse one
#: pre-shuffle — so the registry face writes once per (sf_dir) and
#: rewrites only when the sf_dir changes (plans/scratch.py owns the
#: lifecycle; the table names are fixed, so a superseded scale's copy
#: is removed rather than served stale).


def bucketed_join_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-location lever as a registry face: orders and customer
    written ``bucketBy(custkey)`` (pre-shuffled at rest), then joined
    on the bucket key — zero Exchange on either side (plan asserted in
    tests/test_skew_bucketing.py); the oracle proves the result equals
    the plain join.  At 100 TB this is the difference between a
    network-bound and an IO-bound recurring join."""
    from ..operators.skew import bucketed_join, write_bucketed
    from .scratch import scoped_scratch

    def build(tmp: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("custkey"), "o_orderkey")
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_nationkey")
        write_bucketed(orders, "b_orders_q", "custkey", 8, f"{tmp}/orders")
        write_bucketed(cust, "b_customer_q", "custkey", 8, f"{tmp}/customer")

    tmp = scoped_scratch("bucketed_tables", sf_dir, build)
    # the scratch memo is Python-side but the tables live in the
    # SESSION catalog: a recreated session would reuse the directory
    # with the table entries gone — re-register by rebuilding
    if not (spark.catalog.tableExists("b_orders_q")
            and spark.catalog.tableExists("b_customer_q")):
        build(tmp)
    return (bucketed_join(spark, "b_orders_q", "b_customer_q", "custkey")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders")))


CDC_DELETE_MOD = 20  # every 20th order (by key hash) plays a delete
SCD2_HIGH_DATE = "9999-12-31 00:00:00"


def cdc_orders_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (batch MERGE semantics): the orders
    table plays a per-customer changelog — each order is an upsert of
    that customer's latest-order record, except orders whose key hash
    ≡ 0 (mod 20), which play deletes.  The winner per customer is the
    highest (order_ts, order_key); a winning delete drops the
    customer.  ``operators/relational.py:cdc_apply``."""
    orders = load_table(spark, sf_dir, "orders")
    op = F.when(
        F.pmod(portable_hash64(F.col("o_orderkey").cast("string"),
                               salt="cdc|"),
               F.lit(CDC_DELETE_MOD)) == 0, F.lit("D")).otherwise(F.lit("U"))
    log = orders.withColumn("op", op)
    out = rel.cdc_apply(log, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.col("o_orderdate").alias("order_ts"))


def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: per customer, consecutive runs of an
    unchanged order status collapse into validity intervals with a
    high-date sentinel on the open row.
    ``operators/relational.py:scd2_compact``."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.select("o_custkey",
                        F.col("o_orderstatus").alias("status"),
                        "o_orderdate", "o_orderkey")
    out = rel.scd2_compact(obs, ["o_custkey"], "status",
                           ["o_orderdate", "o_orderkey"],
                           high_date=SCD2_HIGH_DATE)
    # valid_to carries the year-9999 open-row sentinel, which overflows
    # nanosecond timestamp frames (Arrow/pandas max is 2262) — a
    # toPandas-collecting harness would error on the raw timestamp, so
    # the driver face presents both validity bounds as ISO strings
    return out.select(F.col("o_custkey").cast("long").alias("o_custkey"),
                      "status",
                      F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss")
                      .alias("valid_from"),
                      F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss")
                      .alias("valid_to"),
                      "version", "is_current")


MANIFEST_FILES = 5
MANIFEST_MIN_YEAR = 1997
TT_SPLIT_YEAR = 1998  # manifest_time_travel: v0 = years before this


def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse data skipping as a registry face: orders are laid out
    as a manifest table (range-partitioned by order year, per-file
    min/max footer stats — sources/manifest_source.py), then a
    selective year predicate is answered opening ONLY the files whose
    stat range intersects it.  The pushed filters prune the file list
    AND are re-applied row-wise by Spark, so the oracle (the plain
    predicate over the raw table) proves skipping is semantically
    free.  File-level pruning itself is asserted in
    tests/test_manifest_source.py."""
    from ..sources.manifest_source import register, write_manifest_table
    from .scratch import scoped_scratch

    register(spark)  # also enables the python filter-pushdown conf

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.repartitionByRange(MANIFEST_FILES, "order_year"),
            path, ["order_year", "o_orderkey"])

    tmp = scoped_scratch("manifest_orders", sf_dir, build)
    df = read_manifest(spark, tmp,
                       filters=[("order_year", ">=", MANIFEST_MIN_YEAR)])
    return (df.filter(F.col("order_year") >= MANIFEST_MIN_YEAR)
            .groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering as a registry face (round 6): orders are
    first laid out single-column (range by customer), then rewritten
    along a Morton curve over (customer, price) with
    ``zorder_manifest`` — after which every file covers a bounded
    rectangle in (customer, price) space and a selective predicate on
    EITHER column prunes most files via the ordinary min/max stats.
    The face answers a narrow PRICE-band rollup through the z-layout;
    the oracle is the same rollup over the raw table, so the driver
    hash proves the curve rewrite moved rows without changing them.
    File-level skipping on both axes is asserted in
    tests/test_manifest_zorder.py."""
    from ..sources.manifest_source import (
        register,
        write_manifest_table,
        zorder_manifest,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("total_price"))
        stat_cols = ["o_custkey", "total_price", "o_orderkey"]
        write_manifest_table(
            orders.repartitionByRange(8, "o_custkey"), path, stat_cols)
        n = orders.count()
        zorder_manifest(spark, path, ["o_custkey", "total_price"],
                        stat_cols, target_rows=max(1, -(-n // 8)))

    tmp = scoped_scratch("manifest_zorder_orders", sf_dir, build)
    df = read_manifest(spark, tmp,
                       filters=[("total_price", ">=", 10000.0),
                                ("total_price", "<", 50000.0)])
    return (df.filter((F.col("total_price") >= 10000.0)
                      & (F.col("total_price") < 50000.0))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.countDistinct("o_custkey").cast("long")
                 .alias("n_customers"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reads (``versionAsOf``) over the versioned manifest
    table: orders land in TWO commits — version 0 holds the years
    before TT_SPLIT_YEAR, version 1 appends the rest — and the face
    reads **version 0 after the append**, aggregating per year.  The
    oracle recomputes the same aggregate from the raw table under the
    version-0 predicate, so the driver hash proves the snapshot is
    exactly the pre-append table, untouched by the later commit.
    Optimistic-concurrency commit claiming and interleaved-writer
    rebasing are asserted in tests/test_manifest_source.py."""
    from ..sources.manifest_source import register, write_manifest_table
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.filter(F.col("order_year") < TT_SPLIT_YEAR)
            .repartitionByRange(2, "order_year"), path,
            ["order_year", "o_orderkey"])
        write_frame(
            orders.filter(F.col("order_year") >= TT_SPLIT_YEAR)
            .repartitionByRange(2, "order_year"), path, "append",
            statCols="order_year,o_orderkey")

    tmp = scoped_scratch("manifest_tt_orders", sf_dir, build)
    v0 = read_manifest(spark, tmp, version=0)
    return (v0.groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column schema evolution through the manifest table: version
    0 writes nation WITHOUT the region column, version 1 appends the
    widened schema; the latest read returns BOTH halves under the
    evolved schema with the old files' missing column NULL-filled (the
    contract every table format honors for added columns).  The oracle
    is the equivalent UNION ALL with an explicit NULL, so the driver
    hash proves the null-fill and column alignment byte-for-byte."""
    from ..sources.manifest_source import register, write_manifest_table
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        nat = load_table(spark, sf_dir, "nation")
        write_manifest_table(
            nat.select("n_nationkey", "n_name").coalesce(1), path,
            ["n_nationkey"])
        write_frame(
            nat.select("n_nationkey", "n_name",
                       F.col("n_regionkey").cast("long")
                       .alias("n_regionkey")).coalesce(1),
            path, "append", statCols="n_nationkey")

    tmp = scoped_scratch("manifest_se_nation", sf_dir, build)
    df = read_manifest(spark, tmp)
    # present the null-filled column COALESCEd to a sentinel: a nullable
    # numeric in driver-facing output round-trips through float frames
    # ('0' vs '0.0' — the round-1 serialization trap); the -1 rows are
    # exactly the pre-evolution files
    return df.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.coalesce(F.col("n_regionkey").cast("long"), F.lit(-1).cast("long"))
        .alias("n_regionkey"))


IOJ_WINDOW_DAYS = 14
IOJ_A_MONTHS = ("1995-01-01", "1995-02-01")   # urgent side: Jan 1995
IOJ_B_MONTHS = ("1995-01-01", "1995-03-01")   # high side: Jan-Feb 1995


def interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join face (operators/intervals.py): urgent
    orders' 14-day fulfillment windows intersected with high-priority
    orders' windows — pairs whose handling periods collide, the
    capacity-contention question.  Binned-equi-join implementation;
    the oracle is the plain non-equi theta join, so the driver check
    proves the binning is semantically transparent."""
    from ..operators.intervals import interval_overlap_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("d"))
    win_end = F.date_add(F.col("d"), IOJ_WINDOW_DAYS)
    a = (o.filter((F.col("o_orderpriority") == "1-URGENT")
                  & (F.col("d") >= IOJ_A_MONTHS[0])
                  & (F.col("d") < IOJ_A_MONTHS[1]))
         .select("o_orderkey", F.col("d").alias("s"),
                 win_end.alias("e")))
    b = (o.filter((F.col("o_orderpriority") == "2-HIGH")
                  & (F.col("d") >= IOJ_B_MONTHS[0])
                  & (F.col("d") < IOJ_B_MONTHS[1]))
         .select("o_orderkey", F.col("d").alias("s"),
                 win_end.alias("e")))
    return interval_overlap_join(a, b, "o_orderkey", "s", "e",
                                 "o_orderkey", "s", "e", bin_days=7)


def manifest_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point lookup through the manifest table
    (sources/manifest_source.py ``bloomCols``): orders land
    HASH-partitioned on the key, so every file's min/max range spans
    the whole table and range stats cannot skip anything — the
    per-file blooms are what turn an ``o_orderkey = K`` lookup into
    opening ~one file (a bloom has no false negatives, so skipping is
    exact; Spark still re-applies the filter row-wise).  The oracle is
    the plain point lookup on the raw table; file-count pruning itself
    is pytest-asserted."""
    from ..sources.manifest_source import register
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        write_frame(orders.repartition(6, "o_orderkey"), path,
                    "overwrite", statCols="o_orderkey",
                    bloomCols="o_orderkey")

    path = scoped_scratch("manifest_bloom_orders", sf_dir, build)
    key = (load_table(spark, sf_dir, "orders")
           .agg(F.max("o_orderkey")).collect()[0][0])
    return (read_manifest(spark, path,
                          filters=[("o_orderkey", "=", int(key))])
            .filter(F.col("o_orderkey") == int(key))
            .select("o_orderkey", "status", "total_price"))


def manifest_string_bloom_lookup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """STRING bloom-filter point lookup (round 7 —
    sources/manifest_source.py ``_string_hash64_numpy``): suppliers
    land hash-partitioned on the integer key, s_name carries NO
    min/max stats (statCols covers only the key), so only the
    per-file string bloom — a stable 64-bit prefix hash feeding the
    same bit array as integer blooms — can turn an ``s_name = K``
    lookup into opening ~one file.  Doc-id point lookups on a string
    key are the 100 TB case this exists for.  Oracle: the plain
    lookup on the raw table; file-count pruning and the
    kind-mismatch safety (an int literal never probes a string
    bloom) are pytest-asserted."""
    from ..sources.manifest_source import register
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        sup = load_table(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("s_acctbal").cast("double").alias("acctbal"))
        write_frame(sup.repartition(6, "s_suppkey"), path,
                    "overwrite", statCols="s_suppkey",
                    bloomCols="s_name")

    path = scoped_scratch("manifest_sbloom_supplier", sf_dir, build)
    name = (load_table(spark, sf_dir, "supplier")
            .agg(F.max("s_name")).collect()[0][0])
    return (read_manifest(spark, path,
                          filters=[("s_name", "=", str(name))])
            .filter(F.col("s_name") == name)
            .select("s_suppkey", "s_name", "acctbal"))


SIMJOIN_T = 0.17


def supplier_partset_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join on supplier part-sets
    (operators/similarity.py:prefix_filter_set_join — the PPJoin-family
    prefix-filtering algorithm): all supplier pairs whose part
    catalogs overlap with Jaccard ≥ SIMJOIN_T, no hashing, no false
    negatives.  The oracle is the brute-force all-shared-token join,
    so the driver hash proves the prefix filter loses nothing; the
    hypothesis test covers adversarial set shapes."""
    from ..operators.similarity import prefix_filter_set_join

    ps = (load_table(spark, sf_dir, "lineitem")
          .select(F.col("l_suppkey").cast("long").alias("s_id"),
                  F.col("l_partkey").alias("part")))
    return prefix_filter_set_join(ps, "s_id", "part", SIMJOIN_T)


def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation
    (operators/sketches.py): per-user event counts answered from a
    depth×width counter table instead of a per-key groupBy — the
    fixed-state frequency primitive of the sketch family (HLL =
    distinct, quantile sketch = distribution, CMS = frequency).  The
    oracle rebuilds the identical counters from the portable md5 hash
    and takes the same min-over-depth estimates, so the driver hash
    proves every counter and estimate bit-for-bit; the ≥-true-count
    and merge properties are pytest-asserted."""
    from ..operators.sketches import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"))
    sketch = cms_build(ev, "user_id")
    return cms_estimate(ev, sketch, "user_id")


#: PSI drift buckets: fixed price edges (deterministic in both
#: engines — quantile edges would couple the bucketing to percentile
#: implementations), Laplace-smoothed shares so empty buckets cannot
#: divide by zero.
PSI_EDGES = [50_000, 100_000, 150_000, 200_000, 250_000, 300_000, 400_000]
PSI_SPLIT_YEAR = 1996
PSI_SMOOTH = 0.5


def order_price_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two periods of
    the order-price distribution — the monitoring primitive for
    feature/label drift: bucket the metric on FIXED edges, compare the
    reference period's share per bucket against the current period's,
    and report each bucket's PSI term ``(p−q)·ln(p/q)`` (sum ≥ 0.2 is
    the conventional act threshold).  One scan → one 8-row aggregate;
    shares are Laplace-smoothed from exact integer counts, so both
    engines compute identical doubles."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("p"),
        (F.year("o_orderdate") >= PSI_SPLIT_YEAR).alias("cur"))
    bucket = F.when(F.col("p") < PSI_EDGES[0], 0)
    for i, e in enumerate(PSI_EDGES[1:], start=1):
        bucket = bucket.when(F.col("p") < e, i)
    bucket = bucket.otherwise(len(PSI_EDGES))
    agg = (o.groupBy(bucket.cast("int").alias("bucket"))
           .agg(F.sum(F.when(~F.col("cur"), 1).otherwise(0))
                .cast("long").alias("n_ref"),
                F.sum(F.when(F.col("cur"), 1).otherwise(0))
                .cast("long").alias("n_cur")))
    n_buckets = len(PSI_EDGES) + 1
    # totals via a broadcast 1-row join, not an unpartitioned window:
    # identical exact-integer arithmetic, but the plan stays
    # window-free (no single-partition exchange even in the 8-row
    # post-aggregate — plan hygiene at any scale)
    totals = agg.agg(F.sum("n_ref").alias("t_ref"),
                     F.sum("n_cur").alias("t_cur"))
    agg = agg.crossJoin(F.broadcast(totals))
    p = ((F.col("n_ref") + PSI_SMOOTH)
         / (F.col("t_ref") + PSI_SMOOTH * n_buckets))
    q = ((F.col("n_cur") + PSI_SMOOTH)
         / (F.col("t_cur") + PSI_SMOOTH * n_buckets))
    return agg.select(
        "bucket", "n_ref", "n_cur",
        F.round(p, 6).alias("ref_share"),
        F.round(q, 6).alias("cur_share"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"))


#: Benford expected first-digit shares log10(1 + 1/d), precomputed in
#: Python so BOTH engines consume identical double literals (no libm
#: log10 in either plan).
BENFORD_EXP = {d: __import__("math").log10(1 + 1 / d)
               for d in range(1, 10)}


def benford_first_digit_orders(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Benford's-law audit of the order-price population — the
    classic fraud/data-entry anomaly screen: the observed first-digit
    distribution vs the log10(1+1/d) expectation, with each digit's
    chi-square contribution ``(obs − exp)²/exp``.  The first digit
    comes from the DECIMAL's string form (no float log10 — a price at
    a power-of-ten boundary must classify identically in both
    engines); expected shares are Python-precomputed literals.  One
    scan → 9-row aggregate; per-digit chi terms are reported instead
    of their sum so no cross-row float accumulation exists."""
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(F.col("o_totalprice").cast("decimal(12,2)")
                    .cast("string"), 1, 1).cast("int").alias("digit"))
    agg = (o.groupBy("digit")
           .agg(F.count(F.lit(1)).cast("long").alias("n_obs")))
    total = agg.agg(F.sum("n_obs").cast("long").alias("n"))
    exp_share = F.element_at(
        F.array(*[F.lit(BENFORD_EXP[d]) for d in range(1, 10)]),
        F.col("digit"))
    j = agg.crossJoin(F.broadcast(total))
    obs = F.col("n_obs").cast("double") / F.col("n")
    expn = exp_share * F.col("n")
    return j.select(
        "digit", "n_obs",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp_share, 6).alias("exp_share"),
        F.round((F.col("n_obs") - expn) * (F.col("n_obs") - expn)
                / expn, 6).alias("chi_term"))


#: Heavy-hitter support threshold as a fraction of the stream; must
#: exceed 1/(HH_CAPACITY+1) for the Misra–Gries candidate set to be
#: provably complete.
HH_MIN_FRACTION = 0.0075
HH_CAPACITY = 256


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters without a full-cardinality groupBy
    (operators/frequent.py): per-partition Misra–Gries summaries
    (mergeable-summaries update rule, ≤ HH_CAPACITY counters each)
    nominate candidate users, then ONE candidate-bounded counting pass
    returns every user with ≥ ceil(0.75%·N) events and its exact
    count.  The frequency-sketch family's third member next to CMS
    (point estimates) and HLL (distinct): frequent-item IDENTITIES.
    At 100 TB the summaries are O(partitions·capacity) driver-sized
    metadata and only candidate rows ever shuffle.  The oracle is the
    plain GROUP BY/HAVING — the driver hash proves the candidate pass
    loses nothing and counts exactly."""
    from ..operators.frequent import heavy_hitters_exact

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"))
    return (heavy_hitters_exact(ev, "user_id", HH_MIN_FRACTION,
                                capacity=HH_CAPACITY)
            .select("user_id", F.col("n").alias("n_events")))


MERGE_INSERT_BASE = 1_000_000_000


def _orders_manifest_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double")
        .alias("total_price"))


def manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE into the manifest table
    (sources/manifest_source.py:merge_into_manifest): orders land as a
    range-partitioned manifest table, then a CDC-style batch upserts
    every 10th key (status flip + repriced) and inserts 5 brand-new
    keys; the face reads the post-merge LATEST STATE.  Only files
    whose key stats might hold an updated key are rewritten (stats +
    exact-key pruning); replaced files tombstone in the same atomic
    commit (conflict-detected under concurrency — pytest-asserted).
    The oracle recomputes the merged state relationally from the raw
    table, so the driver hash proves MERGE semantics end-to-end."""
    path = _merge_orders_path(spark, sf_dir)
    return (read_manifest(spark, path)
            .select("o_orderkey", "status", "total_price"))


def _merge_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """The merged orders manifest table (v0 = raw orders, v1 = CDC
    merge), shared by the merge and changefeed faces."""
    from ..sources.manifest_source import (
        merge_into_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), path,
            ["o_orderkey"])
        updates = (orders.filter(F.col("o_orderkey") % 10 == 0)
                   .select("o_orderkey", F.lit("U").alias("status"),
                           (F.col("total_price") + F.lit(1.0))
                           .alias("total_price")))
        inserts = spark.range(5).select(
            (F.lit(MERGE_INSERT_BASE) + F.col("id")).alias("o_orderkey"),
            F.lit("N").alias("status"),
            (F.col("id").cast("double") + F.lit(0.5)).alias("total_price"))
        merge_into_manifest(updates.unionByName(inserts), path,
                            ["o_orderkey"], ["o_orderkey"])

    return scoped_scratch("manifest_merge_orders", sf_dir, build)


def manifest_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level changefeed between manifest versions
    (sources/manifest_source.py:manifest_changes — the CDC-read analog
    of a table format's change data feed): diffing the merged orders
    table's latest version against version 0 must recover EXACTLY the
    CDC batch the merge applied — post-image updates for every 10th
    key, the 5 synthetic inserts, nothing else (rows the merge
    rewrote unchanged while copying their files emit nothing: the diff
    is over values, not layout).  The oracle derives the same change
    set relationally from the raw table."""
    from ..sources.manifest_source import manifest_changes

    path = _merge_orders_path(spark, sf_dir)
    return manifest_changes(spark, path, 0, None, ["o_orderkey"])


def manifest_changefeed_incremental(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """LOG-BASED changefeed
    (sources/manifest_source.py:manifest_changes_incremental): the
    same change set as ``manifest_changefeed`` over the same history,
    but derived by diffing only the files in the two versions' live-set
    symmetric difference — O(rewritten + appended files) instead of two
    full snapshot scans (copy-on-write makes files immutable, so a
    file live at both endpoints cannot hold a changed row).  The
    oracle is the identical relational change set; the only-delta-
    files-opened property is pytest-asserted with a reader spy
    (tests/test_manifest_cdc.py)."""
    from ..sources.manifest_source import manifest_changes_incremental

    path = _merge_orders_path(spark, sf_dir)
    return manifest_changes_incremental(spark, path, 0, None,
                                        ["o_orderkey"])


def manifest_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE by key
    (sources/manifest_source.py:delete_from_manifest): every 7th order
    key is deleted from the orders manifest table, rewriting only the
    files that might hold a doomed key; the face aggregates the
    surviving state per status.  The oracle is the same aggregate
    under the inverse predicate on the raw table."""
    from ..sources.manifest_source import (
        delete_from_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), path,
            ["o_orderkey"])
        delete_from_manifest(
            orders.filter(F.col("o_orderkey") % 7 == 0)
            .select("o_orderkey"), path, ["o_orderkey"], ["o_orderkey"])

    path = scoped_scratch("manifest_delete_orders", sf_dir, build)
    df = read_manifest(spark, path)
    return (df.groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


REPLACE_WHERE_YEAR = 1995


def manifest_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-scoped atomic overwrite
    (sources/manifest_source.py:overwrite_where — Delta's
    ``replaceWhere``, the backfill primitive): the orders manifest
    table is laid out range-clustered by year, then one commit
    replaces EVERY 1995 row with a recomputed version (status →
    'B', price +1) while touching only the files whose year stats
    intersect 1995.  The face aggregates the final state per status;
    the oracle recomputes it relationally from raw orders, proving
    scope replacement + out-of-scope preservation end-to-end.  File
    preservation, scope validation and the DV interplay are
    pytest-asserted (tests/test_manifest_dv.py)."""
    from ..sources.manifest_source import (
        overwrite_where,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"))
        write_manifest_table(
            orders.repartitionByRange(6, "o_year", "o_orderkey"), path,
            ["o_orderkey", "o_year"])
        repl = (orders.filter(F.col("o_year") == REPLACE_WHERE_YEAR)
                .select("o_orderkey", "o_year",
                        F.lit("B").alias("status"),
                        (F.col("total_price") + F.lit(1.0))
                        .alias("total_price")))
        overwrite_where(repl, path, "o_year", REPLACE_WHERE_YEAR,
                        REPLACE_WHERE_YEAR, ["o_orderkey", "o_year"])

    path = scoped_scratch("manifest_rw_orders", sf_dir, build)
    df = read_manifest(spark, path)
    return (df.groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY column drop
    (sources/manifest_source.py:drop_column_from_manifest): nation
    lands with three columns, ``n_regionkey`` is dropped in one CAS
    commit that touches NO data file (reads project the narrowed
    schema), and a post-drop append proves the table keeps evolving.
    Re-add refusal (the column-mapping resurrection hazard), pre-drop
    time travel and the no-rewrite property are pytest-asserted
    (tests/test_manifest_source.py)."""
    from ..sources.manifest_source import (
        drop_column_from_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        nat = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("long").alias("n_regionkey"))
        write_manifest_table(nat.coalesce(1), path, ["n_nationkey"])
        drop_column_from_manifest(path, "n_regionkey")
        write_frame(
            local_frame(spark, [(100, "NEWLAND")],
                        "n_nationkey long, n_name string")
            .coalesce(1), path, "append", statCols="n_nationkey")

    path = scoped_scratch("manifest_dropcol_nation", sf_dir, build)
    return (read_manifest(spark, path)
            .select("n_nationkey", "n_name"))


def manifest_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE-HISTORY introspection
    (sources/manifest_source.py:manifest_history) over the merged
    orders table: one row per retained snapshot with its live-row
    accounting — v0 is the initial load (|orders| rows), v1 the CDC
    merge (+5 synthetic inserts, updates net zero).  The oracle
    derives both row counts relationally, so the hash proves the
    snapshot accounting agrees with the data the commits actually
    wrote.  File-level history columns (file counts, DV debt,
    commit stamps) are pytest-asserted — they depend on layout, not
    on the data, so they have no relational oracle."""
    from ..sources.manifest_source import manifest_history

    path = _merge_orders_path(spark, sf_dir)
    hist = manifest_history(path)
    return local_frame(
        spark,
        [(h["version"], h["n_live_rows"], h["n_dv_rows"])
         for h in hist],
        "version int, n_live_rows long, n_dv_rows long")


def manifest_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete via deletion vectors
    (sources/manifest_source.py:delete_vectors_from_manifest): every
    13th order key is deleted from the orders manifest table as a
    pure-metadata commit — per-file position bitmaps, NO data file
    written or rewritten (the no-rewrite property and the
    copy-on-write fallback cap are pytest-asserted in
    tests/test_manifest_dv.py); readers mask the positions.  The face
    aggregates the surviving state per status; the oracle is the same
    aggregate under the inverse predicate on the raw table, so the
    driver hash proves the masked read end-to-end."""
    from ..sources.manifest_source import (
        delete_vectors_from_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), path,
            ["o_orderkey"])
        delete_vectors_from_manifest(
            orders.filter(F.col("o_orderkey") % 13 == 0)
            .select("o_orderkey"), path, ["o_orderkey"], ["o_orderkey"])

    path = scoped_scratch("manifest_dv_orders", sf_dir, build)
    df = read_manifest(spark, path)
    return (df.groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def txn_group_consistent_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table atomic commit group (sources/table_group.py): two
    member tables — per-status and per-priority order count facts —
    are seeded with a third of the orders, then ONE ``group_commit``
    appends the remaining two-thirds to BOTH and flips the group
    pointer in a single CAS.  The face reads both members THROUGH the
    group's pinned consistent cut and unions their rollups; the oracle
    recomputes both rollups over ALL orders — equality proves the
    cross-table commit completed atomically and the pinned-version
    reads resolve it.  All-or-nothing failure, group time travel,
    rebase under racing group commits and isolation from out-of-band
    writers are pytest-asserted (tests/test_table_group.py)."""
    import os

    from ..sources import table_group as tg
    from ..sources.manifest_source import register, write_manifest_table
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"))
        t1 = os.path.join(path, "by_status")
        t2 = os.path.join(path, "by_priority")
        seed = orders.filter(F.col("o_orderkey") % 3 == 0)
        rest = orders.filter(F.col("o_orderkey") % 3 != 0)
        write_manifest_table(
            seed.select("o_orderkey", "status").coalesce(2), t1,
            ["o_orderkey"])
        write_manifest_table(
            seed.select("o_orderkey", "priority").coalesce(2), t2,
            ["o_orderkey"])
        tg.create_group(os.path.join(path, "group"),
                        {"by_status": t1, "by_priority": t2})
        tg.group_commit(os.path.join(path, "group"), {
            "by_status": (rest.select("o_orderkey", "status")
                          .coalesce(2), ["o_orderkey"]),
            "by_priority": (rest.select("o_orderkey", "priority")
                            .coalesce(2), ["o_orderkey"])})

    path = scoped_scratch("txn_group_orders", sf_dir, build)
    gpath = os.path.join(path, "group")
    a = (tg.read_group_table(spark, gpath, "by_status")
         .groupBy(F.col("status").alias("k"))
         .agg(F.count(F.lit(1)).cast("long").alias("total"))
         .select(F.lit("status").alias("kind"), "k", "total"))
    b = (tg.read_group_table(spark, gpath, "by_priority")
         .groupBy(F.col("priority").alias("k"))
         .agg(F.count(F.lit(1)).cast("long").alias("total"))
         .select(F.lit("priority").alias("kind"), "k", "total"))
    return a.unionByName(b)


def manifest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style bin packing
    (sources/manifest_source.py:compact_manifest): nation arrives in
    four small append commits (the small-file debt a per-micro-batch
    streaming sink accumulates), then compaction rewrites them into one
    right-sized file in a single tombstone commit.  The face reads the
    post-compaction table; the oracle is the plain nation scan, so the
    driver hash proves compaction changes LAYOUT ONLY.  The
    file-count reduction itself is pytest-asserted."""
    from ..sources.manifest_source import (
        compact_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        nat = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey")
        write_manifest_table(
            nat.filter(F.col("n_nationkey") < 7).coalesce(1), path,
            ["n_nationkey"])
        for lo, hi in [(7, 14), (14, 20), (20, 26)]:
            write_frame(
                nat.filter((F.col("n_nationkey") >= lo)
                           & (F.col("n_nationkey") < hi)).coalesce(1),
                path, "append", statCols="n_nationkey")
        compact_manifest(spark, path, ["n_nationkey"], 1_000_000)

    path = scoped_scratch("manifest_compact_nation", sf_dir, build)
    return (read_manifest(spark, path)
            .select(F.col("n_nationkey").cast("long").alias("n_nationkey"),
                    "n_name",
                    F.col("n_regionkey").cast("long").alias("n_regionkey")))


def manifest_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF
    (sources/manifest_source.py:restore_manifest — Delta RESTORE /
    Iceberg rollback; the reference's full-reload posture,
    scripts/main.py, has no undo): the orders manifest takes three
    commits — v0 holds the pre-1998 years, v1 appends the rest, v2
    DV-deletes every 11th key — then RESTORE to v0 rolls the LATEST
    state back as commit v3 with ZERO data movement (tombstones the
    appended files, clears the deletion vectors; O(changed files)
    metadata).  The face aggregates the restored latest per year; the
    oracle recomputes the same aggregate from the raw table under the
    v0 predicate, so the driver hash proves the rollback surfaced
    exactly the original snapshot — appends undone, DV masks cleared.
    Metadata-only/no-rewrite, dvGen CAS safety, and the tail stream's
    fail-fast on the restore commit are pytest-asserted in
    tests/test_manifest_restore_clone.py."""
    from ..sources.manifest_source import (
        delete_vectors_from_manifest,
        register,
        restore_manifest,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.filter(F.col("order_year") < TT_SPLIT_YEAR)
            .repartitionByRange(2, "order_year"), path,
            ["order_year", "o_orderkey"])
        write_frame(
            orders.filter(F.col("order_year") >= TT_SPLIT_YEAR)
            .repartitionByRange(2, "order_year"), path, "append",
            statCols="order_year,o_orderkey")
        delete_vectors_from_manifest(
            orders.filter(F.col("o_orderkey") % 11 == 0)
            .select("o_orderkey"), path, ["o_orderkey"],
            ["order_year", "o_orderkey"])
        restore_manifest(path, 0)

    tmp = scoped_scratch("manifest_restore_orders", sf_dir, build)
    df = read_manifest(spark, tmp)
    return (df.groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (sources/manifest_source.py:clone_manifest — the
    Delta `CREATE TABLE ... SHALLOW CLONE` contract): the clone's v0
    commit references the source's data files with zero bytes copied,
    after which the two tables evolve independently.  The build clones
    the full orders manifest, then mutates the SOURCE hard — DV-deletes
    every 13th key and compacts the layout — and the face reads the
    CLONE: the oracle is the plain full-table aggregate, so the driver
    hash proves the clone still serves the exact pre-mutation snapshot
    (source tombstones/DVs never leak through shared file paths).
    Zero-copy, both-direction write independence, DV-sidecar carry,
    and the deep-clone (`copy_data=True`) variant are pytest-asserted
    in tests/test_manifest_restore_clone.py."""
    import os as _os

    from ..sources.manifest_source import (
        clone_manifest,
        compact_manifest,
        delete_vectors_from_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        src = _os.path.join(root, "src")
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), src,
            ["o_orderkey"])
        clone_manifest(src, _os.path.join(root, "clone"))
        delete_vectors_from_manifest(
            orders.filter(F.col("o_orderkey") % 13 == 0)
            .select("o_orderkey"), src, ["o_orderkey"], ["o_orderkey"])
        compact_manifest(spark, src, ["o_orderkey"], 10**9)

    root = scoped_scratch("manifest_clone_orders", sf_dir, build)
    df = read_manifest(spark, _os.path.join(root, "clone"))
    return (df.groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY RENAME COLUMN via epoch column mapping
    (sources/manifest_source.py:rename_column_in_manifest — the Delta
    columnMapping / Iceberg field-id analog): v0 writes orders with the
    column named ``price``, v1 renames it to ``total_price`` touching
    no data file, v2 appends post-rename rows that physically carry the
    NEW name.  The face filters and aggregates THROUGH the renamed
    column over the mixed-epoch file set — pre-rename files map
    physical→logical at read, post-rename files pass through, and
    stats-based file skipping keys on the logical name.  The oracle is
    the same filter+rollup on the raw table, so the driver hash proves
    the mapping end-to-end.  Zero-rewrite, pruning, rewrites (merge/
    DV/compaction), CDC-across-rename, mid-stream rename, clone/
    restore carry, and the refusal matrix are pytest-asserted in
    tests/test_manifest_rename.py."""
    from ..sources.manifest_source import (
        register,
        rename_column_in_manifest,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.filter(F.col("order_year") < TT_SPLIT_YEAR)
            .repartitionByRange(2, "order_year"), path,
            ["order_year", "o_orderkey", "price"])
        rename_column_in_manifest(path, "price", "total_price")
        write_frame(
            orders.filter(F.col("order_year") >= TT_SPLIT_YEAR)
            .withColumnRenamed("price", "total_price")
            .repartitionByRange(2, "order_year"), path, "append",
            statCols="order_year,o_orderkey,total_price")

    tmp = scoped_scratch("manifest_rename_orders", sf_dir, build)
    df = read_manifest(spark, tmp,
                       filters=[("total_price", "<", 100000.0)])
    return (df.filter(F.col("total_price") < 100000.0)
            .groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


TRI_SYNC_YEAR = 1996    # tri-clause merge: source = years >= this
TRI_STALE_YEAR = 1994   # tri-clause merge: unmatched rows < this die


def manifest_merge_tri_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tri-clause MERGE (round 7 —
    sources/manifest_source.py:merge_into_manifest
    ``not_matched_by_source``): one atomic commit applies WHEN MATCHED
    UPDATE (recent orders re-synced with a new status), WHEN NOT
    MATCHED INSERT (none here — covered by ``manifest_merge_upsert``)
    AND **WHEN NOT MATCHED BY SOURCE DELETE** (rows older than
    TRI_STALE_YEAR that the source extract no longer carries are
    retired).  The face aggregates the post-merge table; the oracle
    recomputes the tri-clause result relationally from the raw table,
    so the driver hash proves all three clauses landed as one
    snapshot."""
    import os as _os

    from ..sources.manifest_source import (
        merge_into_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        path = _os.path.join(root, "table")
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.lower(F.trim(F.col("o_orderstatus"))).alias("status"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.repartitionByRange(6, "o_orderkey"), path,
            ["o_orderkey", "order_year"])
        source = (orders.filter(F.col("order_year") >= TRI_SYNC_YEAR)
                  .withColumn("status", F.lit("synced")))
        merge_into_manifest(
            source, path, ["o_orderkey"], ["o_orderkey", "order_year"],
            not_matched_by_source=f"order_year < {TRI_STALE_YEAR}")

    root = scoped_scratch("manifest_tri_orders", sf_dir, build)
    df = read_manifest(spark, _os.path.join(root, "table"))
    return (df.groupBy("order_year", "status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


WIDEN_SPLIT_YEAR = 1996  # manifest_widen_column: int commits before it


def manifest_widen_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING schema evolution as a registry face (round 7 —
    sources/manifest_source.py:_merged_schema_json / _WIDENINGS, the
    Delta/Iceberg widening surface): orders land in an INT-keyed
    commit (years before WIDEN_SPLIT_YEAR), then an append whose key
    column is BIGINT widens the table schema in place — pre-widen
    files upcast losslessly at read (natively in the JVM vectorized
    reader; via the Arrow cast on the Python source).  The face
    aggregates ACROSS the widen boundary with an exact BIGINT key sum,
    so the oracle (the same rollup over the raw table) proves the
    upcast changed no value.  Refuse-on-narrowing and time travel
    across the widen are pytest-asserted in
    tests/test_manifest_source.py."""
    from ..sources.manifest_source import register, write_manifest_table
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.filter(F.col("order_year") < WIDEN_SPLIT_YEAR)
            .repartitionByRange(2, "order_year"), path,
            ["order_year", "o_orderkey"])
        write_frame(
            orders.filter(F.col("order_year") >= WIDEN_SPLIT_YEAR)
            .withColumn("o_orderkey", F.col("o_orderkey").cast("long"))
            .repartitionByRange(2, "order_year"), path, "append",
            statCols="order_year,o_orderkey")

    tmp = scoped_scratch("manifest_widen_orders", sf_dir, build)
    df = read_manifest(spark, tmp)
    return (df.groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("o_orderkey")).cast("long").alias("sum_key"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-CLASS PARTITION COLUMNS (round 7 —
    sources/manifest_source.py:ManifestArrowWriter ``partitionCols`` +
    ``_partition_survives``): the writer splits every task's data so
    each file holds EXACTLY ONE order_year, records the value on the
    manifest entry, and reads prune on those values BEFORE consulting
    file stats — the Delta/Iceberg partition layout the reference's
    date index implies (transform-complex-full.py:216).  The oracle is
    the plain year rollup over the raw table; file-list-level pruning
    is pytest-asserted in tests/test_manifest_source.py."""
    from ..sources.manifest_source import register
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_frame(orders.repartition(4, "o_orderkey"), path,
                    "overwrite", statCols="o_orderkey",
                    partitionCols="order_year")

    tmp = scoped_scratch("manifest_part_orders", sf_dir, build)
    df = read_manifest(spark, tmp,
                       filters=[("order_year", ">=", MANIFEST_MIN_YEAR)])
    return (df.filter(F.col("order_year") >= MANIFEST_MIN_YEAR)
            .groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def _hidden_part_events_scratch(spark: SparkSession, sf_dir: str) -> str:
    """Shared scratch: the events table written as a graft_manifest
    table hidden-partitioned by ``event_date=date(ts)`` (built once
    per sf_dir; read by the hidden-partition scan and the files-
    metadata faces)."""
    from .scratch import scoped_scratch

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            F.col("event_id").cast("long").alias("event_id"),
            "ts", "event_type",
            F.col("value").cast("double").alias("value"))
        write_frame(ev.repartition(4), path, "overwrite",
                    statCols="event_id",
                    partitionGen="event_date=date(ts)")

    return scoped_scratch("manifest_hidden_part_events", sf_dir, build)


def manifest_hidden_partition_scan(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """HIDDEN GENERATED PARTITIONS (round 7 —
    sources/manifest_source.py ``partitionGen`` +
    ``_derived_partition_filters``): Iceberg-style partition
    transforms.  Events land split by ``date(ts)`` computed AT WRITE
    TIME — the partition column exists in no data file and no read
    schema — and the scan prunes files from the predicate users
    actually write (``ts >= cut``) by implying the partition-value
    bound from the source-column filter.  At 100 TB this is the
    layout that makes time-range queries O(touched days), with none
    of the query-rewrite tax a visible partition column imposes
    (the reference's date-indexed master table,
    transform-complex-full.py:216, hand-maintains that column).  The
    oracle recomputes the rollup from the raw events table;
    file-level pruning is pytest-asserted
    (tests/test_manifest_source.py::test_hidden_generated_partitions).
    """
    import datetime

    from ..sources.manifest_source import read_manifest, register

    register(spark)
    tmp = _hidden_part_events_scratch(spark, sf_dir)
    cut = datetime.datetime(2024, 1, 15)
    df = read_manifest(spark, tmp, filters=[("ts", ">=", cut)])
    return (df.filter(F.col("ts") >= F.lit(cut))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)"))
                 .cast("double").alias("sum_value")))


def manifest_partition_evolution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """FORWARD-ONLY PARTITION SPEC EVOLUTION (round 8 —
    sources/manifest_source.py ``evolve_partition_spec`` +
    ``_all_partition_specs``): a grown table re-partitions with ONE
    metadata commit, Iceberg's spec-evolution contract.  Era 1 lands
    month-partitioned, the spec evolves to day granularity, era 2
    appends under the new spec — no data file rewritten.  A plain
    ``ts >= cut`` predicate then prunes BOTH eras, each file under
    the transforms of the spec it was written with (the archived
    spec's month bound for era-1 files, the current date bound for
    era-2).  The oracle recomputes the rollup from raw events;
    mixed-era file pruning is pytest-asserted in
    tests/test_partition_evolution.py."""
    import datetime

    from ..sources.manifest_source import (
        evolve_partition_spec,
        read_manifest,
        register,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            F.col("event_id").cast("long").alias("event_id"),
            "ts", "event_type",
            F.col("value").cast("double").alias("value"))
        split = datetime.datetime(2024, 1, 15)
        write_frame(ev.filter(F.col("ts") < split).repartition(4),
                    path, "overwrite", statCols="event_id",
                    partitionGen="ev_month=month(ts)")
        evolve_partition_spec(path, "ev_day=date(ts)")
        write_frame(ev.filter(F.col("ts") >= split).repartition(4),
                    path, "append", statCols="event_id")

    tmp = scoped_scratch("manifest_evo_events", sf_dir, build)
    cut = datetime.datetime(2024, 1, 10)
    df = read_manifest(spark, tmp, filters=[("ts", ">=", cut)])
    return (df.filter(F.col("ts") >= F.lit(cut))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)"))
                 .cast("double").alias("sum_value")))


def manifest_merge_schema_evolution(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION (round 8 —
    sources/manifest_source.py:merge_into_manifest
    ``schema_evolution=True``, Delta's ``withSchemaEvolution``): the
    CDC batch carries a column the table lacks (``note``); one atomic
    commit upserts the rows AND widens the table schema (add-column —
    the same evolution contract appends follow).  Rewritten rows
    null-fill nothing (they carry the value), rows in untouched files
    null-fill at read time.  The oracle reconstructs the merged,
    widened state relationally from the raw table."""
    from ..sources.manifest_source import (
        merge_into_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), path,
            ["o_orderkey"])
        updates = (orders.filter(F.col("o_orderkey") % 7 == 0)
                   .select("o_orderkey", "status",
                           (F.col("total_price") + F.lit(1.0))
                           .alias("total_price"),
                           F.lit("adjusted").alias("note")))
        merge_into_manifest(updates, path, ["o_orderkey"],
                            ["o_orderkey"], schema_evolution=True)

    tmp = scoped_scratch("manifest_mse_orders", sf_dir, build)
    return (read_manifest(spark, tmp)
            .select("o_orderkey", "total_price",
                    F.coalesce(F.col("note"), F.lit("-")).alias("note")))


UPDATE_CUT_YEAR = 1997  # manifest_update_where: audit scope upper bound


def manifest_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write ``UPDATE ... SET ... WHERE`` (round 8 —
    sources/manifest_source.py:update_manifest, the Delta UPDATE
    statement): finished orders up to UPDATE_CUT_YEAR take a 10%
    markdown and an ``audited`` status in ONE atomic commit that
    rewrites ONLY the files containing matches (two-phase: a
    stats-pruned FIND scan tags matched rows with their source file
    via ``_metadata``, then the affected files rewrite masked).  The
    face returns the post-update rows; the oracle recomputes the
    update relationally with CASE WHEN, so the driver hash proves
    matched rows changed, unmatched rows survived byte-identical, and
    no row was lost or duplicated by the rewrite."""
    import os as _os

    from ..sources.manifest_source import (
        register,
        update_manifest,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        path = _os.path.join(root, "table")
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_manifest_table(
            orders.repartitionByRange(5, "order_year"), path,
            ["o_orderkey", "order_year"])
        update_manifest(
            spark, path,
            {"total_price": "total_price * 0.9",
             "status": "'audited'"},
            f"status = 'F' AND order_year <= {UPDATE_CUT_YEAR}",
            filters=[("order_year", "<=", UPDATE_CUT_YEAR)])

    root = scoped_scratch("manifest_update_orders", sf_dir, build)
    return (read_manifest(spark, _os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def manifest_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO — idempotent file ingestion (round 8 —
    sources/manifest_source.py:copy_into, Delta's ``COPY INTO``): a
    landing directory of raw parquet drops is loaded with
    ``copy_into`` THREE times — first run loads two files, an
    immediate re-run (the scheduler-retry case) skips both, then a
    late-arriving file lands and the third run loads ONLY it.  The
    face returns the final table; the oracle is the plain orders
    projection, so the driver hash proves every source row landed
    EXACTLY ONCE across the re-runs — the registry skipped loaded
    files instead of duplicating them, and missed none."""
    import os as _os

    from ..sources.manifest_source import copy_into, register
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        landing = _os.path.join(root, "landing")
        table = _os.path.join(root, "table")
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        for name, cond in [
                ("early.parquet", F.col("order_year") <= 1996),
                ("mid.parquet", F.col("order_year").between(1997, 1998))]:
            (orders.filter(cond).coalesce(1).write.mode("overwrite")
             .parquet(_os.path.join(landing, "_t")))
            import glob as _glob

            part = _glob.glob(
                _os.path.join(landing, "_t", "*.parquet"))[0]
            _os.replace(part, _os.path.join(landing, name))
        r1 = copy_into(spark, table, landing,
                       stat_cols=["o_orderkey", "order_year"])
        r2 = copy_into(spark, table, landing)  # retry: must no-op
        assert r1["loadedFiles"] == 2 and r2["loadedFiles"] == 0
        (orders.filter(F.col("order_year") >= 1999).coalesce(1)
         .write.mode("overwrite").parquet(_os.path.join(landing, "_t")))
        import glob as _glob
        part = _glob.glob(_os.path.join(landing, "_t", "*.parquet"))[0]
        _os.replace(part, _os.path.join(landing, "late.parquet"))
        r3 = copy_into(spark, table, landing)  # only the late file
        assert r3["loadedFiles"] == 1 and r3["skippedFiles"] == 2

    root = scoped_scratch("manifest_copy_landing", sf_dir, build)
    return (read_manifest(spark, _os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def manifest_check_constraint(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """SQL CHECK constraints (round 8 —
    sources/manifest_source.py:add_check_constraint, Delta's ``ALTER
    TABLE ... ADD CONSTRAINT ... CHECK``): the table carries
    ``CHECK (total_price > 0 AND status IN (...))``; a compliant
    append lands, a violating one is REFUSED before anything publishes
    (verified pre-commit over the staged files, staging discarded).
    The face returns the final table; the oracle is the compliant
    rows only — if enforcement leaked the bad batch (or rolled back
    the good one) the hash breaks."""
    import os as _os

    from ..sources.manifest_source import (
        add_check_constraint,
        register,
        write_frame,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        path = _os.path.join(root, "table")
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .repartitionByRange(3, "o_orderkey"), path, ["o_orderkey"])
        add_check_constraint(
            spark, path, "valid_order",
            "total_price > 0 AND status IN ('F', 'O', 'P')")
        write_frame(orders.filter(F.col("o_orderkey") % 2 == 1),
                    path, "append", statCols="o_orderkey")
        bad = orders.limit(5).withColumn("status", F.lit("??"))
        try:
            write_frame(bad, path, "append", statCols="o_orderkey")
            raise AssertionError("violating append must be refused")
        except ValueError:
            pass  # refused pre-publish — the contract

    root = scoped_scratch("manifest_check_orders", sf_dir, build)
    return (read_manifest(spark, _os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price"))


def manifest_column_defaults(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Column DEFAULT values (round 8 —
    sources/manifest_source.py:set_column_default, Delta/ANSI ``SET
    DEFAULT``): even-keyed orders land WITH their status, then the
    table takes ``status DEFAULT 'backfilled'`` and the odd-keyed
    orders append WITHOUT the column — the write fills the default.
    The oracle recomputes the expected split relationally, so the hash
    proves the default applied to exactly the omitting append and
    nothing else (not retroactive, existing rows untouched)."""
    import os as _os

    from ..sources.manifest_source import (
        register,
        set_column_default,
        write_frame,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        path = _os.path.join(root, "table")
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .repartitionByRange(3, "o_orderkey"), path, ["o_orderkey"])
        set_column_default(spark, path, "status", "'backfilled'")
        write_frame(orders.filter(F.col("o_orderkey") % 2 == 1)
                    .select("o_orderkey", "total_price"),
                    path, "append", statCols="o_orderkey")

    root = scoped_scratch("manifest_defaults_orders", sf_dir, build)
    return (read_manifest(spark, _os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price"))


def manifest_generated_column(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """GENERATED columns (round 8 —
    sources/manifest_source.py:add_generated_column, Delta's
    ``GENERATED ALWAYS AS``): a price band derived from
    ``total_price`` is declared generated with ``backfill=True``
    (existing files rewrite computing it), then an append OMITTING the
    column lands — the write computes it.  The oracle recomputes the
    band relationally over the raw table, so the hash proves the
    backfill, the write-time computation, and the enforcement all
    produced the declared expression everywhere."""
    import os as _os

    from ..sources.manifest_source import (
        add_generated_column,
        register,
        write_frame,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(root: str) -> None:
        path = _os.path.join(root, "table")
        orders = _orders_manifest_frame(spark, sf_dir).select(
            "o_orderkey", "total_price")
        write_manifest_table(
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .repartitionByRange(3, "o_orderkey"), path, ["o_orderkey"])
        add_generated_column(
            spark, path, "price_band",
            "CAST(floor(total_price / 50000) AS INT)", backfill=True)
        write_frame(orders.filter(F.col("o_orderkey") % 2 == 1),
                    path, "append", statCols="o_orderkey")

    root = scoped_scratch("manifest_gen_orders", sf_dir, build)
    return (read_manifest(spark, _os.path.join(root, "table"))
            .select("o_orderkey", "total_price", "price_band"))


def manifest_metadata_count(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """METADATA-ONLY COUNT (round 8 —
    sources/manifest_source.py:count_manifest): the snapshot's row
    count folds from manifest entries (Σ rows − dvRows over live
    files) — no data file opened, the OptimizeMetadataOnlyQuery /
    Delta stats-count behavior.  The scratch table takes a
    deletion-vector delete first, so the count proves DV-awareness:
    masked rows subtract without a scan.  At 100 TB this is the
    difference between a driver metadata fold and a full-table scan
    for ``SELECT COUNT(*)``.  The oracle recomputes the count
    relationally under the delete predicate."""
    from ..sources.manifest_source import (
        count_manifest,
        delete_vectors_from_manifest,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        write_manifest_table(
            orders.repartitionByRange(4, "o_orderkey"), path,
            ["o_orderkey"])
        delete_vectors_from_manifest(
            orders.filter(F.col("o_orderkey") % 13 == 0)
            .select("o_orderkey"), path, ["o_orderkey"],
            ["o_orderkey"])

    tmp = scoped_scratch("manifest_count_orders", sf_dir, build)
    n = count_manifest(tmp)
    return local_frame(spark, [(n,)], "n_rows long")


def manifest_incremental_optimize(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """INCREMENTAL LIQUID CLUSTERING (round 8 —
    sources/manifest_source.py:optimize_manifest ``incremental=True``):
    the steady-state maintenance loop of a clustered table.  Each
    z-order rewrite stamps its output files with the layout signature
    (``clusteredBy`` entry tag); an incremental OPTIMIZE clusters ONLY
    files whose stamp differs — new appends since the last run — so
    maintenance costs O(new data), never O(table), exactly Delta
    liquid clustering's behavior (per-batch clustering, no global
    re-sort).  The face: cluster, append, incrementally optimize, and
    read a selective range rollup; the oracle recomputes it from the
    raw table.  That already-clustered files keep their bytes (and the
    steady-state run no-ops) is pytest-asserted in
    tests/test_manifest_zorder.py."""
    from ..sources.manifest_source import (
        optimize_manifest,
        register,
        set_cluster_by,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = _orders_manifest_frame(spark, sf_dir)
        half = orders.agg(F.max("o_orderkey")).collect()[0][0] // 2
        write_manifest_table(
            orders.filter(F.col("o_orderkey") <= half).repartition(4),
            path, ["o_orderkey"])
        set_cluster_by(path, ["o_orderkey"])
        optimize_manifest(spark, path, target_rows=100_000)
        write_frame(
            orders.filter(F.col("o_orderkey") > half).repartition(3),
            path, "append", statCols="o_orderkey")
        optimize_manifest(spark, path, target_rows=100_000,
                          incremental=True)

    tmp = scoped_scratch("manifest_incopt_orders", sf_dir, build)
    df = read_manifest(spark, tmp, filters=[("o_orderkey", "<=", 64)])
    return (df.filter(F.col("o_orderkey") <= 64)
            .groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_files_metadata(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """FILES METADATA TABLE (round 7 —
    sources/manifest_source.py:manifest_files; Delta DESCRIBE DETAIL
    files / Iceberg ``.files`` analog): one row per live manifest
    entry with committed/dead/live row counts, bytes, and partition
    values — the audit surface operators read before OPTIMIZE/VACUUM.
    The face proves the bookkeeping is EXACT, not approximate: summing
    ``live_rows`` per hidden partition value must reproduce a fresh
    ``COUNT(*)`` per day over the raw events — the oracle recomputes
    that independently in DuckDB.  O(files) driver metadata, no data
    scan (the one deliberately driver-side surface: a 100 TB table at
    1 GB/file is ~100k metadata rows, the same order every table
    format's DESCRIBE DETAIL materializes)."""
    from ..sources.manifest_source import manifest_files, register

    register(spark)
    tmp = _hidden_part_events_scratch(spark, sf_dir)
    files = manifest_files(spark, tmp)
    return (files
            .withColumn("event_date", F.get_json_object(
                "partition_json", "$.event_date"))
            .groupBy("event_date")
            .agg(F.sum("live_rows").cast("long").alias("n_rows")))


DPO_YEAR = 1997  # manifest_dynamic_partition_overwrite backfill target


def manifest_dynamic_partition_overwrite(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE (round 7 — writer option
    ``partitionOverwrite=dynamic``, Spark's dynamic
    partitionOverwriteMode / Hive INSERT OVERWRITE as one atomic
    manifest commit): orders land partitioned by year, then a backfill
    re-writes ONLY the DPO_YEAR partition (prices re-stated with a
    flat +1.00 adjustment — exact in decimal, so the oracle can't
    diverge on rounding) — the commit tombstones exactly that partition's
    files and appends the replacement, other partitions untouched,
    time travel below it intact (pytest).  The oracle recomputes the
    blended table relationally from the raw orders."""
    from ..sources.manifest_source import register
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("double")
            .alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"))
        write_frame(orders.repartition(3, "o_orderkey"), path,
                    "overwrite", statCols="o_orderkey",
                    partitionCols="order_year")
        backfill = (orders.filter(F.col("order_year") == DPO_YEAR)
                    .withColumn("total_price",
                                (F.col("total_price")
                                 .cast("decimal(12,2)")
                                 + F.lit(1).cast("decimal(12,2)"))
                                .cast("decimal(12,2)").cast("double")))
        write_frame(backfill.repartition(2, "o_orderkey"), path,
                    "append", statCols="o_orderkey",
                    partitionCols="order_year",
                    partitionOverwrite="dynamic")

    tmp = scoped_scratch("manifest_dpo_orders", sf_dir, build)
    df = read_manifest(spark, tmp)
    return (df.groupBy("order_year")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


def manifest_operation_history(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY operation labels as a registry face
    (sources/manifest_source.py:manifest_operations): a scratch table
    takes one commit of every kind — create, append, rename column,
    add/drop constraint, drop column, DV delete, compaction rewrite,
    restore — and the face returns the (version, operation) rows the
    introspection derives from the delta records alone.  The oracle is
    the literal expected sequence, so the driver hash proves the
    engine labels its own commit history correctly (the operation
    column is pure metadata — deterministic given the build).  Label
    details (rename from/to, restore target, clone source) are
    pytest-asserted in tests/test_manifest_constraints.py."""
    from ..sources.manifest_source import (
        add_table_constraint,
        compact_manifest,
        delete_vectors_from_manifest,
        drop_column_from_manifest,
        drop_table_constraint,
        manifest_operations,
        register,
        rename_column_in_manifest,
        restore_manifest,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        nat = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("k"),
            F.col("n_name").alias("name"),
            F.col("n_regionkey").cast("long").alias("r"))
        write_manifest_table(nat.coalesce(2), path, ["k"])     # v0
        write_frame(nat.limit(2).withColumn("k", F.col("k") + 100)
                    .coalesce(1), path, "append", statCols="k")  # v1
        rename_column_in_manifest(path, "name", "nation_name")  # v2
        add_table_constraint(path, {"col": "k", "notNull": True})  # v3
        drop_table_constraint(path, "k")                         # v4
        drop_column_from_manifest(path, "r")                     # v5
        delete_vectors_from_manifest(
            local_frame(spark, [(3,)], "k long"), path, ["k"],
            ["k"])                                               # v6
        compact_manifest(spark, path, ["k"], 10**9)              # v7
        restore_manifest(path, 5)                                # v8

    tmp = scoped_scratch("manifest_ops_nation", sf_dir, build)
    rows = [(o["version"], o["operation"])
            for o in manifest_operations(tmp)]
    return (local_frame(spark, rows, "version long, operation string")
            .orderBy("version"))


def runtime_filter_pruned_join(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Dynamic-file-pruning join
    (sources/manifest_source.py:read_with_runtime_filter): the dim
    side's join keys (customers of one nation) are collected — the
    same bounded driver state a broadcast join's build side already
    holds — and pushed into the manifest fact scan as an IN-list, so
    file-level range+bloom skipping and row-group pruning run BEFORE
    the join instead of after a full scan.  This is Spark's DPP /
    runtime-filter behavior, staged explicitly because Catalyst hands
    Python data sources no runtime filters.  The oracle is the plain
    join on the raw tables, so the driver hash proves the pruned path
    is semantically free; the file-count reduction and the
    key-cap fallback are pytest-asserted in
    tests/test_manifest_source.py."""
    from ..sources.manifest_source import (
        read_with_runtime_filter,
        register,
        write_manifest_table,
    )
    from .scratch import scoped_scratch

    register(spark)

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_custkey").cast("long").alias("o_custkey"),
            F.col("o_totalprice").cast("double").alias("total_price"))
        write_manifest_table(
            orders.repartitionByRange(8, "o_custkey"), path,
            ["o_custkey", "o_orderkey"])

    path = scoped_scratch("manifest_rf_orders", sf_dir, build)
    dim = (load_table(spark, sf_dir, "customer")
           .filter(F.col("c_nationkey") == 5)
           .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                   "c_mktsegment"))
    fact = read_with_runtime_filter(spark, path, "o_custkey",
                                    dim.select("c_custkey"))
    return (fact.join(F.broadcast(dim),
                      fact["o_custkey"] == dim["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.col("total_price").cast("decimal(12,2)"))
                 .cast("double").alias("sum_price")))


IOV_MAX_BINS = 8


def interval_overlap_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join WITH long-outlier routing
    (operators/intervals.py ``max_bins``): the b side mixes 14-day
    fulfillment windows (short → binned equi join) with per-priority
    VALIDITY SPANS covering the whole table history (years-long → the
    broadcast residual path; binning such a row would explode it to
    hundreds of bin rows — the validity-table norm at 100 TB, one
    unbounded row per entity).  Span rows carry negative ids so they
    can never collide with order keys.  The oracle is the plain theta
    join over the identical union, so the driver hash proves the
    short/long routing is semantically transparent; the
    residual-side-is-broadcast plan shape is asserted in
    tests/test_properties.py."""
    from ..operators.intervals import interval_overlap_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("d"))
    win_end = F.date_add(F.col("d"), IOJ_WINDOW_DAYS)
    a = (o.filter((F.col("o_orderpriority") == "1-URGENT")
                  & (F.col("d") >= IOJ_A_MONTHS[0])
                  & (F.col("d") < IOJ_A_MONTHS[1]))
         .select("o_orderkey", F.col("d").alias("s"), win_end.alias("e")))
    b_short = (o.filter((F.col("o_orderpriority") == "2-HIGH")
                        & (F.col("d") >= "1995-02-01")
                        & (F.col("d") < "1995-03-01"))
               .select("o_orderkey", F.col("d").alias("s"),
                       win_end.alias("e")))
    spans = (o.groupBy("o_orderpriority")
             .agg(F.min("d").alias("s"), F.max("d").alias("e"))
             .select((-F.substring("o_orderpriority", 1, 1).cast("long"))
                     .alias("o_orderkey"), "s", "e"))
    b = b_short.unionByName(spans)
    return interval_overlap_join(a, b, "o_orderkey", "s", "e",
                                 "o_orderkey", "s", "e",
                                 bin_days=7, max_bins=IOV_MAX_BINS)


FUZZY_MAX_DIST = 2


def fuzzy_match_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage face: a supplier feed whose nation names
    arrive corrupted (one character dropped at a key-derived position)
    is matched back to the canonical nation dimension by blocked
    Levenshtein distance (operators/linkage.py:blocked_fuzzy_match).
    The reference conforms dims by exact normalized keys
    (transform.py:31-49); this is the scale-grade extension for keys
    that exact normalization cannot repair.  Ambiguous repairs (the
    dropped digit makes another nation closer or equal) resolve by the
    pinned (distance, value) tie-break, so the output is deterministic
    — exactly what the oracle replays."""
    from ..operators.linkage import blocked_fuzzy_match

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    named = sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
    # drop ONE character at position (s_suppkey mod (len-1)) + 2 — in
    # [2, len], never the first char, so the first-character block in
    # blocked_fuzzy_match stays sound
    pos = (F.pmod(F.col("s_suppkey"), F.length("n_name") - 1) + 2).cast("int")
    dirty = named.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.concat(
            F.substr(F.col("n_name"), F.lit(1), pos - 1),
            F.substr(F.col("n_name"), pos + 1, F.length("n_name")),
        ).alias("dirty_name"))
    return blocked_fuzzy_match(dirty, nat, "dirty_name", "n_name",
                               max_dist=FUZZY_MAX_DIST)


def conform_quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter conform: parse a raw string date column with
    TRY_CAST and return the quarantined rows (parse failures) instead
    of failing the job.  The reference's "load loose, cast strict"
    contract (SURVEY.md §1.3) aborts on the first bad value; at 100 TB
    a single malformed row must not kill a 6-hour job — bad rows are
    split into a quarantine table (the badRecordsPath pattern) and the
    clean rows flow on.  Corruption is simulated deterministically:
    every 97th order key gets a LEADING junk character (leading — a
    trailing one would not corrupt at all under DuckDB's
    garbage-tolerant date parser, and the oracle must fail the same
    rows)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").cast("string")
        .alias("iso"))
    raw = o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.when(F.pmod("o_orderkey", F.lit(97)) == 0,
               F.concat(F.lit("X"), "iso"))
        .otherwise(F.col("iso")).alias("raw_date"))
    return (raw.withColumn("parsed", F.col("raw_date").try_cast("date"))
            .filter(F.col("parsed").isNull())
            .select("o_orderkey", "raw_date"))


_H_REL = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

ORACLE_SQL: dict[str, str] = {
    "interval_overlap_orders": """
        WITH a AS (
            SELECT CAST(o_orderkey AS BIGINT) AS a_id,
                   CAST(o_orderdate AS DATE) AS s,
                   CAST(o_orderdate AS DATE) + INTERVAL 14 DAY AS e
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
              AND CAST(o_orderdate AS DATE) < DATE '1995-02-01'
        ), b AS (
            SELECT CAST(o_orderkey AS BIGINT) AS b_id,
                   CAST(o_orderdate AS DATE) AS s,
                   CAST(o_orderdate AS DATE) + INTERVAL 14 DAY AS e
            FROM orders
            WHERE o_orderpriority = '2-HIGH'
              AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
              AND CAST(o_orderdate AS DATE) < DATE '1995-03-01'
        )
        SELECT a.a_id, b.b_id,
               CAST(date_diff('day',
                              greatest(a.s, b.s),
                              least(a.e, b.e)) + 1 AS BIGINT)
                   AS overlap_days
        FROM a JOIN b
          ON a.s <= b.e AND b.s <= a.e AND a.a_id <> b.b_id
    """,
    "manifest_pruned_scan": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE year(o_orderdate) >= 1997
        GROUP BY 1
    """,
    "manifest_merge_tri_clause": """
        WITH t AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   lower(trim(o_orderstatus)) AS status,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS total_price,
                   CAST(year(o_orderdate) AS INT) AS order_year
            FROM orders
        ), merged AS (
            SELECT o_orderkey, 'synced' AS status, total_price,
                   order_year
            FROM t WHERE order_year >= 1996
            UNION ALL
            SELECT * FROM t
            WHERE order_year < 1996 AND NOT (order_year < 1994)
        )
        SELECT order_year, status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(total_price) AS DOUBLE) AS sum_price
        FROM merged
        GROUP BY 1, 2
    """,
    "manifest_dynamic_partition_overwrite": """
        WITH t AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS total_price,
                   CAST(year(o_orderdate) AS INT) AS order_year
            FROM orders
        ), blended AS (
            SELECT o_orderkey,
                   CAST(CAST(total_price + CAST(1 AS DECIMAL(12,2))
                             AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
                   order_year
            FROM t WHERE order_year = 1997
            UNION ALL
            SELECT o_orderkey, CAST(total_price AS DOUBLE), order_year
            FROM t WHERE order_year <> 1997
        )
        SELECT order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(total_price AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM blended
        GROUP BY 1
    """,
    "manifest_partitioned_scan": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE year(o_orderdate) >= 1997
        GROUP BY 1
    """,
    "manifest_hidden_partition_scan": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY 1
    """,
    "manifest_partition_evolution": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        GROUP BY 1
    """,
    "manifest_merge_schema_evolution": """
        WITH ups AS (
            SELECT o_orderkey,
                   CAST(o_totalprice AS DOUBLE) + 1.0 AS total_price,
                   'adjusted' AS note
            FROM orders WHERE o_orderkey % 7 = 0
        )
        SELECT o.o_orderkey,
               CAST(COALESCE(u.total_price,
                             CAST(o.o_totalprice AS DOUBLE))
                    AS DOUBLE) AS total_price,
               COALESCE(u.note, '-') AS note
        FROM orders o LEFT JOIN ups u USING (o_orderkey)
    """,
    "manifest_update_where": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderstatus = 'F'
                         AND year(o_orderdate) <= 1997
                    THEN 'audited' ELSE o_orderstatus END AS status,
               CASE WHEN o_orderstatus = 'F'
                         AND year(o_orderdate) <= 1997
                    THEN CAST(o_totalprice AS DOUBLE) * 0.9
                    ELSE CAST(o_totalprice AS DOUBLE) END
                   AS total_price,
               CAST(year(o_orderdate) AS INT) AS order_year
        FROM orders
    """,
    "manifest_copy_into": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(o_totalprice AS DOUBLE) AS total_price,
               CAST(year(o_orderdate) AS INT) AS order_year
        FROM orders
    """,
    "manifest_check_constraint": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(o_totalprice AS DOUBLE) AS total_price
        FROM orders
    """,
    "manifest_column_defaults": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderkey % 2 = 1 THEN 'backfilled'
                    ELSE o_orderstatus END AS status,
               CAST(o_totalprice AS DOUBLE) AS total_price
        FROM orders
    """,
    "manifest_generated_column": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS total_price,
               CAST(floor(CAST(o_totalprice AS DOUBLE) / 50000)
                    AS INT) AS price_band
        FROM orders
    """,
    "manifest_metadata_count": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders WHERE o_orderkey % 13 <> 0
    """,
    "manifest_incremental_optimize": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_orderkey <= 64
        GROUP BY 1
    """,
    "manifest_string_bloom_lookup": """
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
               CAST(s_acctbal AS DOUBLE) AS acctbal
        FROM supplier
        WHERE s_name = (SELECT max(s_name) FROM supplier)
    """,
    "manifest_files_metadata": """
        SELECT strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events
        GROUP BY 1
    """,
    "manifest_widen_column": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        GROUP BY 1
    """,
    "manifest_zorder_scan": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE CAST(o_totalprice AS DOUBLE) >= 10000.0
          AND CAST(o_totalprice AS DOUBLE) < 50000.0
        GROUP BY o_orderpriority
    """,
    "xml_roundtrip_supplier": """
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
               CAST(s_nationkey AS BIGINT) AS s_nationkey
        FROM supplier
    """,
    "manifest_bloom_lookup": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders)
    """,
    "supplier_partset_simjoin": """
        WITH ps AS (
            SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
                   l_partkey AS tok
            FROM lineitem
        ), sz AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM ps GROUP BY s
        ), i AS (
            SELECT x.s AS a, y.s AS b, CAST(COUNT(*) AS BIGINT) AS inter
            FROM ps x JOIN ps y ON x.tok = y.tok AND x.s < y.s
            GROUP BY 1, 2
        )
        SELECT a, b, inter,
               round(CAST(inter AS DOUBLE)
                     / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
        FROM i
        JOIN sz na ON na.s = i.a
        JOIN sz nb ON nb.s = i.b
        WHERE round(CAST(inter AS DOUBLE)
                    / CAST(na.n + nb.n - inter AS DOUBLE), 6) >= 0.17
    """,
    "order_price_psi_drift": (lambda edges, split, s, b: f"""
        WITH base AS (
            SELECT CAST(o_totalprice AS DOUBLE) AS p,
                   year(o_orderdate) >= {split} AS cur
            FROM orders
        ),
        agg AS (
            SELECT CAST(CASE
                     {' '.join(f'WHEN p < {e} THEN {i}'
                               for i, e in enumerate(edges))}
                     ELSE {len(edges)} END AS INT) AS bucket,
                   CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_ref,
                   CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_cur
            FROM base GROUP BY 1
        )
        SELECT bucket, n_ref, n_cur,
               round((n_ref + {s}) / (SUM(n_ref) OVER () + {s} * {b}),
                     6) AS ref_share,
               round((n_cur + {s}) / (SUM(n_cur) OVER () + {s} * {b}),
                     6) AS cur_share,
               round(((n_ref + {s}) / (SUM(n_ref) OVER () + {s} * {b})
                      - (n_cur + {s}) / (SUM(n_cur) OVER () + {s} * {b}))
                     * ln(((n_ref + {s})
                           / (SUM(n_ref) OVER () + {s} * {b}))
                          / ((n_cur + {s})
                             / (SUM(n_cur) OVER () + {s} * {b}))),
                     6) AS psi_term
        FROM agg
    """)(PSI_EDGES, PSI_SPLIT_YEAR, PSI_SMOOTH, len(PSI_EDGES) + 1),
    "heavy_hitter_users": """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY user_id
        HAVING COUNT(*) >= ceil(0.0075 * (SELECT COUNT(*) FROM events))
    """,
    "cms_user_event_counts": """
        WITH h AS (
            SELECT user_id, t.d,
                   (('0x' || substr(md5('cms' || CAST(t.d AS VARCHAR)
                                        || '|' || CAST(user_id AS VARCHAR)),
                                    1, 15))::BIGINT) % 256 AS bucket
            FROM events, range(4) AS t(d)
        ), sk AS (
            SELECT d, bucket, COUNT(*) AS cnt FROM h GROUP BY d, bucket
        ), probes AS (
            SELECT DISTINCT user_id, d, bucket FROM h
        )
        SELECT p.user_id, CAST(MIN(sk.cnt) AS BIGINT) AS est_count
        FROM probes p JOIN sk USING (d, bucket)
        GROUP BY p.user_id
    """,
    "manifest_merge_upsert": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                    ELSE o_orderstatus END AS status,
               CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) + 1.0
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) END AS total_price
        FROM orders
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
               'N' AS status,
               CAST(i AS DOUBLE) + 0.5 AS total_price
        FROM range(5) AS t(i)
    """,
    "manifest_changefeed": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               'U' AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) + 1.0
                   AS total_price,
               'update' AS change_type
        FROM orders
        WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
               'N' AS status,
               CAST(i AS DOUBLE) + 0.5 AS total_price,
               'insert' AS change_type
        FROM range(5) AS t(i)
    """,
    "manifest_changefeed_incremental": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               'U' AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) + 1.0
                   AS total_price,
               'update' AS change_type
        FROM orders
        WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
               'N' AS status,
               CAST(i AS DOUBLE) + 0.5 AS total_price,
               'insert' AS change_type
        FROM range(5) AS t(i)
    """,
    "manifest_delete_rows": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_orderkey % 7 <> 0
        GROUP BY 1
    """,
    "column_profile_orders": """
        SELECT 'o_orderkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(CAST(o_orderkey AS BIGINT)) AS VARCHAR)
                   AS min_value,
               CAST(MAX(CAST(o_orderkey AS BIGINT)) AS VARCHAR)
                   AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(MIN(CAST(o_custkey AS BIGINT)) AS VARCHAR),
               CAST(MAX(CAST(o_custkey AS BIGINT)) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT),
               CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR),
               CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT),
               strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d'),
               strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
        FROM orders
    """,
    "weighted_sample_orders": f"""
        WITH scored AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total_price,
                   round(ln((('0x' || substr(md5('ws|'
                                || CAST(o_orderkey AS VARCHAR)), 1, 15)
                              )::BIGINT + 1)
                            / CAST({float(1 << 60)!r} AS DOUBLE))
                         / CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                AS DOUBLE), 6) + 0.0 AS score
            FROM orders
        )
        SELECT * FROM scored
        ORDER BY score DESC, o_orderkey ASC
        LIMIT {WEIGHTED_SAMPLE_K}
    """,
    "benford_first_digit_orders": (lambda exp: f"""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                    AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders
        ),
        agg AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM d GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM agg),
        e(digit, sh) AS (VALUES {', '.join(
            f'({dd}, CAST({exp[dd]!r} AS DOUBLE))'
            for dd in range(1, 10))})
        SELECT agg.digit, n_obs,
               round(CAST(n_obs AS DOUBLE) / n, 6) AS obs_share,
               round(sh, 6) AS exp_share,
               round((n_obs - sh * n) * (n_obs - sh * n) / (sh * n), 6)
                   AS chi_term
        FROM agg JOIN e ON e.digit = agg.digit CROSS JOIN tot
    """)(BENFORD_EXP),
    "portable_hll_users": (lambda num: f"""
        WITH base AS (
            SELECT event_type,
                   ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)),
                                   1, 15))::BIGINT AS h
            FROM events
        ),
        rho AS (
            SELECT event_type, h & 63 AS bucket,
                   CASE WHEN (h >> 6) > 0
                        THEN 55 - length(ltrim(bin(h >> 6), '0'))
                        ELSE 55 END AS r
            FROM base
        ),
        regs AS (
            SELECT event_type, bucket, MAX(r) AS m
            FROM rho GROUP BY 1, 2
        ),
        r2 AS (
            SELECT * FROM regs
            UNION ALL
            SELECT '__ALL__' AS event_type, bucket, MAX(m) AS m
            FROM regs GROUP BY 2
        ),
        filled AS (
            SELECT f.event_type, f.bucket, COALESCE(r2.m, 0) AS m
            FROM (SELECT t.event_type, b.bucket
                  FROM (SELECT DISTINCT event_type FROM r2) t,
                       range(0, 64) b(bucket)) f
            LEFT JOIN r2 ON r2.event_type = f.event_type
                        AND r2.bucket = f.bucket
        ),
        agg AS (
            SELECT event_type,
                   CAST(SUM(1::BIGINT << (55 - m)) AS BIGINT) AS s,
                   CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS v
            FROM filled GROUP BY 1
        )
        SELECT event_type,
               round(CASE WHEN {num!r} / s <= 160.0 AND v > 0
                          THEN 64.0 * ln(64.0 / v)
                          ELSE {num!r} / s END, 4) AS est_users
        FROM agg
    """)(HLL_EST_NUM),
    "txn_group_consistent_view": """
        SELECT 'status' AS kind, o_orderstatus AS k,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'priority' AS kind, o_orderpriority AS k,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM orders GROUP BY 2
    """,
    "manifest_replace_where": f"""
        WITH final AS (
            SELECT CASE WHEN year(o_orderdate) = {REPLACE_WHERE_YEAR}
                        THEN 'B' ELSE o_orderstatus END AS status,
                   CASE WHEN year(o_orderdate) = {REPLACE_WHERE_YEAR}
                        THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                  AS DOUBLE) + 1.0
                        ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                  AS DOUBLE) END AS total_price
            FROM orders
        )
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(total_price AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM final GROUP BY 1
    """,
    "manifest_drop_column": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        FROM nation
        UNION ALL
        SELECT 100, 'NEWLAND'
    """,
    "manifest_table_history": """
        SELECT CAST(0 AS INT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_live_rows,
               CAST(0 AS BIGINT) AS n_dv_rows
        FROM orders
        UNION ALL
        SELECT CAST(1 AS INT), CAST(COUNT(*) + 5 AS BIGINT),
               CAST(0 AS BIGINT)
        FROM orders
    """,
    "manifest_delete_dv": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_orderkey % 13 <> 0
        GROUP BY 1
    """,
    "manifest_restore_version": """
        SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE YEAR(o_orderdate) < 1998
        GROUP BY 1
    """,
    "manifest_shallow_clone": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        GROUP BY 1
    """,
    "manifest_rename_column": """
        SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE CAST(o_totalprice AS DOUBLE) < 100000.0
        GROUP BY 1
    """,
    "manifest_operation_history": """
        SELECT CAST(v AS BIGINT) AS version, op AS operation
        FROM (VALUES (0, 'CREATE'), (1, 'WRITE'),
                     (2, 'RENAME COLUMN'), (3, 'ADD CONSTRAINT'),
                     (4, 'DROP CONSTRAINT'), (5, 'DROP COLUMN'),
                     (6, 'DELETE (DV)'), (7, 'REWRITE'),
                     (8, 'RESTORE')) AS t(v, op)
        ORDER BY 1
    """,
    "runtime_filter_pruned_join": """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_nationkey = 5
        GROUP BY 1
    """,
    "manifest_compaction": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation
    """,
    "interval_overlap_validity": """
        WITH a AS (
            SELECT CAST(o_orderkey AS BIGINT) AS a_id,
                   CAST(o_orderdate AS DATE) AS s,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 14 DAY
                        AS DATE) AS e
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
              AND CAST(o_orderdate AS DATE) < DATE '1995-02-01'
        ), b AS (
            SELECT CAST(o_orderkey AS BIGINT) AS b_id,
                   CAST(o_orderdate AS DATE) AS s,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 14 DAY
                        AS DATE) AS e
            FROM orders
            WHERE o_orderpriority = '2-HIGH'
              AND CAST(o_orderdate AS DATE) >= DATE '1995-02-01'
              AND CAST(o_orderdate AS DATE) < DATE '1995-03-01'
            UNION ALL
            SELECT -CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS b_id,
                   min(CAST(o_orderdate AS DATE)) AS s,
                   max(CAST(o_orderdate AS DATE)) AS e
            FROM orders GROUP BY o_orderpriority
        )
        SELECT a.a_id, b.b_id,
               CAST(date_diff('day',
                              greatest(a.s, b.s),
                              least(a.e, b.e)) + 1 AS BIGINT)
                   AS overlap_days
        FROM a JOIN b
          ON a.s <= b.e AND b.s <= a.e AND a.a_id <> b.b_id
    """,
    "manifest_time_travel": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE year(o_orderdate) < 1998
        GROUP BY 1
    """,
    "manifest_schema_evolution": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(-1 AS BIGINT) AS n_regionkey
        FROM nation
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation
    """,
    "fuzzy_match_nations": """
        WITH dirty AS (
            SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
                   concat(substr(n_name, 1, pos - 1),
                          substr(n_name, pos + 1, length(n_name)))
                       AS dirty_name
            FROM (SELECT s_suppkey, n_name,
                         CAST(s_suppkey % (length(n_name) - 1) AS INT) + 2
                             AS pos
                  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        ), cand AS (SELECT DISTINCT n_name FROM nation),
        pairs AS (
            SELECT d.s_suppkey, d.dirty_name, c.n_name,
                   levenshtein(d.dirty_name, c.n_name) AS dist
            FROM dirty d
            LEFT JOIN cand c
              ON substr(d.dirty_name, 1, 1) = substr(c.n_name, 1, 1)
             AND abs(length(d.dirty_name) - length(c.n_name)) <= 2
        )
        SELECT s_suppkey, dirty_name,
               struct_extract(best, 'v') AS matched,
               CAST(struct_extract(best, 'd') AS INT) AS match_dist
        FROM (
            SELECT s_suppkey, dirty_name,
                   min(CASE WHEN dist <= 2
                            THEN {'d': dist, 'v': n_name} END) AS best
            FROM pairs GROUP BY s_suppkey, dirty_name
        )
    """,
    "conform_quarantine_orders": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderkey % 97 = 0
                    THEN concat('X', CAST(CAST(o_orderdate AS DATE)
                                          AS VARCHAR))
                    ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
               END AS raw_date
        FROM orders
        WHERE TRY_CAST(CASE WHEN o_orderkey % 97 = 0
                            THEN concat('X', CAST(CAST(o_orderdate AS DATE)
                                                  AS VARCHAR))
                            ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
                       END AS DATE) IS NULL
    """,
    "cdc_orders_latest_state": f"""
        WITH changelog AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
                   o_orderdate,
                   CASE WHEN ({_H_REL.format(
                       x="'cdc|' || CAST(o_orderkey AS VARCHAR)")}
                        % {CDC_DELETE_MOD}) = 0
                        THEN 'D' ELSE 'U' END AS op
            FROM orders
        ),
        latest AS (
            SELECT *, row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM changelog
        )
        SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
               CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(o_totalprice AS DOUBLE) AS total_price,
               o_orderdate AS order_ts
        FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    "scd2_order_status_history": f"""
        WITH obs AS (
            SELECT o_custkey, o_orderstatus AS status,
                   o_orderdate, o_orderkey
            FROM orders
        ),
        lagged AS (
            SELECT *, CASE WHEN lag(status) OVER w IS NULL
                             OR lag(status) OVER w <> status
                           THEN 1 ELSE 0 END AS chg
            FROM obs
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        ),
        versioned AS (
            SELECT *, SUM(chg) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS version
            FROM lagged
        ),
        runs AS (
            SELECT o_custkey, version, status,
                   MIN(o_orderdate) AS valid_from
            FROM versioned GROUP BY o_custkey, version, status
        ),
        final AS (
            SELECT o_custkey, status, valid_from,
                   COALESCE(LEAD(valid_from) OVER (
                                PARTITION BY o_custkey ORDER BY version),
                            TIMESTAMP '{SCD2_HIGH_DATE}') AS valid_to,
                   version
            FROM runs
        )
        SELECT CAST(o_custkey AS BIGINT) AS o_custkey, status,
               strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
               CAST(version AS BIGINT) AS version,
               (valid_to = TIMESTAMP '{SCD2_HIGH_DATE}') AS is_current
        FROM final
    """,
    "zorder_layout_orders": f"""
        WITH m AS (
            SELECT greatest(1, CAST(ceil((MAX(o_custkey) + 1)
                       / {1 << ZORDER_BITS}.0) AS BIGINT)) AS scale
            FROM orders
        ),
        base AS (
            SELECT o_orderkey AS order_id,
                   o_custkey AS customer_id,
                   CAST(date_diff('day', DATE '{ZORDER_EPOCH}',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS order_day,
                   CAST(floor(o_custkey / CAST(m.scale AS DOUBLE)) AS BIGINT)
                       & {(1 << ZORDER_BITS) - 1} AS a,
                   CAST(date_diff('day', DATE '{ZORDER_EPOCH}',
                        CAST(o_orderdate AS DATE)) AS BIGINT)
                       & {(1 << ZORDER_BITS) - 1} AS b
            FROM orders CROSS JOIN m
        )
        SELECT order_id, customer_id, order_day,
               CAST({" + ".join(
                   f"(((a >> {i}) & 1) * {1 << (2 * i)})"
                   f" + (((b >> {i}) & 1) * {1 << (2 * i + 1)})"
                   for i in range(ZORDER_BITS))} AS BIGINT) AS zkey
        FROM base
    """,
    "two_stage_distinct_users": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """,
    "csv_roundtrip_region": """
        SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        FROM region
    """,
    "jsonl_roundtrip_nation": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation
    """,
    "skew_key_report": f"""
        WITH o AS (
            SELECT 'orders.o_custkey' AS join_col,
                   CAST(o_custkey AS BIGINT) AS key,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY o_custkey
        ),
        ot AS (SELECT COUNT(*) AS total FROM orders),
        l AS (
            SELECT 'lineitem.l_orderkey' AS join_col,
                   CAST(l_orderkey AS BIGINT) AS key,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_orderkey
        ),
        lt AS (SELECT COUNT(*) AS total FROM lineitem),
        o_top AS (
            SELECT join_col, key, n_rows,
                   round(n_rows / CAST(total AS DOUBLE), 6) AS share
            FROM o CROSS JOIN ot
            ORDER BY n_rows DESC, key ASC LIMIT {SKEW_REPORT_TOPK}
        ),
        l_top AS (
            SELECT join_col, key, n_rows,
                   round(n_rows / CAST(total AS DOUBLE), 6) AS share
            FROM l CROSS JOIN lt
            ORDER BY n_rows DESC, key ASC LIMIT {SKEW_REPORT_TOPK}
        )
        SELECT * FROM o_top UNION ALL SELECT * FROM l_top
    """,
    "jdbc_roundtrip_nation": """
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation
    """,
    "partition_pruned_orders": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """,
    "orc_roundtrip_orders": """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price,
               MAX(o_orderdate) AS max_orderdate
        FROM orders GROUP BY o_orderstatus
    """,
    "quantile_sketch_rollup": f"""
        WITH h AS (
            SELECT l_returnflag AS g,
                   CAST(floor(l_extendedprice / {QSKETCH_BIN}) AS BIGINT)
                       AS bin,
                   COUNT(*) AS cnt
            FROM lineitem GROUP BY 1, 2
        ),
        allh AS (
            SELECT g, bin, cnt FROM h
            UNION ALL
            SELECT '__ALL__', bin, SUM(cnt) FROM h GROUP BY bin
        ),
        c AS (
            SELECT g, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
                   SUM(cnt) OVER (PARTITION BY g) AS n
            FROM allh
        )
        SELECT g, CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(MIN(CASE WHEN cum * 2 >= n THEN bin END)
                    * {QSKETCH_BIN} AS DOUBLE) AS p50_est,
               CAST(MIN(CASE WHEN cum * 100 >= n * 95 THEN bin END)
                    * {QSKETCH_BIN} AS DOUBLE) AS p95_est
        FROM c GROUP BY g
    """,
    "salted_join_segment_totals": """
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "bucketed_join_nation_counts": """
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
    "data_quality_report": """
        SELECT 'not_null:o_orderkey' AS check,
               CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT)
                   AS n_violations
        FROM orders
        UNION ALL
        SELECT 'not_null:l_orderkey',
               CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'accepted_values:l_returnflag',
               CAST(COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R')
                               OR l_returnflag IS NULL THEN 1 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'in_range:l_discount',
               CAST(COUNT(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                               THEN 1 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'unique:o_orderkey',
               CAST(COALESCE((SELECT COUNT(*) FROM (
                   SELECT o_orderkey FROM orders GROUP BY o_orderkey
                   HAVING COUNT(*) > 1)), 0) AS BIGINT)
        UNION ALL
        SELECT 'unique:c_custkey',
               CAST(COALESCE((SELECT COUNT(*) FROM (
                   SELECT c_custkey FROM customer GROUP BY c_custkey
                   HAVING COUNT(*) > 1)), 0) AS BIGINT)
        UNION ALL
        SELECT 'references:l_orderkey->o_orderkey',
               CAST((SELECT COUNT(*) FROM lineitem
                     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                              WHERE o_orderkey IS NOT NULL))
                    AS BIGINT)
        UNION ALL
        SELECT 'references:o_custkey->c_custkey',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                             WHERE c_custkey IS NOT NULL))
                    AS BIGINT)
        UNION ALL
        SELECT 'references:c_nationkey->n_nationkey',
               CAST((SELECT COUNT(*) FROM customer
                     WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                               WHERE n_nationkey IS NOT NULL))
                    AS BIGINT)
    """,
    "grouping_sets_flag_status": """
        SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "q6_forecast_revenue": """
        SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,4)))
                    AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 24
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority
    """,
    "correlated_max_item_price": """
        SELECT o_orderkey AS order_id,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
               COALESCE(
                   (SELECT CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2)))
                                AS DOUBLE)
                    FROM lineitem WHERE l_orderkey = o_orderkey),
                   -1.0) AS max_item_price
        FROM orders
    """,
    "string_functions_part": """
        SELECT p_partkey,
               substring(p_name, 1, 12) AS name_prefix,
               concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
               regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               translate(p_brand, '#', '_') AS brand_clean,
               CAST(length(p_name) AS BIGINT) AS name_len,
               upper(reverse(p_brand)) AS brand_rev
        FROM part
    """,
    "price_histogram": f"""
        WITH b AS (
            SELECT CAST(CASE
                     WHEN CAST(o_totalprice AS DOUBLE) < {HIST_LO} THEN 0
                     WHEN CAST(o_totalprice AS DOUBLE) >= {HIST_HI}
                         THEN {HIST_BUCKETS + 1}
                     ELSE floor((CAST(o_totalprice AS DOUBLE) - {HIST_LO})
                          / {(HIST_HI - HIST_LO) / HIST_BUCKETS}) + 1
                   END AS BIGINT) AS bucket,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS p
            FROM orders
        )
        SELECT bucket,
               CAST(round({HIST_LO} + (bucket - 1)
                    * {(HIST_HI - HIST_LO) / HIST_BUCKETS}, 2) AS DOUBLE)
                   AS bucket_lo,
               CAST(round({HIST_LO} + bucket
                    * {(HIST_HI - HIST_LO) / HIST_BUCKETS}, 2) AS DOUBLE)
                   AS bucket_hi,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(p) AS DOUBLE) AS total_price
        FROM b GROUP BY bucket
    """,
    "stats_moments": """
        WITH g AS (
            SELECT l_returnflag,
                   CAST(round(stddev_samp(CAST(l_extendedprice AS DOUBLE)), 4)
                        AS DOUBLE) AS price_stddev,
                   CAST(round(var_samp(CAST(l_extendedprice AS DOUBLE)), 4)
                        AS DOUBLE) AS price_var,
                   CAST(round(corr(CAST(l_quantity AS DOUBLE),
                                   CAST(l_extendedprice AS DOUBLE)), 4)
                        AS DOUBLE) AS qty_price_corr,
                   CAST(round(covar_samp(CAST(l_quantity AS DOUBLE),
                                         CAST(l_extendedprice AS DOUBLE)), 4)
                        AS DOUBLE) AS qty_price_covar,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(CAST(l_extendedprice AS DOUBLE)) AS s1,
                   SUM(CAST(l_extendedprice AS DOUBLE)
                       * CAST(l_extendedprice AS DOUBLE)) AS s2,
                   SUM(CAST(l_extendedprice AS DOUBLE)
                       * CAST(l_extendedprice AS DOUBLE)
                       * CAST(l_extendedprice AS DOUBLE)) AS s3,
                   SUM(CAST(l_extendedprice AS DOUBLE)
                       * CAST(l_extendedprice AS DOUBLE)
                       * CAST(l_extendedprice AS DOUBLE)
                       * CAST(l_extendedprice AS DOUBLE)) AS s4
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, price_stddev, price_var,
               CAST(round((s3/n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n))
                    / pow(s2/n - (s1/n)*(s1/n), 1.5), 4) AS DOUBLE)
                   AS price_skew,
               CAST(round((s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n
                           - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                    / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0,
                    4) AS DOUBLE) AS price_kurt,
               qty_price_corr, qty_price_covar,
               CAST(n AS BIGINT) AS n_rows
        FROM g
    """,
    "percentile_prices": """
        SELECT l_returnflag,
               CAST(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4)
                    AS DOUBLE) AS median_price,
               CAST(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4)
                    AS DOUBLE) AS p90_price,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "unpivot_lineitem_measures": """
        WITH long AS (
            SELECT 'quantity' AS measure,
                   CAST(l_quantity AS DECIMAL(12,2)) AS value FROM lineitem
            UNION ALL SELECT 'extendedprice',
                   CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem
            UNION ALL SELECT 'discount',
                   CAST(l_discount AS DECIMAL(12,2)) FROM lineitem
            UNION ALL SELECT 'tax',
                   CAST(l_tax AS DECIMAL(12,2)) FROM lineitem
        )
        SELECT measure,
               CAST(SUM(value) AS DOUBLE) AS sum_value,
               CAST(MIN(value) AS DOUBLE) AS min_value,
               CAST(MAX(value) AS DOUBLE) AS max_value,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM long GROUP BY measure
    """,
    "argmax_customer_by_nation": """
        WITH ranked AS (
            SELECT c_nationkey, c_custkey,
                   CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC,
                                c_custkey DESC) AS rmax,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) ASC,
                                c_custkey ASC) AS rmin
            FROM customer
        )
        SELECT c_nationkey,
               MAX(CASE WHEN rmax = 1 THEN c_custkey END) AS richest_custkey,
               MAX(CASE WHEN rmin = 1 THEN c_custkey END) AS poorest_custkey,
               CAST(MAX(bal) AS DOUBLE) AS max_bal,
               CAST(MIN(bal) AS DOUBLE) AS min_bal
        FROM ranked GROUP BY c_nationkey
    """,
    "semi_join_customers": """
        SELECT c_custkey, c_name, c_nationkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "anti_join_customers": """
        SELECT c_custkey, c_name, c_nationkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "window_topn_per_group": """
        SELECT * FROM (
            SELECT c_custkey, c_nationkey,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                   CAST(RANK() OVER w AS BIGINT) AS rnk,
                   CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey
                         ORDER BY c_acctbal DESC, c_custkey ASC)
        ) WHERE rn <= 3
    """,
    "window_running_totals": """
        SELECT o_orderkey AS order_id,
               o_custkey AS customer_id,
               o_orderdate AS order_date,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS order_price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_total,
               COALESCE(CAST(LAG(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w
                             AS DOUBLE), -1.0) AS prev_price,
               COALESCE(CAST(LEAD(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w
                             AS DOUBLE), -1.0) AS next_price,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    "window_value_functions": """
        SELECT o_orderkey AS order_id,
               o_custkey AS customer_id,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS order_price,
               CAST(FIRST_VALUE(CAST(o_totalprice AS DECIMAL(12,2))) OVER wr
                    AS DOUBLE) AS first_price,
               CAST(LAST_VALUE(CAST(o_totalprice AS DECIMAL(12,2))) OVER wr
                    AS DOUBLE) AS latest_price,
               COALESCE(CAST(NTH_VALUE(CAST(o_totalprice AS DECIMAL(12,2)), 2)
                             OVER wr AS DOUBLE), -1.0) AS second_price,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC),
               wr AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "rollup_nation_segment": """
        SELECT CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS c_nationkey,
               COALESCE(c_mktsegment, 'ALL') AS c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal,
               CAST(GROUPING(c_nationkey) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid
        FROM customer
        GROUP BY ROLLUP (c_nationkey, c_mktsegment)
    """,
    "cube_flag_status": """
        SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "set_ops_nations": """
        SELECT nation_key, 'intersect' AS set_op FROM (
            SELECT DISTINCT c_nationkey AS nation_key FROM customer
            INTERSECT
            SELECT DISTINCT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT nation_key, 'except' AS set_op FROM (
            SELECT DISTINCT c_nationkey AS nation_key FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey FROM supplier
        )
    """,
    "distinct_counts": """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "json_event_props": """
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS max_k,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """,
    "json_map_entries": """
        SELECT k AS key,
               CAST(COUNT(*) AS BIGINT) AS n_entries,
               CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS INT)) AS BIGINT)
                   AS sum_value,
               CAST(MIN(CAST(json_extract_string(props, '$.' || k) AS INT)) AS BIGINT)
                   AS min_value,
               CAST(MAX(CAST(json_extract_string(props, '$.' || k) AS INT)) AS BIGINT)
                   AS max_value
        FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
        GROUP BY k
    """,
    "range_join_value_tiers": """
        WITH tiers(tier, lo, hi) AS (
            VALUES ('t0', 0.0, 100.0), ('t1', 100.0, 200.0), ('t2', 200.0, 300.0),
                   ('t3', 300.0, 400.0), ('t4', 400.0, 1000.0)
        )
        SELECT tier,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events JOIN tiers ON value >= lo AND value < hi
        GROUP BY tier
    """,
    "pivot_segment_by_region": """
        SELECT r_name AS region_name,
               CAST(COUNT(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS "AUTOMOBILE",
               CAST(COUNT(*) FILTER (c_mktsegment = 'BUILDING') AS BIGINT) AS "BUILDING",
               CAST(COUNT(*) FILTER (c_mktsegment = 'FURNITURE') AS BIGINT) AS "FURNITURE",
               CAST(COUNT(*) FILTER (c_mktsegment = 'HOUSEHOLD') AS BIGINT) AS "HOUSEHOLD",
               CAST(COUNT(*) FILTER (c_mktsegment = 'MACHINERY') AS BIGINT) AS "MACHINERY"
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "global_topk_orders": """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
               o_orderdate
        FROM orders
        ORDER BY total_price DESC, o_orderkey ASC
        LIMIT 25
    """,
}

QUERIES = {
    "cdc_orders_latest_state": cdc_orders_latest_state,
    "scd2_order_status_history": scd2_order_status_history,
    "salted_join_segment_totals": salted_join_segment_totals,
    "two_stage_distinct_users": two_stage_distinct_users,
    # dict order = within-round driver-window order for never-checked
    # queries (registry._prioritize): the JDBC face leads — it closes
    # the rounds-1/2 "S2/S3 untestable" gap, the highest-value row if
    # a budget-capped pass cuts off mid-block
    "jdbc_roundtrip_nation": jdbc_roundtrip_nation,
    "quantile_sketch_rollup": quantile_sketch_rollup,
    "skew_key_report": skew_key_report,
    "partition_pruned_orders": partition_pruned_orders,
    "csv_roundtrip_region": csv_roundtrip_region,
    "jsonl_roundtrip_nation": jsonl_roundtrip_nation,
    "orc_roundtrip_orders": orc_roundtrip_orders,
    "xml_roundtrip_supplier": xml_roundtrip_supplier,
    # added late in round 3 — behind the block above so the JDBC /
    # sketch / layout faces keep their driver-window precedence
    "fuzzy_match_nations": fuzzy_match_nations,
    "conform_quarantine_orders": conform_quarantine_orders,
    "manifest_pruned_scan": manifest_pruned_scan,
    "manifest_zorder_scan": manifest_zorder_scan,
    "manifest_widen_column": manifest_widen_column,
    "manifest_merge_tri_clause": manifest_merge_tri_clause,
    "manifest_partitioned_scan": manifest_partitioned_scan,
    "manifest_hidden_partition_scan": manifest_hidden_partition_scan,
    "manifest_partition_evolution": manifest_partition_evolution,
    "manifest_merge_schema_evolution": manifest_merge_schema_evolution,
    "manifest_update_where": manifest_update_where,
    "manifest_copy_into": manifest_copy_into,
    "manifest_check_constraint": manifest_check_constraint,
    "manifest_column_defaults": manifest_column_defaults,
    "manifest_generated_column": manifest_generated_column,
    "manifest_metadata_count": manifest_metadata_count,
    "manifest_incremental_optimize": manifest_incremental_optimize,
    "manifest_files_metadata": manifest_files_metadata,
    "manifest_string_bloom_lookup": manifest_string_bloom_lookup,
    "manifest_dynamic_partition_overwrite": manifest_dynamic_partition_overwrite,
    "manifest_time_travel": manifest_time_travel,
    "interval_overlap_validity": interval_overlap_validity,
    "manifest_merge_upsert": manifest_merge_upsert,
    "manifest_delete_rows": manifest_delete_rows,
    "manifest_delete_dv": manifest_delete_dv,
    "manifest_table_history": manifest_table_history,
    "manifest_replace_where": manifest_replace_where,
    "manifest_drop_column": manifest_drop_column,
    "txn_group_consistent_view": txn_group_consistent_view,
    "manifest_compaction": manifest_compaction,
    "manifest_restore_version": manifest_restore_version,
    "manifest_shallow_clone": manifest_shallow_clone,
    "manifest_rename_column": manifest_rename_column,
    "manifest_operation_history": manifest_operation_history,
    "runtime_filter_pruned_join": runtime_filter_pruned_join,
    "cms_user_event_counts": cms_user_event_counts,
    "heavy_hitter_users": heavy_hitter_users,
    "order_price_psi_drift": order_price_psi_drift,
    "supplier_partset_simjoin": supplier_partset_simjoin,
    "manifest_changefeed": manifest_changefeed,
    "manifest_changefeed_incremental": manifest_changefeed_incremental,
    "manifest_bloom_lookup": manifest_bloom_lookup,
    "manifest_schema_evolution": manifest_schema_evolution,
    "interval_overlap_orders": interval_overlap_orders,
    "hll_rollup_users": hll_rollup_users,
    "portable_hll_users": portable_hll_users,
    "benford_first_digit_orders": benford_first_digit_orders,
    "weighted_sample_orders": weighted_sample_orders,
    "column_profile_orders": column_profile_orders,
    "zorder_layout_orders": zorder_layout_orders,
    "bucketed_join_nation_counts": bucketed_join_nation_counts,
    "data_quality_report": data_quality_report,
    "grouping_sets_flag_status": grouping_sets_flag_status,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q4_order_priority": q4_order_priority,
    "correlated_max_item_price": correlated_max_item_price,
    "string_functions_part": string_functions_part,
    "percentile_prices": percentile_prices,
    "stats_moments": stats_moments,
    "price_histogram": price_histogram,
    "unpivot_lineitem_measures": unpivot_lineitem_measures,
    "argmax_customer_by_nation": argmax_customer_by_nation,
    "semi_join_customers": semi_join_customers,
    "anti_join_customers": anti_join_customers,
    "window_topn_per_group": window_topn_per_group,
    "window_running_totals": window_running_totals,
    "window_value_functions": window_value_functions,
    "rollup_nation_segment": rollup_nation_segment,
    "cube_flag_status": cube_flag_status,
    "set_ops_nations": set_ops_nations,
    "distinct_counts": distinct_counts,
    "approx_distinct_counts": approx_distinct_counts,
    "json_event_props": json_event_props,
    "json_map_entries": json_map_entries,
    "range_join_value_tiers": range_join_value_tiers,
    "pivot_segment_by_region": pivot_segment_by_region,
    "global_topk_orders": global_topk_orders,
}
