"""Query registry — one entry per implemented operator (SURVEY.md §2).

Each query is a callable ``(spark, sf_dir) -> DataFrame``; the matching
ANSI-SQL oracle lives in :mod:`ideafast_etl_spark.oracles`. Column names are
aliased identically on both sides (the driver's compare sorts columns by name
and hashes values).

Float discipline for the differential oracle: money aggregates are computed in
DECIMAL (exact in both engines) and cast to DOUBLE only at the end; ratios are
integer-derived double divisions (bit-identical across engines); similarity
scores use fixed left-to-right summation and are rounded to 6 decimals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .functions import text as T
from .functions.scalar import record_hash
from .operators import dedup, similarity
from .operators.grouping import assign_group_id
from .operators.joins import dedup_against_state, interval_containment_join

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, QueryFn] = {}


def register(name: str) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = fn
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    return dict(_REGISTRY)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, name, sf_dir)


_DEC = "decimal(12,2)"


# ---------------------------------------------------------------------------
# TPC-H-style relational core (scan/filter/project/join/agg/sort/limit)
# ---------------------------------------------------------------------------


@register("tpch_q1_pricing_summary")
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregation with decimal-exact money sums.
    Exercises scan + filter pushdown + partial aggregation (G5/§2.7)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    tax = F.col("l_tax").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("revenue_by_nation")
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shape star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    (J2/J3 generalisation). Broadcast policy: only genuinely BOUNDED dims
    (nation=25, region=5 rows at every SF) are forced; customer is SF-scaled
    (150k×SF rows — several GB at the 100 TB target), so AQE +
    autoBroadcastJoinThreshold picks its strategy per actual size. The single
    big-big join (lineitem⋈orders) shuffles on the uniform orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(price * (one - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register("top_customers_by_revenue")
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (§2.8 upgrade — the reference has limits but no top-k):
    3 highest-revenue customers per nation via window + row_number."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "c_custkey", "c_name", "revenue", "rank")
    )


@register("customers_without_orders")
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS / anti-join cohort: customers with no orders at all,
    counted per market segment (J1's anti-join shape on the relational side)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders.select("o_custkey").distinct(),
                  F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.min("c_custkey").alias("min_custkey"))
    )


@register("parts_by_brand")
def parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension aggregation with HAVING-style post-filter."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand", "p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.avg(F.col("p_size").cast("double")).alias("avg_size"),
            F.sum(F.col("p_retailprice").cast(_DEC)).cast("double").alias("total_retail"),
        )
        .filter(F.col("n_parts") >= 2)
    )


@register("supplier_balance_by_nation")
def supplier_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier ⋈ nation ⋈ region rollup of account balances with a
    negative-balance share."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast(_DEC)).cast("double").alias("total_bal"),
            F.sum((F.col("s_acctbal") < 0).cast("long")).alias("n_negative"),
        )
    )


@register("part_revenue_join")
def part_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ medium-dim joins: revenue and quantity per part brand
    (lineitem⋈part⋈supplier). part/supplier are SF-scaled → no forced
    broadcast; AQE decides (broadcast at small SF, shuffle join at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(price * (one - disc)).cast("double").alias("revenue"),
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("total_qty"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


@register("moving_avg_daily_revenue")
def moving_avg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame aggregation: 7-day moving average over daily order totals
    (rank/lag family coverage beyond sessionization)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("day_total_dec")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    # frame aggregation stays DECIMAL (exact under any summation order /
    # segment-tree evaluation) and converts to double only at the end
    return daily.select(
        "day",
        F.col("day_total_dec").cast("double").alias("day_total"),
        (
            F.sum("day_total_dec").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7"),
        F.row_number().over(Window.orderBy("day")).alias("day_rank"),
    )


@register("rolling_range_revenue")
def rolling_range_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the ROWS frame of moving_avg_daily_revenue):
    per day, total revenue over the trailing 7 calendar DAYS — gaps in the
    date sequence shrink the frame, which is exactly what distinguishes
    RANGE from ROWS. Frame bounds on unix-day longs (interval-range frames
    expressed portably); sums stay DECIMAL inside the frame."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("day_total_dec")
    )
    day_num = (F.unix_timestamp("day") / 86400).cast("long")
    w = (
        Window.orderBy("day_num").rangeBetween(-6, 0)
    )
    return (
        daily.withColumn("day_num", day_num)
        .select(
            "day",
            F.sum("day_total_dec").over(w).cast("double").alias("rev_7d"),
            F.count(F.lit(1)).over(w).alias("n_days_present"),
        )
        .drop("day_num")
    )


@register("date_dimension_scalars")
def date_dimension_scalars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-intelligence scalar surface (§2.10 breadth) over distinct order
    dates: year/quarter/month/day, ISO week, day-of-week (normalised to
    ISO 1=Mon..7=Sun — Spark's dayofweek is 1=Sun, DuckDB's isodow is
    1=Mon; both map onto the ISO convention), month boundaries, and
    add_months arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    days = orders.select(F.col("o_orderdate").alias("day")).distinct()
    d = F.col("day")
    return (
        days.select(
            "day",
            F.year(d).alias("yr"),
            F.quarter(d).alias("qtr"),
            F.month(d).alias("mo"),
            F.dayofmonth(d).alias("dom"),
            F.weekofyear(d).alias("iso_week"),
            # Spark: dayofweek 1=Sun..7=Sat → ISO 1=Mon..7=Sun
            ((F.dayofweek(d) + 5) % 7 + 1).alias("iso_dow"),
            F.last_day(d).cast("timestamp").alias("month_end"),
            F.date_trunc("month", d).alias("month_start"),
            F.add_months(d, 2).cast("timestamp").alias("plus_2mo"),
            F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).alias(
                "days_to_eoy"
            ),
        )
    )


@register("order_priority_counts")
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS semi-join — orders with at least one late lineitem."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register("tpch_q6_forecast_revenue")
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: tight filter + single aggregate — the pushdown showcase
    (predicates reach the parquet scan; verified via explain PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(price * disc).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


@register("tpch_q3_shipping_priority")
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: join + agg + deterministic top-10 (order by revenue desc with
    full tie-break, then limit — §2.8 upgrade over the reference's unordered
    limits)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register("tpch_q10_returned_items")
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returns per customer, deterministic top-20."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register("tpch_q14_promo_share")
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional aggregation ratio (promo revenue share) with
    decimal-exact numerator/denominator and a final double division."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    rev = price * (one - disc)
    zero = F.lit(0).cast("decimal(25,4)")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey")).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    return joined.agg(
        (
            F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(zero)).cast("double")
            / F.sum(rev).cast("double")
            * 100.0
        ).alias("promo_share_pct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register("tpch_q4_order_priority")
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: correlated EXISTS → left-semi join. Priority counts for a
    one-quarter order window where some line item was returned (the testdata
    lacks l_commitdate/l_receiptdate, so l_returnflag='R' stands in for the
    late-delivery predicate — same semi-join plan). The semi-join shuffles
    on the uniform orderkey; the date filter pushes to the orders scan."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        window.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register("tpch_q5_local_supplier_volume")
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-way star join with the extra CUSTOMER-NATION = SUPPLIER-
    NATION equality (the join that makes Q5 Q5). Bounded dims broadcast;
    customer/supplier strategies are AQE's call; the lineitem⋈orders
    big-big join shuffles on orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


@register("tpch_q7_nation_volume")
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two aliased joins of the same bounded dim (supplier nation
    vs customer nation), a symmetric two-nation predicate, and a year
    roll-up. The nation dims broadcast twice; everything else is the Q5
    pipeline."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    a, b = "NATION_7", "NATION_11"
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


@register("tpch_q8_market_share")
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: share-of-total ratio per group — one nation's slice of a
    region's part-type revenue per order year. Conditional decimal sums,
    double division last (exact cross-engine)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    rev = price * (one - disc)
    zero = F.lit(0).cast("decimal(25,4)")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nkey"))
        .filter((F.col("r_name") == "EUROPE") & (F.col("p_type") == "PROMO"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register("tpch_q12_priority_by_flag")
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: big-big join + CASE-conditional counts (high- vs
    low-priority line share per class; l_returnflag stands in for the absent
    l_shipmode). One shuffle on orderkey, map-side partial CASE sums."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register("tpch_q18_large_orders")
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: IN over a grouped-HAVING subquery (large-volume orders).
    The HAVING aggregate runs once over lineitem (single shuffle on
    orderkey); its qualifying keys semi-join orders, and AQE picks the dim
    strategy for the customer join (SF-scaled → no forced broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast(_DEC)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sum_qty"))
        .filter(F.col("sum_qty") > F.lit(250).cast(_DEC))
    )
    return (
        orders.join(
            big.select("l_orderkey", "sum_qty"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


@register("tpch_q22_dormant_customers")
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar AVG subquery + NOT EXISTS anti-join. Above-average-
    balance customers with no urgent orders, counted per nation (the
    testdata lacks c_phone, so c_nationkey stands in for cntrycode; 'no
    urgent orders' replaces 'no orders' — every sf0.01 customer has some).
    The 1-row average broadcasts; the anti-join shuffles on custkey.
    Float discipline: the average is computed as exact DECIMAL sum / count,
    divided in double — bit-identical across engines."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast(_DEC)
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


@register("tpch_q13_customer_distribution")
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: left outer join + double aggregation (orders-per-customer
    histogram). COUNT(o_orderkey) over the outer join counts NULLs as 0 —
    the left join is what makes Q13 Q13 (customers with no orders appear in
    the c_count=0 bucket). One shuffle on custkey for the join+first agg,
    one tiny shuffle on c_count for the histogram. (No o_comment column in
    testdata, so the NOT LIKE filter is omitted.)"""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders.select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register("tpch_q15_top_supplier")
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: scalar-subquery MAX over an aggregated view (the top
    supplier by quarterly revenue). Revenue is aggregated once (shuffle on
    suppkey); the 1-row MAX broadcasts back over the same aggregate — no
    second scan of lineitem. Equality is tested in exact DECIMAL (cross-
    engine float == would be fragile); the cast to double happens last."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(price * (one - disc)).alias("total_rev_dec"))
    )
    max_rev = rev.agg(F.max("total_rev_dec").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_rev_dec") == F.col("max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
    )


@register("tpch_q17_small_quantity_revenue")
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated per-part average (lines below 20% of their
    part's mean quantity). The correlated subquery becomes a window over
    l_partkey — one shuffle+sort serves both the per-part sum and count;
    no second lineitem scan or self-join. The 0.2×avg predicate is
    rewritten multiplicatively (5·qty·cnt < sum) so it stays exact on
    integral-valued double quantities — no cross-engine division drift."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    brand = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    # brand slice is ~1/25 of part — SF-scaled, so no forced broadcast: AQE
    # broadcasts it at small SF from the observed post-filter size and falls
    # back to a shuffle join when the slice outgrows the threshold at scale
    j = li.join(brand, F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    j = j.withColumn("sum_qty", F.sum("l_quantity").over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(w)
    )
    return j.filter(
        F.lit(5.0) * F.col("l_quantity") * F.col("cnt") < F.col("sum_qty")
    ).agg(
        (
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register("tpch_q19_disjunctive_join")
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: equi-join with a disjunctive residual predicate (three
    brand/size/quantity bands OR-ed together). Catalyst extracts the common
    p_partkey = l_partkey conjunct so this stays a hash join with a
    residual filter — NOT a nested-loop over the cross product (the plan
    audit asserts this). Bands use Brand#12/23/24 (testdata brands run
    1–25; no p_container column, so the container IN-lists are omitted)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & size.between(1, 15)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & size.between(1, 25)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & size.between(1, 35)
            & qty.between(20, 30)
        )
    )
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return li.join(
        part, (F.col("l_partkey") == F.col("p_partkey")) & band
    ).agg(
        F.sum(price * (one - disc)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register("tpch_q21_waiting_suppliers")
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: EXISTS + NOT EXISTS correlated self-joins on the fact
    table — the hardest TPC-H join topology. A supplier 'kept the order
    waiting' when its line is the ONLY returned ('R') line on a finished
    multi-supplier order (testdata lacks l_receiptdate/l_commitdate, so
    l_returnflag='R' stands in for the late-delivery predicate; the
    semi/anti self-join structure — the point of Q21 — is unchanged).
    Both EXISTS become one left-semi and one left-anti hash join on
    orderkey with a suppkey<>suppkey residual; no nested loop. Ties at the
    LIMIT boundary break on unique s_name, keeping the cut deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"),
        F.col("l_suppkey").alias("sk2"),
        F.col("l_returnflag").alias("rf2"),
    )
    return (
        l1.join(finished, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            others,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            others.filter(F.col("rf2") == "R").select("ok2", "sk2"),
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_anti",
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(50)
    )


@register("tpch_q9_product_type_profit")
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-type profit per nation per year — the widest
    TPC-H join topology (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders)
    with a computed profit measure. The testdata has no partsupp, so the
    supply cost is modeled as 60% of p_retailprice per unit; the join
    graph and the decimal-exact profit expression are the point and are
    unchanged. part filters BEFORE the join (name predicate pushed to the
    scan), nation broadcasts, the fact shuffles once per equi-join key and
    AQE reorders the rest. Money never leaves DECIMAL until the end."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    one = F.lit(1).cast(_DEC)
    cost_rate = F.lit("0.60").cast("decimal(3,2)")
    profit = (
        F.col("l_extendedprice").cast(_DEC)
        * (one - F.col("l_discount").cast(_DEC))
        - cost_rate
        * F.col("p_retailprice").cast(_DEC)
        * F.col("l_quantity").cast(_DEC)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register("tpch_q16_supplier_part_counts")
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: COUNT(DISTINCT supplier) per (brand, type, size) with a
    NOT-IN supplier exclusion. lineitem stands in for partsupp as the
    part↔supplier link (no partsupp table) and the negative-balance
    suppliers stand in for the complaints NOT IN (no s_comment column) —
    the distinct-agg-over-anti-join structure is unchanged. The link
    relation collapses to distinct (partkey, suppkey) pairs FIRST (one
    shuffle that also serves the distinct agg); the handful of excluded
    suppliers anti-join broadcast-side."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 11, 15, 21, 25, 31, 35)
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    links = li.select("l_partkey", "l_suppkey").distinct()
    return (
        links.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register("tpch_q20_excess_inventory_suppliers")
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN chain compiled to semi-joins — suppliers in one
    nation holding 'excess inventory' of small-named parts. No partsupp
    availqty exists, so the excess predicate is re-expressed on shipment
    history: a (supplier, part) pair qualifies when its 1995 shipped
    quantity exceeds half its all-time shipped quantity (front-loaded
    supply). The comparison is 2·q95 > q_total in exact DECIMAL — no 0.5
    float. One shuffle on (suppkey, partkey) computes both sums
    (conditional agg, single pass); qualifying suppliers semi-join the
    supplier dim; nation filters broadcast-side."""
    li = _t(spark, sf_dir, "lineitem")
    part_keys = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    qty = F.col("l_quantity").cast(_DEC)
    in_95 = (F.col("l_shipdate") >= "1995-01-01") & (
        F.col("l_shipdate") < "1996-01-01"
    )
    per_pair = (
        li.join(
            F.broadcast(part_keys), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_95, qty).otherwise(F.lit(0).cast(_DEC))).alias(
                "qty_95"
            ),
            F.sum(qty).alias("qty_total"),
        )
        .filter(
            F.col("qty_95") * F.lit(2).cast(_DEC) > F.col("qty_total")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(
            per_pair, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


@register("doc_char_chunks")
def doc_char_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (§2.13 training-data ops): fixed
    200-char windows at stride 150 (25% overlap) — the retrieval/context
    preprocessing shape. Pure JVM: sequence() + explode generates chunk
    starts; substring slices. 1:N explode, no Python, no shuffle; the
    oracle is DuckDB generate_series + the same substring arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    size, stride = 200, 150
    nonempty = docs.filter(F.length("text") > 0)
    return (
        nonempty.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.length("text") - 1, F.lit(stride)
                )
            ).alias("chunk_start"),
            "text",
        )
        .select(
            "doc_id",
            (F.col("chunk_start") / stride).cast("long").alias("chunk_idx"),
            F.substring(
                F.col("text"), F.col("chunk_start") + 1, size
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


@register("pii_scrub")
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (§2.13): emails and phone-shaped tokens are counted
    and replaced with typed placeholders — the scrub every training corpus
    runs. Synthetic PII is appended deterministically per doc (the corpus
    has none) so the redaction path actually fires; regexes stay in the
    Java∩RE2 common subset so Spark and DuckDB agree byte-for-byte."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "\\+[0-9]{2} [0-9]{3} [0-9]{4}"
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +12 345 6789"),
        ).alias("text"),
    )
    return seeded.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(email_re)).cast("long").alias(
            "n_emails"
        ),
        F.regexp_count(F.col("text"), F.lit(phone_re)).cast("long").alias(
            "n_phones"
        ),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ).alias("clean_text"),
    )


@register("scd2_customer_segments")
def scd2_customer_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge (§2.13): bootstrap customer history, then apply
    one update batch — every c_custkey%7==0 moves to a synthetic segment,
    and %50==0 keys arrive shifted (+1M) as brand-new members. Changed keys
    close their old version at the effective date and open a new one; the
    oracle enumerates the three row classes (surviving open / closed /
    new open) set-theoretically. One full-outer join on the key — no
    windows, no iteration."""
    from .operators.scd2 import scd2_apply, scd2_init

    cust = _t(spark, sf_dir, "customer")
    dim = scd2_init(
        cust, ["c_custkey"], ["c_mktsegment"], eff_date="1990-01-01"
    )
    updates = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string")).alias(
                "c_mktsegment"
            ),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.lit("SEG_NEW").alias("c_mktsegment"),
            )
        )
    )
    return scd2_apply(
        dim, updates, ["c_custkey"], ["c_mktsegment"], eff_date="1995-06-01"
    )


@register("shipment_concurrency_by_month")
def shipment_concurrency_by_month_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: peak number of simultaneously in-transit
    lineitems per month — every shipment contributes +1 at l_shipdate and
    −1 at its delivery date (shipdate + a deterministic 1-30 day transit,
    derived from the keys since this schema carries no receiptdate;
    half-open semantics). Sweep-line discipline for 100 TB: concurrency
    only CHANGES at distinct timestamps, so the 2n boundary rows first
    collapse to one NET delta per timestamp (a map-side-combinable keyed
    aggregate — the post-instant prefix equals the instantaneous max,
    since within an instant the −1s apply before the +1s and every
    intermediate state is ≤ the final one); only the bounded
    distinct-timestamp relation then rides the DISTRIBUTED
    ``global_prefix_sum`` (range partition + local cumsum + broadcast
    partition offsets — no single-partition window). The r7 scale sweep
    caught the unaggregated form at 17.4× for 10× more data; this form
    is flat. The max-concurrency question every capacity/monitoring
    pipeline asks (concurrent sessions, open connections, active
    devices); integer-exact under any layout."""
    from .operators.ranking import global_prefix_sum

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    transit = (
        F.lit(1) + (F.col("l_orderkey") + F.col("l_linenumber")) % 30
    ).cast("int")
    b = li.select(
        F.col("l_shipdate").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        li.select(
            F.date_add(F.col("l_shipdate"), transit).alias("ts"),
            F.lit(-1).alias("delta"),
        )
    )
    net = b.groupBy("ts").agg(F.sum("delta").alias("net"))
    p = global_prefix_sum(
        net, [F.col("ts").asc()], "net", out_col="in_transit"
    )
    month = (F.year("ts") * 100 + F.month("ts")).cast("int")
    return p.groupBy(month.alias("month")).agg(
        F.max("in_transit").alias("peak_in_transit")
    )


@register("scd2_point_in_time_join")
def scd2_point_in_time_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join against the SCD2 history —
    THE query SCD2 exists to answer: each order joins the customer-segment
    VERSION valid at its order date (equi-join on the key + half-open
    [valid_from, valid_to) residual — the J4 interval shape, never a
    nested loop), so orders before the 1995-06-01 segment migration
    aggregate under the OLD segment and later ones under the new. Compact
    verification output: per as-of segment order counts + decimal-exact
    revenue. The reference's UCAM patient lookup (J2) is the degenerate
    current-version-only case of this join."""
    dim = scd2_customer_segments_q(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("timestamp")
    j = orders.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (od >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (od < F.col("valid_to"))),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
    )


@register("unpivot_nation_metrics")
def unpivot_nation_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (§2.7 — the inverse of `pivot_priority_by_status`):
    wide per-nation metrics → long (nation, metric, value) via
    ``DataFrame.unpivot`` (SQL UNPIVOT / stack()). One aggregate then a
    zero-shuffle Expand — the oracle is the equivalent UNION ALL."""
    cust = _t(spark, sf_dir, "customer")
    wide = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_cust"),
        F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("total_bal"),
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["n_cust", "total_bal"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register("data_quality_report")
def data_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation sweep (§2.13 pipeline ops): row counts, key
    uniqueness, null rates, and referential integrity as one long-format
    report — the checks a training-data pipeline runs before trusting a
    drop. Each check is a scan-local aggregate; the FK orphan checks are
    anti-joins (LeftAnti, shuffle on the key). All integer-exact."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    docs = _t(spark, sf_dir, "documents")

    def one(table: str, metric: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(table).alias("table_name"),
            F.lit(metric).alias("metric"),
            F.count(F.lit(1)).cast("long").alias("value"),
        )

    dup_orderkeys = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    orphan_orders = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    )
    orphan_lines = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"
    )
    empty_docs = docs.filter(F.length(F.trim(F.col("text"))) == 0)
    return (
        one("orders", "row_count", orders)
        .unionByName(one("orders", "dup_pk", dup_orderkeys))
        .unionByName(one("orders", "orphan_custkey", orphan_orders))
        .unionByName(one("lineitem", "orphan_orderkey", orphan_lines))
        .unionByName(
            one("orders", "null_orderdate", orders.filter(F.col("o_orderdate").isNull()))
        )
        .unionByName(one("documents", "empty_text", empty_docs))
    )


@register("grouping_sets_flags")
def grouping_sets_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS through the SQL API (§2.7 — beyond the
    rollup/cube shorthands: an explicit lattice {flag, status, both, grand
    total} in ONE pass). Spark expands the sets into a single Expand +
    hash-aggregate plan — 4 logical groupings, one scan, one shuffle.
    grouping_id() disambiguates the NULL-as-subtotal rows exactly as in
    the DuckDB twin."""
    li = _t(spark, sf_dir, "lineitem")
    li.select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    ).createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_lines
        FROM gs_lineitem
        GROUP BY GROUPING SETS (
          (l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ()
        )
        """
    )


@register("top3_customers_per_nation")
def top3_customers_per_nation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (§2.8 beyond global LIMIT): rank customers by revenue
    within each nation, keep the top 3. One shuffle for the revenue agg,
    one for the per-nation window; the rank tie-break includes the unique
    custkey so the cut is deterministic. At 100 TB this is the shape that
    replaces 'ORDER BY … LIMIT k' when k is per-group — no global sort."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev_dec"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev_dec").desc(), F.col("c_custkey")
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "c_nationkey",
            "c_custkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register("orders_digest_per_customer")
def orders_digest_per_customer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation (§2.7): per customer, the sorted list
    of order keys digested to a string — collect_list is order-nondeterministic
    under parallel aggregation, so the portable form is sort_array first
    (DuckDB: list_sort(list(...))). String digest keeps the differential
    compare engine-agnostic."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_custkey") < 200)
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("o_orderkey").cast("string"))),
                ",",
            ).alias("order_keys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register("revenue_rollup")
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over region → nation (subtotals + grand total) —
    free in Spark, absent in the reference (§2.7 'rebuild gets these free')."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast(_DEC)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.sum(price).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register("order_status_cube")
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with decimal-exact money totals."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
    )


@register("pivot_priority_by_status")
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable form)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_filled"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_partial"),
    )


@register("set_ops_except_intersect")
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (§2.9): customers with orders in 1996 but not 1997
    (EXCEPT), tagged against those with orders in both (INTERSECT)."""
    orders = _t(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey").distinct()
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey").distinct()
    churned = y96.exceptAll(y97).withColumn("cohort", F.lit("churned"))
    retained = y96.intersect(y97).withColumn("cohort", F.lit("retained"))
    return churned.unionByName(retained)


@register("distinct_counts_by_flag")
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT (expand-based plan in Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register("sessionization")
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative sum over an event-time window
    (30-minute inactivity gap) — the batch form of session windows (§2.11)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_ts", F.lag("ts").over(w))
    # Timestamp subtraction yields a day-time interval for both TIMESTAMP
    # (LTZ) and TIMESTAMP_NTZ inputs, so the 30-minute gap test is agnostic
    # to how the parquet fixture encodes `ts` (unix_micros rejects NTZ).
    flagged = lagged.withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | ((F.col("ts") - F.col("prev_ts")) > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Reference pipeline operators (SURVEY.md §2) over the synthetic feed
# ---------------------------------------------------------------------------


@register("sessionization_bucketed")
def sessionization_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase sessionization (operators/sessions.py): the
    heavy window runs per (user, day-bucket) — a hot user spreads over
    its buckets instead of serializing one sort task — and a tiny
    per-user boundary pass stitches sessions across buckets. Output is
    bit-identical to `sessionization` (same oracle)."""
    from .operators.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"), bucket="1 day")


@register("hash_dedup_anti_join")
def hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+X1 — the reference's semantic heart: sha256 content identity,
    anti-join against already-seen state (dags/dreem.py:48-66, db.py:49-55).
    State here = every 7th event (a deterministic 'previous run')."""
    ev = _t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_id",
        record_hash(F.col("event_type"), F.col("event_id")).alias("hash"),
    )
    state = hashed.filter(F.col("event_id") % 7 == 0).select("hash")
    return dedup_against_state(hashed, state)


@register("lookup_enrich")
def lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 — chained lookup joins (uid→serial→device_id analog; nation
    forced-broadcast as a bounded dim, customer left to AQE):
    events.user_id → customer → nation. Unmatched rows keep NULLs (retried
    next run in the reference's lifecycle)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ev.join(cust, F.col("user_id") == F.col("c_custkey"), "left")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .select("event_id", "user_id", "event_type", "c_name", "n_name")
    )


@register("interval_containment_join")
def interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — interval-containment join with first-match tie-break
    (dags/dreem.py:117-151, ideafast_etl/hooks/ucam.py:119-136): each order is
    matched to the earliest 90-day 'wear window' opened by any earlier order of
    the same customer that day-contains its order date."""
    orders = _t(spark, sf_dir, "orders")
    records = orders.select(
        F.col("o_orderkey").alias("rec_id"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("start"),
        F.col("o_orderdate").alias("end"),
    )
    assignments = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("start_wear"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("end_wear"),
        F.col("o_orderkey").alias("assignment_id"),
    )
    return interval_containment_join(
        records,
        assignments,
        record_key="rec_id",
        device_col="cust",
        payload_cols=("assignment_id",),
        order_cols=("start_wear", "assignment_id"),
    )


@register("interval_containment_join_bucketed")
def interval_join_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 skew-proof twin of ``interval_containment_join``: the dominated
    prune and the merge scan both decompose over (cust, 30-day bucket)
    with per-device boundary stitches, so a hot customer's sort spreads
    over its buckets instead of one task. Shares the single-window
    oracle — identical output by construction."""
    orders = _t(spark, sf_dir, "orders")
    records = orders.select(
        F.col("o_orderkey").alias("rec_id"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("start"),
        F.col("o_orderdate").alias("end"),
    )
    assignments = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("start_wear"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("end_wear"),
        F.col("o_orderkey").alias("assignment_id"),
    )
    return interval_containment_join(
        records,
        assignments,
        record_key="rec_id",
        device_col="cust",
        payload_cols=("assignment_id",),
        order_cols=("start_wear", "assignment_id"),
        bucket_days=30,
    )


@register("asof_latest_order")
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively — union-tag + forward-fill):
    attach each event's customer's most recent order at-or-before the event,
    deterministic among same-day orders via max orderkey."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    return asof_join(
        ev,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=("o_orderkey", "o_totalprice"),
        tie_break="o_orderkey",
    )


@register("range_join_windows")
def range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key): orders falling inside sampled 14-day
    observation windows, via time-bucketized equi-join + exact residual
    (the scale path past BroadcastNestedLoopJoin)."""
    from .operators.rangejoin import range_join_point_in_interval

    orders = _t(spark, sf_dir, "orders")
    points = orders.select(
        F.col("o_orderkey").alias("rec_id"), F.col("o_orderdate").alias("ts")
    )
    windows = orders.filter(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderkey").alias("window_id"),
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS")).alias("w_end"),
    )
    return range_join_point_in_interval(
        points, windows, point_ts="ts", start_col="w_start", end_col="w_end"
    ).select("rec_id", "ts", "window_id", "w_start", "w_end")


@register("day_window_grouping")
def day_window_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — offset tumbling day-window bucketing + upload-group key with the
    production 12:00:00 cut-off (ideafast_etl/operators/ucam.py:71-134,
    dags/dreem.py:276-281); event_type/user_id stand in for device/patient."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.col("event_type").alias("device_id"),
        F.col("user_id").cast("string").alias("patient_id"),
    )
    grouped = assign_group_id(ev, cut_off="12:00:00", ts_col="ts")
    return grouped.groupBy("dmp_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register("tumbling_window_hourly")
def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in F.window tumbling aggregation (1 hour) over the event stream —
    the batch face of the streaming windowed aggregation."""
    ev = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(F.col("event_type"), win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register("day_window_grouping_midnight")
def day_window_grouping_midnight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 midnight mode: window start = end = the record's own day."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.col("event_type").alias("device_id"),
        F.col("user_id").cast("string").alias("patient_id"),
    )
    grouped = assign_group_id(ev, cut_off="00:00:00", ts_col="ts")
    return grouped.groupBy("dmp_id").agg(F.count(F.lit(1)).alias("n_records"))


@register("json_extract_props")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8/A2 — JSON dot-path extraction as a relational op: pull ``k`` out of
    the free-form props payload (the reference's ``meta``/JSON navigation) and
    aggregate it per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register("top_bigrams")
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (text-analysis extension): posexplode +
    window lead over tokens, count, deterministic top-20."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")

    toks = docs.select(
        "doc_id", F.posexplode(F.split(T.norm_text(F.col("text")), " ")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bigram"),
        F.lead("tok", 1).over(w).alias("__nxt"),
    ).filter(F.col("__nxt").isNotNull())
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(20)
    )


@register("lifecycle_worklist")
def lifecycle_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7 — NULL-rung lifecycle predicates. Events double as a state table:
    'value IS NULL'-style rungs are synthesised deterministically from
    event_id so the predicate logic (conjunction of equality + NULL tests,
    db.py:140-231) is exercised for real."""
    ev = _t(spark, sf_dir, "events")
    state = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 3 == 0, F.col("user_id").cast("string")).alias(
            "device_serial"
        ),
        F.when(F.col("event_id") % 6 == 0, F.concat(F.lit("DEV-"), F.col("user_id"))).alias(
            "device_id"
        ),
    )
    return state.filter(
        (F.col("event_type") == "click")
        & F.col("device_serial").isNotNull()
        & F.col("device_id").isNull()
    ).select("event_id", "device_serial")


@register("distinct_worklists")
def distinct_worklists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — streamed distinct of pending work keys (db.py:144-170)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") > 50.0)
        .select(F.col("event_type").alias("work_key"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (SURVEY.md §2.13) — documents / embeddings
# ---------------------------------------------------------------------------


@register("text_stats")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality metrics: char/word/token counts, punctuation + stopword
    ratios. All JVM-side regex/length expressions (§2.13 text analysis)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.char_count(F.col("text")).cast("long").alias("chars"),
        T.word_count(F.col("text")).cast("long").alias("words"),
        T.token_count(F.col("text")).cast("long").alias("tokens"),
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


@register("lang_id")
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word argmax) vs the labelled lang col."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", T.lang_id(F.col("text")).alias("lang_guess")
    )


@register("quality_filter")
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-corpus quality gate: composite length/stopword/punctuation score,
    keep docs scoring ≥ 0.6 (the filter every pretraining pipeline runs)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            T.quality_score(F.col("text")).alias("quality"),
        )
        .filter(F.col("quality") >= 0.6)
    )


@register("doc_fingerprint")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 64-bit sha256-derived fingerprint over
    normalised text (generalises X1)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.fingerprint64(F.col("text")).alias("fingerprint")
    )


@register("exact_dedup")
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint: survivor id + duplicate count per
    distinct normalised text."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


@register("ngram_jaccard_pairs")
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (lang-blocked brute force —
    the verify baseline for the LSH path)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.2)


@register("minhash_near_dup")
def minhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: banded candidate join + exact Jaccard verify.
    Deterministic universal-hash family → exactly reproducible in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(docs, threshold=0.2)


@register("minhash_near_dup_star")
def minhash_near_dup_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 degenerate-duplicate-density posture: bucket-representative
    candidates (member ↔ bucket-min) instead of the in-bucket self-join —
    O(members) candidates per band bucket where "all" is quadratic. Own
    full oracle (the star semantics replayed in SQL)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(docs, threshold=0.2, candidates="star")


@register("incremental_near_dup")
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup step: which INCOMING documents (doc_id % 5 == 0,
    the 'new batch') are near-duplicates of the already-seen corpus (the
    rest)? J1's anti-join generalised from exact hashes to MinHash similarity.
    Output: (incoming_id, matched_state_id, jaccard_sim).

    Implemented over the full pair graph here (small corpus); at scale the
    candidate join runs incoming-bands ⋈ state-bands only, which is the same
    plan minus the state self-pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(docs, threshold=0.2)
    a_in = (F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 != 0)
    b_in = (F.col("id_b") % 5 == 0) & (F.col("id_a") % 5 != 0)
    return pairs.filter(a_in | b_in).select(
        F.when(a_in, F.col("id_a")).otherwise(F.col("id_b")).alias("incoming_id"),
        F.when(a_in, F.col("id_b")).otherwise(F.col("id_a")).alias("state_id"),
        "jaccard_sim",
    )


@register("near_dup_clusters")
def near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: each involved doc
    labeled with its component's min id (the dedup survivor). The label is
    algorithm-independent, so the oracle verifies it with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(docs, threshold=0.2)


@register("near_dup_clusters_star")
def near_dup_clusters_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the STAR pair graph (r9 duplicate-density
    posture): a giant dup cluster becomes a star around its min-id member,
    so propagation converges in 2 rounds instead of O(diameter)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(docs, threshold=0.2, candidates="star")


@register("embedding_topk")
def embedding_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbours for the first 5 vectors (§2.13
    similarity search, exact baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, k=5)


def _augmented_embeddings(emb: DataFrame) -> DataFrame:
    """Corpus ∪ deterministically-perturbed copies of every 10th vector
    (component i scaled by 1 + 0.001·((i mod 7) − 3) → cosine ≈ 0.99999 to
    its source): the test tables carry no natural pairs above cosine 0.6, so
    the near-DUPLICATE regime (threshold 0.95) needs planted duplicates. The
    same augmentation is SQL-expressible for the DuckDB oracle."""
    pert = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            * (F.lit(1.0) + F.lit(0.001) * ((i % 7) - F.lit(3)).cast("double")),
        ).alias("embedding"),
    )
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(pert)


@register("embedding_near_dup")
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at threshold 0.95 over the
    planted-duplicate corpus, via deterministic-complete grid blocking
    (recall 1.0, equi-join plan — no BroadcastNestedLoopJoin; the brute-force
    twin survives as `similarity.embedding_near_dup_pairs` for tests)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.grid_near_dup_pairs(
        _augmented_embeddings(emb), threshold=0.95
    )


@register("embedding_near_dup_star")
def embedding_near_dup_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-density posture of `embedding_near_dup` (r9, mirroring the
    minhash/simhash star queries): every vector pairs only with the min-id
    representative of each grid cell it probes — ≤ 27 candidates per
    vector where the all-pairs contract is quadratic in a hot cluster
    (and its TRUE output is too, so no plan can save it). Oracle replays
    the star semantics in SQL: same cells, same per-cell min-id reps,
    same 3^3 probe neighbourhood, same rounded-dot verify."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.grid_near_dup_pairs(
        _augmented_embeddings(emb), threshold=0.95, candidates="star"
    )


@register("window_function_suite")
def window_function_suite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window coverage in one pass: lag/lead, row_number, ntile,
    cume_dist, percent_rank over (user, ts) — one shuffle on user_id, one
    sort per partition serves ALL the functions (single Window operator).
    Deterministic: the ordering key (ts, event_id) is unique, so the
    rank-family outputs are integer-derived and exact cross-engine."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cume"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@register("incremental_embedding_near_dup")
def incremental_embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup: a NEW batch (the planted perturbed
    copies) checked against the SEEN corpus (the originals) — new×seen grid
    join only, never rescoring seen×seen (the micro-batch shape of
    embedding dedup at 100 TB; parity with `incremental_near_dup`)."""
    emb = _t(spark, sf_dir, "embeddings")
    aug = _augmented_embeddings(emb)
    new = aug.filter(F.col("vec_id") >= 1_000_000)
    seen = aug.filter(F.col("vec_id") < 1_000_000)
    return similarity.grid_near_dup_join(new, seen, threshold=0.95)


@register("multimodal_metadata")
def multimodal_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path (§2.13): documents' text bytes wrapped as
    opaque binary content with deterministic per-row magic-byte prefixes
    (JPEG/PNG/MP3/none), then JVM-side sniffing + byte count + checksum —
    zero Python in the plan. The checksum is sha256 over the lowercase hex
    encoding (DuckDB's sha256 only takes VARCHAR, not BLOB; the raw-binary
    sha2 in `with_media_metadata` is the production path)."""
    from .operators.multimodal import sniff_media_type

    docs = _t(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("ffd8ff"))
        .when(F.col("doc_id") % 4 == 1, F.lit("89504e47"))
        .when(F.col("doc_id") % 4 == 2, F.lit("494433"))
        .otherwise(F.lit(""))
    )
    content = F.concat(
        F.to_binary(magic, F.lit("hex")), F.encode(F.col("text"), "UTF-8")
    )
    binm = docs.select(F.col("doc_id"), content.alias("content"))
    return binm.select(
        "doc_id",
        sniff_media_type("content").alias("media_type"),
        F.length(F.col("content")).cast("long").alias("n_bytes"),
        F.sha2(F.lower(F.hex(F.col("content"))), 256).alias("checksum_hex"),
    )


@register("value_quantiles")
def value_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles per event_type (§2.7 depth): Spark's
    ``percentile`` aggregate against DuckDB's ``quantile_cont`` — both
    define quantiles as linear interpolation at rank p·(n−1) on the sorted
    values, so rounded to 6dp they agree exactly. The approximate sibling
    (`approx_distinct_users` / approx_percentile) is the 100 TB path;
    this is the exact-oracle anchor for it."""
    ev = _t(spark, sf_dir, "events")
    pct = lambda p: F.round(F.expr(f"percentile(value, {p})"), 6)  # noqa: E731
    return ev.groupBy("event_type").agg(
        pct(0.25).alias("p25"),
        pct(0.5).alias("p50"),
        pct(0.75).alias("p75"),
        pct(0.95).alias("p95"),
    )


@register("latest_event_per_user")
def latest_event_per_user_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax without a window (§2.7/§2.8): ``max_by`` over a (ts,
    event_id) struct picks each user's latest event in ONE hash aggregate
    — no per-user sort, no row_number window. At 100 TB this is the shape
    that wins: a window argmax shuffles AND sorts every partition; max_by
    is a partial-aggregable fold (map-side combine halves the shuffle).
    The unique event_id tie-break keeps it deterministic; the oracle is
    the equivalent row_number()=1 window."""
    ev = _t(spark, sf_dir, "events")
    ord_key = F.struct("ts", "event_id")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", ord_key).alias("last_type"),
        F.max(ord_key).getField("ts").alias("last_ts"),
        F.round(F.max_by("value", ord_key), 6).alias("last_value"),
    )


@register("salted_dim_join")
def salted_dim_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (§2.13 tooling): events⋈customer without broadcast
    — fact rows get a deterministic salt, the dim replicates across all
    salts, and the join runs on (key, salt) so a hot user's rows spread
    over n_salts reducers instead of serialising one. Result ≡ the plain
    equi-join (the oracle). Money sums go through DECIMAL so the grouped
    totals are order-independent across engines."""
    from .operators.skew import salted_skew_join

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("value").cast("decimal(14,6)").alias("v")
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    j = salted_skew_join(ev, dim, "user_id", n_salts=8)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
    )


@register("stratified_sample_docs")
def stratified_sample_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (§2.13 training-data ops): keep
    each doc iff its sha256 bucket falls under the language's rate — a pure
    column predicate (no shuffle, no RNG), so the sample is reproducible
    across engines, runs, and cluster layouts. The oracle recomputes the
    same bucket arithmetic in DuckDB."""
    from .operators.packing import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 0.5, "fr": 0.25, "de": 0.25, "es": 0.1, "zh": 0.75}
    return stratified_sample(
        docs, "lang", rates, "doc_id", salt="s1"
    ).select("doc_id", "lang")


@register("train_shard_manifest")
def train_shard_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible shard assignment + within-shard shuffle order (§2.13):
    shard = hash bucket of doc_id, shuffle_pos = rank of an independent
    second hash inside the shard. Row-level output so the oracle verifies
    the exact training order, not just shard counts. One shuffle (window
    on shard_id) — the 100 TB form is repartition + sortWithinPartitions
    feeding a partitioned write."""
    from .operators.packing import assign_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return assign_shards(docs, 8, "doc_id", seed="epoch0").select(
        "doc_id", "lang", "shard_id", "shuffle_pos"
    )


@register("sequence_packing")
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing into 1024-token context windows (§2.13),
    one ordered fold per language via applyInPandas (the group is the
    parallelism unit — real pipelines pack per (stratum, shard)). The
    oracle replays the identical fold as a recursive CTE, so every bin
    boundary is cross-checked. Token counts are the BPE-ish TOKEN_REGEX
    (same regex both engines)."""
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "tokens", T.token_count(F.col("text")).cast("long")
    )
    return pack_sequences(
        docs, cap=1024, group_cols=["lang"], order_col="doc_id",
        token_col="tokens",
    )


@register("image_decode_features")
def image_decode_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-decode differential check (§2.13): a deterministic gray
    BMP is synthesized per document (width/height/gray level are doc_id
    arithmetic), then run through the actual pure-numpy BMP decoder
    (`multimodal.decode_image_features`, fake=False). The oracle recomputes
    the expected width/height/mean-luma arithmetically — a mishandled
    header field, row-padding byte, or channel weight would drift the
    output. Rounding to 6dp absorbs float-mean accumulation noise."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h, v = int(1 + i % 16), int(1 + i % 9), int(i % 256)
                px = np.full((h, w, 3), v, dtype=np.uint8)
                rows.append({"doc_id": int(i), "content": mm.encode_bmp(px)})
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    bmps = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.decode_image_features(bmps, id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register("jpeg_decode_features")
def jpeg_decode_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode differential check (§2.13): a flat-gray
    baseline JPEG is synthesized per document (width/height/gray level are
    doc_id arithmetic) by the from-spec encoder, then decoded by the
    pure-numpy baseline JPEG decoder (`operators/jpeg.py` — huffman +
    dequant + IDCT) through the same `decode_image_features` mapInPandas
    path as BMPs. Flat q=8 quantization makes the DC of a flat
    integer-valued image exactly recoverable, so the oracle recomputes
    width/height/mean-luma arithmetically — a huffman mis-decode, DC
    prediction bug, IDCT scaling error, or padding mistake all drift the
    output."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import jpeg as J
    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h, g = int(1 + i % 13), int(1 + i % 7), int((i * 37) % 256)
                rows.append(
                    {
                        "doc_id": int(i),
                        "content": J.encode_jpeg_baseline(
                            np.full((h, w), g, dtype=np.uint8)
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    jpgs = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.decode_image_features(jpgs, id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register("png_decode_features")
def png_decode_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-image decode differential check (§2.13): a flat-COLOR
    PNG is synthesized per document (dims and BGR channels are doc_id
    arithmetic), decoded by the from-spec PNG decoder (`operators/png.py`
    — stdlib zlib inflate + scanline unfiltering) through the same
    `decode_image_features` path. PNG is lossless, so the decoded pixels —
    and therefore the Rec.601 mean luma over three DIFFERENT channel
    values — are exactly predictable by the oracle; a channel-order swap
    (RGB vs BGR), filter bug, or stride error all drift the output."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm
    from .operators import png as P

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = int(1 + i % 11), int(1 + i % 5)
                bgr = [int(i % 256), int((i * 3) % 256), int((i * 7) % 256)]
                px = np.tile(
                    np.array(bgr, dtype=np.uint8), (h, w, 1)
                )
                rows.append(
                    {"doc_id": int(i), "content": P.encode_png(px)}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    pngs = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.decode_image_features(pngs, id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register("gif_decode_features")
def gif_decode_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL palette-image decode differential check (§2.13): a flat-color
    GIF is synthesized per document and decoded by the from-spec GIF
    decoder (`operators/gif.py` — LZW + palette expansion) through the
    shared `decode_image_features` path. GIF is lossless for ≤256-color
    content, so the Rec.601 mean luma over three distinct channel values
    is exactly predictable; an LZW mis-decode, palette index error, or
    channel-order swap all drift the output."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import gif as G
    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = int(1 + i % 9), int(1 + i % 6)
                bgr = [int((i * 5) % 256), int((i * 11) % 256), int(i % 256)]
                px = np.tile(np.array(bgr, dtype=np.uint8), (h, w, 1))
                rows.append({"doc_id": int(i), "content": G.encode_gif(px)})
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    gifs = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.decode_image_features(gifs, id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register("audio_decode_features")
def audio_decode_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-decode differential check (§2.13): a constant-amplitude
    PCM WAV is synthesized per document (frame count and amplitude are
    doc_id arithmetic), decoded by the stdlib-wave decoder
    (`multimodal.audio_features`). A constant signal makes every feature
    arithmetically predictable — RMS = peak = the int16-quantized
    amplitude round(a·32767)/32768 — so the oracle recomputes them in SQL.
    The amplitude grid (v/200) never lands on an int16 rounding boundary,
    keeping half-even (numpy) vs half-away (SQL) rounding irrelevant."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                n = int(400 + (i % 100) * 8)
                a = float((i % 100) / 200.0)
                x = np.full((n, 1), a, dtype=np.float64)
                rows.append({"doc_id": int(i), "content": mm.encode_wav(x, 8_000)})
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    wavs = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.audio_features(wavs, id_col="doc_id")
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        F.round(F.col("duration_s"), 6).alias("duration_s"),
        F.round(F.col("rms"), 6).alias("rms"),
        F.round(F.col("peak"), 6).alias("peak"),
    )


@register("flac_audio_features")
def flac_audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-audio decode differential check (§2.13): a ±a square
    wave per document is FLAC-encoded by the from-spec encoder
    (`operators/flac.py` — FIXED prediction + Rice residuals over a
    genuinely non-constant signal) and decoded back through the same
    Arrow `audio_features` path as WAV. FLAC is lossless, so
    RMS = peak = round(a·32767)/32768 exactly and the oracle recomputes
    every feature arithmetically — a Rice mis-read, prediction bug, CRC
    slip, or block misalignment all drift the output."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm
    from .operators.flac import encode_flac

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                n = int(800 + (i % 50) * 16)  # even → rms exact
                a = float((i % 100) / 200.0)
                x = np.where(np.arange(n) % 2 == 0, a, -a).reshape(-1, 1)
                rows.append(
                    {"doc_id": int(i), "content": encode_flac(x, 8_000)}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    clips = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.audio_features(clips, id_col="doc_id")
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        F.round(F.col("duration_s"), 6).alias("duration_s"),
        F.round(F.col("rms"), 6).alias("rms"),
        F.round(F.col("peak"), 6).alias("peak"),
    )


@register("bpe_train_merges")
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (`operators/tokenizer.py`, Sennrich
    arXiv:1508.07909): one corpus pass builds the word-frequency table,
    then every merge iteration is vocabulary-sized. Rows-only contract
    (iterative, argmax-dependent rewriting is not SQL-expressible); the
    bit-exact pure-python twin in tests/test_tokenizer.py pins semantics.
    Integer pair counts + lexicographic tie-breaks make training
    deterministic under any partitioning."""
    from .operators.tokenizer import bpe_merge_table, bpe_train

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    merges, _vocab = bpe_train(docs, text_col="text", n_merges=20)
    return bpe_merge_table(spark, merges)


@register("bpe_token_counts")
def bpe_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE vocabulary: corpus-sized
    work exactly once (posexplode → vocab equi-join → per-doc fold);
    out-of-vocabulary words fall back to characters. Rows-only (depends
    on the iterative training); twin-tested."""
    from .operators.tokenizer import bpe_tokenize, bpe_train

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    _merges, vocab = bpe_train(docs, text_col="text", n_merges=20)
    return bpe_tokenize(docs, vocab).select(
        "doc_id", "n_words", "n_tokens"
    )


@register("kmeans_embeddings")
def kmeans_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed spherical k-means over the embeddings
    table (`operators/clustering.py`). Every cross-row sum is fixed-point,
    so the result is identical under any partitioning — which makes even
    the ITERATION differentially checkable: the oracle unrolls all four
    k-means iterations as SQL CTEs and matches bit-for-bit (plus the
    bit-exact numpy twin in tests/test_clustering.py)."""
    from .operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, iters=4)


@register("semantic_dedup")
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means blocking + within-cluster
    cosine near-dup removal, keeping each group's lowest id. Fully
    oracle-verified: the unrolled-CTE k-means oracle feeds the same
    blocked pairwise join in SQL. The pairwise stage is an equi-self-join
    on cluster_id — cost tracks the largest cluster, never n²."""
    from .operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iters=4, threshold=0.9)


@register("g711_audio_features")
def g711_audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-telephony-audio differential check (§2.13): a WAV
    whose payload is a single repeated G.711 μ-law codeword (byte =
    doc_id % 256) is decoded through the manual RIFF parser + numpy LUT
    expansion (`multimodal._decode_wav_manual`). A constant codeword makes
    RMS = peak = |expand(byte)| / 32768 exactly, and the oracle recomputes
    the ITU-T expansion formula ((mant·8 + 132)·2^exp − 132, sign from the
    complemented high bit) in SQL arithmetic — an independent check of the
    whole table."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                n = int(160 + (i % 50) * 8)
                code = np.full(n, i % 256, dtype=np.uint8)
                rows.append(
                    {
                        "doc_id": int(i),
                        "content": mm.encode_wav_g711(code, 8_000, "ulaw"),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    wavs = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.audio_features(wavs, id_col="doc_id")
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        F.round(F.col("duration_s"), 6).alias("duration_s"),
        F.round(F.col("rms"), 6).alias("rms"),
        F.round(F.col("peak"), 6).alias("peak"),
    )


@register("salted_event_counts")
def salted_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-immune aggregation (§2.13 tooling): two-phase salted count per
    event_type — (key, salt) partial → key final — algebraically identical
    to a plain GROUP BY (the oracle), but no single reducer ever owns a hot
    key's full row set. event_type is exactly the low-cardinality/hot-key
    shape where one key would otherwise serialise a 100 TB aggregation."""
    from .operators.skew import salted_count

    ev = _t(spark, sf_dir, "events")
    return salted_count(ev.select("event_type", "user_id"), ["event_type"]).select(
        "event_type", F.col("count").alias("n_events")
    )


@register("simhash_fingerprint")
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (row-based codegen plan)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(docs)


@register("simhash_near_dup")
def simhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-distance near-dup pairs (≤3 differing bits of 32),
    banded multi-probe candidates + bit_count(xor) verify."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs, max_hamming=3)


@register("simhash_near_dup_star")
def simhash_near_dup_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with bucket-representative candidates (r9 duplicate-density
    posture; see minhash_near_dup_star)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs, max_hamming=3, candidates="star")


@register("dreem_pipeline_e2e")
def dreem_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE dataflow as one declarative plan (SURVEY.md
    §1.3): ingest-shape + hash (X1) → anti-join dedup vs seen state (J1) →
    two broadcast lookup enrichments (J2/J3) → interval-containment patient
    resolution with first-match tie-break (J4) → day-window grouping + dmp_id
    key (G1) → per-group upload stats (G4). Orders play the recording feed;
    customer/nation are the lookup dims; per-customer 90-day windows are the
    wear assignments."""
    return _dreem_e2e(spark, sf_dir, bucket_days=None)


def _dreem_e2e(
    spark: SparkSession, sf_dir: str, bucket_days: int | None
) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    feed = orders.select(
        F.sha2(F.concat(F.lit("ORD"), F.col("o_orderkey")), 256).alias("hash"),
        F.col("o_orderkey").alias("rec_id"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("start"),
        F.col("o_orderdate").alias("end"),
    )
    state = feed.filter(F.col("rec_id") % 7 == 0).select("hash")
    fresh = dedup_against_state(feed, state)

    enriched = (
        fresh.join(cust, F.col("cust") == F.col("c_custkey"), "left")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .select(
            "hash", "rec_id", "cust", "start", "end",
            F.col("c_name").alias("device_serial"),
            F.col("n_name").alias("device_id"),
        )
    )

    assignments = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("start_wear"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("end_wear"),
        F.concat(F.lit("P"), F.col("o_orderkey")).alias("patient_id"),
    )
    resolved = interval_containment_join(
        enriched,
        assignments,
        record_key="hash",
        device_col="cust",
        payload_cols=("patient_id",),
        order_cols=("start_wear", "patient_id"),
        bucket_days=bucket_days,
    )

    grouped = assign_group_id(
        resolved.filter(F.col("patient_id").isNotNull()),
        cut_off="12:00:00",
        ts_col="start",
    )
    return grouped.groupBy("dmp_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("start").alias("first_start"),
        F.max("end").alias("last_end"),
    )


# ---------------------------------------------------------------------------
# Approximate / non-SQL-expressible operators → rows-only checks
# ---------------------------------------------------------------------------


@register("approx_distinct_users")
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch approximate distinct (engine-specific sketch → rows-only
    check; the exact twin is distinct_counts_by_flag)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.expr("percentile_approx(value, 0.5)").alias("approx_median_value"),
    )


@register("embedding_topk_ivf")
def embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (coarse k-means cells + n_probe exact
    rerank) — the second scale path for similarity search. r8: the
    coarse quantizer is the repo's own fixed-point k-means, so the whole
    operator (training included) carries a FULL value-hash oracle
    (unrolled CTE replay) despite recall < 1; exact twin is
    embedding_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries_df, k=5)


@register("embedding_topk_lsh")
def embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (the 100 TB scale path for similarity
    search; recall < 1 by construction → rows-only check; exact twin is
    embedding_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, queries_df, dim=64, k=5)


# ---------------------------------------------------------------------------
# Corpus hygiene (§2.13): decontamination, repetition QC, temperature sampling
# ---------------------------------------------------------------------------


@register("decontaminate_ngrams")
def decontaminate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (§2.13): docs from one source play the
    held-out eval suite; the rest of the corpus is flagged for word-4-gram
    overlap with it (the GPT-3/FineWeb discipline, 8–13-grams in real
    deployments — the synthetic corpus has a tiny vocabulary so n=4 keeps
    the hit set meaningful). The eval shingle set is broadcast — at 100 TB
    the corpus side stays a map-side hash join with one count shuffle."""
    from .operators.corpus import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("source") == "src0")
    rest = docs.filter(F.col("source") != "src0")
    return ngram_decontaminate(rest, eval_df, n=4).orderBy("doc_id")


@register("repetition_stats")
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (§2.13):
    distinct-word ratio, top-word fraction, top-bigram fraction, with
    deterministic lexicographic tie-breaks. All whole-stage-codegen
    aggregations keyed on doc_id; fractions are int/int double divisions."""
    from .operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("lang_temperature_sample")
def lang_temperature_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling at α=0.5 across languages (§2.13, the
    mT5/XLM-R recipe): acceptance rate per language is sqrt(cnt_min/cnt_l)
    — a closed form with no cross-row float sums, so the rate is
    bit-identical across engines — applied via the deterministic sha256
    bucket predicate. Bounded agg + broadcast; the corpus never shuffles."""
    from .operators.corpus import temperature_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(docs, "lang", "doc_id", salt="temp0").select(
        "doc_id", "lang", "sample_rate"
    )


@register("zorder_curve")
def zorder_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two event dimensions (§2.13 /
    data layout): bucketize user_id and value to 8 bits each, interleave —
    the key `layout.zorder_write` range-partitions on so parquet min/max
    stats stay narrow in BOTH dimensions (multi-dimensional file skipping,
    Delta OPTIMIZE ZORDER BY discipline). Pure unrolled shift/mask
    arithmetic — codegen, no UDF; the oracle replays the same bit math."""
    from .operators.layout import bucketize, zorder_key

    ev = _t(spark, sf_dir, "events")
    zx = bucketize(F.col("user_id"), 0.0, 150.0, bits=8)
    zy = bucketize(F.col("value"), 0.0, 500.0, bits=8)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        zorder_key(zx, zy, bits=8).alias("z_key"),
    ).orderBy("event_id")


@register("variant_props_stats")
def variant_props_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4): parse once
    with try_parse_json (malformed rows become NULL, not failures), then
    typed variant_get extraction — the open-schema path that replaces
    per-field get_json_object string re-parsing; at scale the binary-encoded
    variant parses ~once per row instead of once per extracted field.
    Aggregates k per user-id decade; oracle is DuckDB's JSON extraction."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "long")
    return (
        ev.withColumn("k", k)
        .withColumn("user_decade", (F.col("user_id") / 10).cast("long"))
        .groupBy("user_decade")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("user_decade")
    )


@register("video_frame_sample")
def video_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame-sampling differential check (§2.13): a BSEQ
    container of 1–3 gray BMP frames is synthesized per document (frame
    dims/levels are doc_id arithmetic), demuxed for real, every 2nd frame
    kept, and each kept frame decoded by the actual BMP decoder. The
    oracle replays the expected (frame_idx, width, height, luma) per
    sampled frame via generate_series — any demux offset error, sampling
    off-by-one, or decode drift mismatches."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                frames = []
                for j in range(int(1 + i % 3)):
                    w, h = int(2 + (i + j) % 5), int(1 + (i + j) % 4)
                    v = int((i * 7 + j * 13) % 256)
                    frames.append(
                        mm.encode_bmp(np.full((h, w, 3), v, dtype=np.uint8))
                    )
                rows.append({"doc_id": int(i), "content": mm.encode_bseq(frames)})
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    clips = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.video_frame_features(clips, every_n=2, id_col="doc_id")
    return feats.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    ).orderBy("doc_id", "frame_idx")


@register("avi_frame_sample")
def avi_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-WORLD-container video check (§2.13): an uncompressed-DIB AVI
    of 1-3 flat gray frames is muxed per document (`operators/avi.py`),
    demuxed through the RIFF chunk walk, every 2nd frame kept, and each
    DIB frame decoded by the shared image decoders. DIB video is
    lossless, so the oracle replays (frame_idx, width, height, luma) with
    generate_series — a chunk-alignment error, BITMAPINFOHEADER misread,
    or row-padding mistake all drift the output."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import avi as A
    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = int(2 + i % 6), int(1 + i % 4)
                frames = [
                    np.full(
                        (h, w, 3), int((i * 11 + j * 29) % 256), dtype=np.uint8
                    )
                    for j in range(int(1 + i % 3))
                ]
                rows.append(
                    {"doc_id": int(i), "content": A.encode_avi(frames)}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    clips = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.video_frame_features(clips, every_n=2, id_col="doc_id")
    return feats.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    ).orderBy("doc_id", "frame_idx")


@register("avi_mjpeg_frame_sample")
def avi_mjpeg_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-video check (§2.13): a Motion-JPEG AVI (strf fourcc
    'MJPG', each movi chunk a standalone baseline JPEG — OpenDML M-JPEG)
    of 1-3 flat gray frames is muxed per document with an interleaved PCM
    audio stream ahead of the video strl, demuxed through the stream-aware
    RIFF walk (`operators/avi.py` — the video stream is ordinal 1 here, so
    chunk-id tracking is load-bearing), every 2nd frame kept, and each
    JPEG frame decoded by the from-spec T.81 decoder (`operators/jpeg.py`).
    Flat q=8 quantization makes flat frames exactly recoverable, so the
    oracle replays (frame_idx, width, height, luma) with generate_series —
    a stream mixup, chunk misalignment, or huffman drift all mismatch.
    Reference analog: binary-asset leg S2 (`ideafast_etl/hooks/drm.py:48-90`)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import avi as A
    from .operators import multimodal as mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = int(2 + i % 6), int(1 + i % 4)
                frames = [
                    np.full(
                        (h, w, 3), int((i * 17 + j * 23) % 256), dtype=np.uint8
                    )
                    for j in range(int(1 + i % 3))
                ]
                rows.append(
                    {
                        "doc_id": int(i),
                        "content": A.encode_avi(
                            frames, codec="MJPG", audio_stream=True
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    clips = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.video_frame_features(clips, every_n=2, id_col="doc_id")
    return feats.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    ).orderBy("doc_id", "frame_idx")


@register("weighted_doc_sample")
def weighted_doc_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (§2.13 mixing): Efraimidis-
    Spirakis weighted sampling without replacement, weight = doc length —
    longer (here: proxy-for-richer) docs are proportionally likelier, no
    doc twice, fully deterministic (sha256 randomness + quantized ln per
    REPRO patterns 7/8, so the oracle replays the exact sample)."""
    from .operators.packing import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, F.greatest(F.length("text"), F.lit(1)), k=100
    )


@register("leakage_safe_splits")
def leakage_safe_splits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split (§2.13 — the eval-hygiene
    upgrade of `dataset_splits`): split assignment keys on the near-dup
    COMPONENT representative, so paraphrase twins can never straddle
    train/eval. Composes the MinHash cluster labels with the sha256
    bucket rule; per-doc (id, rep, split) output so the oracle verifies
    every single assignment."""
    from .operators.packing import leakage_safe_splits

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup.near_dup_clusters(docs, threshold=0.2)
    return leakage_safe_splits(docs, clusters)


@register("dataset_splits")
def dataset_splits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (§2.13): split by sha256
    bucket of doc_id (80/10/10) — a pure column expression, so the split is
    stable across engines, runs, and cluster layouts (the property that
    makes eval sets trustworthy). Returns per-split/language counts; the
    oracle recomputes the same bucket arithmetic."""
    from .operators.packing import stable_bucket

    docs = _t(spark, sf_dir, "documents")
    b = stable_bucket("doc_id", 100, salt="split0")
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


@register("curriculum_packing")
def curriculum_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered packing (§2.13 composition): rank documents
    short→long per language (the classic length-curriculum; n_chars with
    doc_id tie-break — fully deterministic), then next-fit pack the
    curriculum order into 512-token bins. Composes quality signal →
    ranking window → applyInPandas fold; the oracle replays the identical
    fold as a recursive CTE over the same rank."""
    from .operators.packing import pack_sequences

    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn("tokens", T.token_count(F.col("text")).cast("long"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("n_chars", "doc_id")
            ).cast("long"),
        )
    )
    return pack_sequences(
        docs, cap=512, group_cols=["lang"], order_col="rank", token_col="tokens"
    )


@register("bm25_retrieval")
def bm25_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring against a 5-term probe query (§2.13 retrieval —
    the data-selection primitive): bounded term set means the df table and
    corpus scalars broadcast; the corpus shuffles only on doc_id. Per-doc
    totals add per-term columns in sorted-term order (engine- and
    parallelism-independent float summation)."""
    from .operators.retrieval import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(
        docs, ["join", "query", "spark", "table", "window"]
    ).orderBy("doc_id")


@register("mmr_diversified_topk")
def mmr_diversified_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 (§2.13 retrieval): greedy re-rank of the 30
    most cosine-relevant neighbours of each probe vector, trading relevance
    against redundancy at lambda=1/2 — the dedup-aware complement of
    embedding_topk (which returns paraphrase clusters verbatim). Integer
    micro-unit scores make the whole greedy trajectory engine-exact; the
    oracle replays all 10 selection steps as unrolled CTEs."""
    from .operators.retrieval import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return mmr_rerank(emb, probes, k=10, pool=30).orderBy(
        "query_id", "mmr_rank"
    )


@register("hybrid_retrieval_rrf")
def hybrid_retrieval_rrf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval via Reciprocal Rank Fusion (§2.13 —
    the standard production combiner, Cormack et al. 2009): BM25 over the
    documents table and embedding cosine against probe vector 0 each
    produce a top-100 candidate list (ranked by the distributed
    global_rank — no single-partition window), fused by
    Σ 1/(60 + rank_i). Rank-only fusion needs no score calibration, which
    is why it survives heterogeneous rankers. Fixed-order contribution
    sum keeps the float total engine-identical."""
    from .operators.retrieval import bm25_scores, rrf_fuse
    from .operators.similarity import dot, unit_normalized

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = bm25_scores(
        docs, ["join", "query", "spark", "table", "window"]
    ).select("doc_id", "score")
    q = unit_normalized(
        emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", "qv"
    ).select("qv")
    c = unit_normalized(
        emb.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
        "embedding",
        "v",
    )
    cos = c.crossJoin(F.broadcast(q)).select(
        "doc_id", F.round(dot(F.col("v"), F.col("qv")), 6).alias("score")
    )
    fused = rrf_fuse(
        [bm, cos], per_list_k=100, rank_names=["rank_bm25", "rank_cos"]
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id")


@register("token_heavy_hitters")
def token_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (§2.13): corpus-level frequent-token
    table (freq >= total/500) via sketch-then-verify — the map-side sketch
    filter prunes the exact aggregation so the shuffle carries candidate
    rows only, while the exact HAVING makes the OUTPUT identical to a plain
    GROUP BY ... HAVING (which is the oracle). The integer threshold
    ``freq * 500 >= total`` is exact in any engine."""
    from .operators.sketch import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(dedup._tokens(F.col("text"))).alias("token"))
    return heavy_hitters(toks, "token", inv_phi=500)


@register("tfidf_top_terms")
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 tf-idf terms (§2.13 keyword extraction): integer
    tf/df/n_docs, one ln per (doc, term), ranking over the ROUNDED score
    with term tie-break — deterministic at any parallelism."""
    from .operators.retrieval import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, k=5)


@register("ngram_lm_perplexity")
def ngram_lm_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM add-1 perplexity per document (§2.13 corpus-quality
    scoring a la CCNet/Gopher): train the count tables on the corpus, score
    every document. Two keyed aggs to train, two vocabulary-sized
    equi-joins + one per-doc agg to score; the per-doc log-prob sum is a
    fixed-point LONG sum (REPRO.md pattern), so the value is deterministic
    at any parallelism and engine. Train + score run in ONE tokenize pass
    (the fused operator; r9 verdict #5) — bit-identical to the composed
    train_ngram_lm + score_perplexity, same oracle."""
    from .operators.lm import ngram_lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return ngram_lm_perplexity(docs, n=2, k=1)


@register("span_dedup")
def span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup stats (§2.13, Lee et al. 'Deduplicating
    Training Data' at span granularity): split each document into
    non-overlapping 20-word spans, mark every span occurrence that repeats
    an identical earlier span (first occurrence by (doc_id, span_idx)
    wins), report per-doc duplication. One shuffle on the span sha256 (a
    uniform key), integer-derived ratio — exact in any engine."""
    span_w = 20
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"), F.split(T.norm_text(F.col("text")), " ").alias("t")
    )
    spans = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int((size(t)-1)/{span_w})), s -> "
                    f"struct(cast(s AS long) AS span_idx, "
                    f"array_join(slice(t, s*{span_w}+1, {span_w}), ' ') AS span_text))"
                )
            ).alias("sp"),
        )
        .select(
            "doc_id",
            F.col("sp.span_idx").alias("span_idx"),
            F.sha2(F.col("sp.span_text"), 256).alias("span_hash"),
        )
    )
    w = Window.partitionBy("span_hash").orderBy("doc_id", "span_idx")
    flagged = spans.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("long")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("is_dup").alias("n_dup_spans"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
    )


def _mp4_clips(
    spark: SparkSession, sf_dir: str, codec: str = "jpeg"
) -> DataFrame:
    """Deterministic MP4 fixtures, one clip per doc_id < 200:
    1-4 flat gray frames (value (i*13 + j*29) % 256), w=2+i%5, h=1+i%3;
    every even doc gets an interleaved PCM audio track FIRST in moov, so
    hdlr-based track selection is load-bearing. ``codec`` selects the
    sample payloads: Motion-JPEG ('jpeg') or MPEG-4 Part 2 intra
    ('mp4v', qp=4 so flat frames are exactly recoverable)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import mp4 as M

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = int(2 + i % 5), int(1 + i % 3)
                frames = [
                    np.full(
                        (h, w, 3), int((i * 13 + j * 29) % 256), dtype=np.uint8
                    )
                    for j in range(int(1 + i % 4))
                ]
                rows.append(
                    {
                        "doc_id": int(i),
                        "content": M.encode_mp4(
                            frames,
                            fps=25,
                            audio_track=bool(i % 2 == 0),
                            codec=codec,
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    return docs.mapInPandas(_make, schema="doc_id long, content binary")


@register("mp4_frame_sample")
def mp4_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF (MP4) Motion-JPEG demux + decode (§2.13): the sample table
    (stsz/stsc/stco arithmetic, chunks of 2 samples so the stsc run
    expansion is exercised) locates every frame, the first hdlr='vide'
    track is selected past an interleaved audio track, every 2nd frame is
    decoded by the from-spec T.81 JPEG decoder. Flat q=8 quantization
    makes flat frames exactly recoverable, so the oracle replays
    (frame_idx, width, height, luma) with generate_series — an offset
    miscalculation, stsc drift, or track mixup all mismatch."""
    from .operators import multimodal as mm

    clips = _mp4_clips(spark, sf_dir)
    feats = mm.video_frame_features(clips, every_n=2, id_col="doc_id")
    return feats.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    ).orderBy("doc_id", "frame_idx")


@register("mp4v_frame_sample")
def mp4v_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-4 Part 2 INTRA decode e2e (§2.13, the r7 codec rung): the same
    BMFF demux as mp4_frame_sample but with 'mp4v' sample entries — every
    2nd I-VOP is decoded from the bitstream by the from-spec subset codec
    (operators/mpeg4.py: VOL/VOP headers, MCBPC/CBPY/DC VLCs, gradient DC
    prediction, H.263 dequant, IDCT). qp=4 keeps dc_scaler at 8 so flat
    frames reconstruct exactly and the oracle replays (frame_idx, width,
    height, luma) in closed form — a VLC table error, DC-prediction
    drift, or dequant mistake all mismatch."""
    from .operators import multimodal as mm

    clips = _mp4_clips(spark, sf_dir, codec="mp4v")
    feats = mm.video_frame_features(clips, every_n=2, id_col="doc_id")
    return feats.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    ).orderBy("doc_id", "frame_idx")


@register("mp4_stream_info")
def mp4_stream_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-only MP4 metadata scan (§2.13): codec fourcc, geometry, frame
    count and duration from the moov sample tables WITHOUT touching sample
    bytes — the cheap first pass a 100 TB multimodal corpus runs to decide
    what to decode. Arrow mapInPandas; one row per clip."""
    from collections.abc import Iterator

    import pandas as pd

    from .operators.mp4 import mp4_stream_info

    clips = _mp4_clips(spark, sf_dir)

    def _info(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):  # no per-row Series (iterrows) in the hot path
                info = mp4_stream_info(bytes(r["content"]))
                if info is None:
                    continue
                rows.append(
                    {
                        "doc_id": int(r["doc_id"]),
                        "codec": info["codec"],
                        "width": info["width"],
                        "height": info["height"],
                        "n_frames": info["n_frames"],
                        "duration_s": info["duration_s"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "width", "height", "n_frames",
                    "duration_s",
                ],
            )

    return clips.mapInPandas(
        _info,
        schema=(
            "doc_id long, codec string, width int, height int, "
            "n_frames int, duration_s double"
        ),
    ).orderBy("doc_id")


@register("mp3_stream_info")
def mp3_stream_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio (MP3) frame-header metadata scan (§2.13): ID3v2 skip,
    header walk (frame length from the 32-bit header alone), Xing/VBR
    detection, duration/bitrate arithmetic — the index pass over an audio
    corpus that never entropy-decodes a granule (`operators/mp3.py`).
    Fixtures cycle MPEG-1/MPEG-2 versions, rates, channel modes and tag
    layouts; the oracle replays the framing arithmetic exactly."""
    from collections.abc import Iterator

    import pandas as pd

    from .operators.mp3 import encode_mp3_silence, mp3_stream_info

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rates = (44100, 48000, 32000, 22050)
        brs = (128, 192, 320, 64)
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                m = int(i % 4)
                b = encode_mp3_silence(
                    n_frames=int(5 + i % 20),
                    bitrate_kbps=brs[m],
                    sample_rate=rates[m],
                    channels=1 if i % 2 else 2,
                    id3v2_bytes=64 if i % 3 == 0 else 0,
                    id3v1=bool(i % 5 == 0),
                )
                info = mp3_stream_info(b)
                if info is None:
                    continue
                info["doc_id"] = int(i)
                rows.append(info)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "version", "layer", "sample_rate", "channels",
                    "n_frames", "duration_s", "nominal_bitrate_kbps",
                    "avg_bitrate_kbps", "mode", "has_id3v2", "has_id3v1",
                    "audio_bytes",
                ],
            )

    out = docs.mapInPandas(
        _make,
        schema=(
            "doc_id long, version string, layer int, sample_rate int, "
            "channels int, n_frames int, duration_s double, "
            "nominal_bitrate_kbps int, avg_bitrate_kbps double, "
            "mode string, has_id3v2 boolean, has_id3v1 boolean, "
            "audio_bytes long"
        ),
    )
    return out.select(
        "doc_id", "version", "layer", "sample_rate", "channels", "n_frames",
        F.round("duration_s", 6).alias("duration_s"),
        "nominal_bitrate_kbps",
        F.round("avg_bitrate_kbps", 6).alias("avg_bitrate_kbps"),
        "mode", "has_id3v2", "has_id3v1", "audio_bytes",
    ).orderBy("doc_id")


@register("quality_classifier_scores")
def quality_classifier_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words logistic-regression quality classifier (§2.13,
    the fasttext-style corpus-quality model of GPT-3/CCNet pipelines):
    self-supervised labels from the heuristic quality score, 5 full-batch
    GD steps (each one distributed pass aggregating a D+1-row gradient),
    then a shuffle-free scoring pass with the weights as a literal array.
    Iterative (driver applies the step), so rows-only by contract; the
    fixed-point gradient sums make the weights bit-identical under any
    partitioning (tests/test_classifier.py holds a numpy twin to it)."""
    from .operators.classifier import (
        doc_features,
        quality_labels,
        train_and_score_logreg,
    )

    docs = _t(spark, sf_dir, "documents")
    dim = 256
    feats = doc_features(docs, dim=dim)
    labels = quality_labels(docs)
    # r13: train+score composed through the operator that persists the
    # feature relation across its two consumers (it was derived twice)
    # and folds the doc-count job into the first gradient pass — see
    # classifier.train_and_score_logreg; output bit-identical.
    scored = train_and_score_logreg(feats, labels, dim=dim, iters=5)
    return (
        scored
        .join(labels, "doc_id")
        .select("doc_id", "prob", "predicted", "label")
        .orderBy("doc_id")
    )


@register("kneser_ney_perplexity")
def kneser_ney_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document (§2.13 — the
    smoothing CCNet-grade LM filters actually use). Continuation counts
    are three more vocabulary-sized aggregates joining on the same gram
    keys; d=0.75 is binary-exact so the float expression tree is
    bit-identical across engines; per-doc sums are fixed-point longs.
    One tokenize pass via the fused operator (r9 verdict #5)."""
    from .operators.lm import ngram_lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return ngram_lm_perplexity(docs, n=2, smoothing="kn")


@register("bloom_decontaminate")
def bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination (§2.13): same exact
    output as decontaminate_ngrams, but the eval side ships as a
    fixed-size bit table (m/8 bytes broadcast) instead of raw shingles —
    the posture for an eval suite too large to broadcast as strings. The
    corpus drops Bloom-rejected shingles map-side BEFORE any join; the
    exact verify join on the candidate remnant kills false positives, so
    the oracle is plain exact-overlap SQL (src1 as the held-out set)."""
    from .operators.corpus import bloom_ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("source") == "src1")
    rest = docs.filter(F.col("source") != "src1")
    return bloom_ngram_decontaminate(rest, eval_df, n=4).orderBy("doc_id")


@register("dsir_selection")
def dsir_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling selection (§2.13, arXiv:2302.03169):
    docs from src0 play the target set; every other doc gets a log
    importance weight over hashed unigram+bigram features (add-1-smoothed
    target vs raw bucket distributions, both D-row broadcasts) and a
    deterministic selected flag. Per-bucket log-ratios quantize to
    fixed-point longs before the per-doc sum — bit-identical in any
    engine; the DuckDB oracle runs the same arithmetic."""
    from .operators.dsir import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    return dsir_log_weights(raw, target, dim=4096).orderBy("doc_id")


@register("substring_dup_spans")
def substring_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication spans (§2.13, Lee et al. semantics at
    word granularity): maximal token runs covered by 15-token windows
    occurring more than once anywhere in the corpus. One shuffle on the
    window string, one on the doc id for the gaps-and-islands merge;
    all-integer output — exact in any engine."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.substring_dup_spans(docs, min_len=15).orderBy(
        "doc_id", "span_start"
    )


@register("token_budget_mix")
def token_budget_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfill token-budget allocation across sources (§2.13 — the
    '<= N epochs per source' mixture rule of large pretraining runs):
    budget = 2x corpus tokens, caps = 4 epochs per source; closed-form
    waterfilling over the bounded per-source count table (two cumulative
    windows + one conditional aggregate, no iteration). Integer caps and
    prefix sums; one integer-derived double division — engine-exact."""
    from .operators.mixing import waterfill_allocation

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source",
            F.size(F.split(T.norm_text(F.col("text")), " ")).alias("__w"),
        )
        .groupBy("source")
        .agg(F.sum("__w").alias("tokens"))
    )
    budget = counts.agg(
        (F.lit(2) * F.sum("tokens")).alias("budget")
    )
    return waterfill_allocation(counts, budget, max_epochs=4).orderBy("source")


@register("webm_stream_info")
def webm_stream_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebM/Matroska (EBML) metadata scan (§2.13): doctype, duration,
    per-track codec/geometry/rate from the EBML index WITHOUT touching
    Cluster frame data (`operators/webm.py`) — the third container leg
    next to AVI and MP4. VP8/VP9/Opus bitstream decode genuinely needs
    libvpx/libopus and stays behind the codec stub."""
    from collections.abc import Iterator

    import pandas as pd

    from .operators.webm import encode_webm_stub, webm_stream_info

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id")
    )
    vcodecs = ("V_VP8", "V_VP9", "V_AV1")
    acodecs = ("A_OPUS", "A_VORBIS")
    rates = (48000.0, 44100.0, 16000.0)

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                b = encode_webm_stub(
                    duration_s=(1 + i % 10) / 4.0,
                    width=int(320 + 16 * (i % 5)),
                    height=int(240 + 16 * (i % 3)),
                    video_codec=vcodecs[i % 3],
                    audio_rate=rates[i % 3],
                    audio_codec=acodecs[i % 2],
                )
                info = webm_stream_info(b)
                if info is None:
                    continue
                info["doc_id"] = int(i)
                rows.append(info)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "doctype", "duration_s", "n_tracks",
                    "video_codec", "width", "height", "audio_codec",
                    "audio_rate",
                ],
            )

    return docs.mapInPandas(
        _make,
        schema=(
            "doc_id long, doctype string, duration_s double, n_tracks int, "
            "video_codec string, width int, height int, audio_codec string, "
            "audio_rate double"
        ),
    ).orderBy("doc_id")


@register("ogg_stream_info")
def ogg_stream_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg container metadata scan (§2.13): page walk per RFC 3533, codec
    identification from BOS packets (OpusHead / Vorbis ID header),
    duration from the terminal granule position — no packet decode
    (`operators/ogg.py`). Opus granules are fixed 48 kHz; Vorbis rate
    comes from the ID header."""
    from collections.abc import Iterator

    import pandas as pd

    from .operators.ogg import encode_ogg_stub, ogg_stream_info

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                if i % 2 == 0:
                    b = encode_ogg_stub(
                        codec="opus",
                        duration_s=(1 + i % 8) / 4.0,
                        channels=int(1 + i % 2),
                    )
                else:
                    b = encode_ogg_stub(
                        codec="vorbis",
                        duration_s=(1 + i % 8) / 4.0,
                        rate=44100 if i % 4 == 1 else 16000,
                        channels=int(1 + i % 2),
                    )
                info = ogg_stream_info(b)
                if info is None:
                    continue
                info["doc_id"] = int(i)
                rows.append(info)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "channels", "sample_rate",
                    "duration_s", "n_pages", "n_streams",
                ],
            )

    return docs.mapInPandas(
        _make,
        schema=(
            "doc_id long, codec string, channels int, sample_rate int, "
            "duration_s double, n_pages int, n_streams int"
        ),
    ).orderBy("doc_id")


@register("tiff_decode_features")
def tiff_decode_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode differential check (§2.13): a flat-color baseline
    uncompressed TIFF per document — byte order AND strip layout cycle
    with doc_id (LE/BE, single/multi-strip), decoded by the from-spec
    IFD walker (`operators/tiff.py`) through the shared
    `decode_image_features` path. Lossless, so the oracle replays the
    Rec.601 luma exactly; an endian mix-up, strip-offset error, or
    RGB/BGR swap all drift the output."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .operators import multimodal as mm
    from .operators import tiff as TF

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = int(1 + i % 9), int(2 + i % 4)
                bgr = [int(i % 256), int((i * 5) % 256), int((i * 11) % 256)]
                px = np.tile(np.array(bgr, dtype=np.uint8), (h, w, 1))
                rows.append(
                    {
                        "doc_id": int(i),
                        "content": TF.encode_tiff(
                            px,
                            big_endian=bool(i % 2),
                            rows_per_strip=2 if i % 3 == 0 else None,
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    tiffs = docs.mapInPandas(_make, schema="doc_id long, content binary")
    feats = mm.decode_image_features(tiffs, id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register("zip_manifest")
def zip_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP central-directory manifest over a binary column (§2.13 + K9's
    inverse): per-doc zips with STORED entries (deterministic bytes →
    deterministic CRC32) are listed without decompressing payloads
    (`sinks/archive.py::zip_manifest`). The oracle replays entry names
    and sizes (CRC32 stays operator-side — no SQL twin for the
    polynomial; the unit test checks it against zlib)."""
    from collections.abc import Iterator

    import pandas as pd

    from .sinks.archive import zip_manifest

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import zipfile

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                    for j in range(int(1 + i % 3)):
                        zf.writestr(
                            f"rec{j}.h5", bytes([int((i + j) % 256)]) * (10 + j)
                        )
                rows.append({"doc_id": int(i), "content": buf.getvalue()})
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    zips = docs.mapInPandas(_make, schema="doc_id long, content binary")
    return (
        zip_manifest(zips, id_col="doc_id")
        .select(
            "doc_id", "entry_name", "uncompressed_size",
            "compressed_size", "method",
        )
        .orderBy("doc_id", "entry_name")
    )


@register("profit_by_nation_year")
def profit_by_nation_year_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 SHAPE (product-type profit measure): 5-way join
    lineitem⋈part(LIKE filter)⋈supplier⋈nation⋈orders, grouped by nation
    and order year, decimal-exact profit. The fixture set has no partsupp
    table, so supply cost is surrogated as 10% of retail price x quantity
    — the plan shape (LIKE-filtered dimension, two broadcast dims, one
    fact shuffle, partial aggs) is the point; documented divergence."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    qty = F.col("l_quantity").cast(_DEC)
    retail = F.col("p_retailprice").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    tenth = F.lit(0.1).cast(_DEC)
    profit = price * (one - disc) - tenth * retail * qty
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@register("supplier_count_by_part_attrs")
def supplier_count_by_part_attrs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 SHAPE (parts/supplier relationship): distinct-supplier
    count per (brand, type, size) over negated predicates (<> brand,
    NOT LIKE type) and a NOT-IN supplier exclusion subquery (anti-join).
    lineitem's (partkey, suppkey) pairs stand in for partsupp (absent
    from the fixture set); the exclusion predicate is s_acctbal < 1500
    (the fixture supplier table has no comment column). Shapes: one
    anti-join, one distinct count keyed on bounded part attrs."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).distinct()
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin([3, 9, 14, 19, 23, 36, 45, 49])
    )
    excluded = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1500
    ).select(F.col("s_suppkey").alias("suppkey"))
    return (
        li.join(F.broadcast(part), "p_partkey")
        .join(excluded, "suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("suppkey").alias("supplier_cnt"))
    )


@register("promo_supplier_candidates")
def promo_supplier_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 SHAPE (potential part promotion): suppliers who shipped
    more than 80 units of 'small%' parts during 1995, as a semi-join
    chain part(prefix LIKE) → lineitem(date range, per-supplier qty
    HAVING) → supplier ⋈ nation. The availqty comparison of real Q20
    needs partsupp (absent); the shipped-quantity threshold keeps the
    grouped-HAVING-feeds-semi-join plan shape."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("__qty"))
        .filter(F.col("__qty") > F.lit(80).cast(_DEC))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.join(heavy, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_name"), F.col("n_name").alias("nation"),
            F.col("s_acctbal"),
        )
        .orderBy("s_name")
    )


@register("warc_manifest")
def warc_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC archive manifest scan (§2.13 — the Common Crawl ingestion
    leg): per-doc archives (a warcinfo record + a response record whose
    payload is the document's UTF-8 text; even docs use per-record gzip
    members, the .warc.gz convention — stdlib zlib decompresses them for
    real) parsed by `operators/warc.py`, emitting record type/URI/lengths
    and payload sha256. The oracle replays every field including the
    sha256 of the text payload."""
    from collections.abc import Iterator

    import pandas as pd

    from .operators.warc import encode_warc, warc_manifest

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                i = int(r["doc_id"])
                recs = [
                    ("warcinfo", "", "application/warc-fields",
                     b"software: spark-graft\r\n"),
                    ("response", f"http://corpus.example/doc/{i}",
                     "text/plain", str(r["text"]).encode("utf-8")),
                ]
                rows.append(
                    {
                        "doc_id": i,
                        "content": encode_warc(
                            recs, gzip_members=bool(i % 2 == 0)
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    archives = docs.mapInPandas(_make, schema="doc_id long, content binary")
    return warc_manifest(archives, id_col="doc_id").orderBy(
        "doc_id", "rec_idx"
    )


# ---------------------------------------------------------------------------
# Corpus-cleaning heuristics (Gopher / C4 / PII) — operators/cleaning.py
# ---------------------------------------------------------------------------


@register("gopher_quality")
def gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 A1.1): the seven
    signals plus the conjunctive keep flag, all JVM column expressions
    (pure projection, zero shuffles — scales linearly at 100 TB)."""
    from .operators.cleaning import gopher_quality as _gq

    return _gq(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("c4_line_filter")
def c4_line_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): retained-line
    counts, cleaned-text md5, and the document keep flag. Array
    higher-order functions only — no explode, no shuffle."""
    from .operators.cleaning import c4_clean

    return c4_clean(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("pii_redaction")
def pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: email/IPv4/SSN/phone counts + redacted-text md5 under a
    fixed-order regexp_replace chain (identical bytes in both engines)."""
    from .operators.cleaning import pii_redaction as _pii

    return _pii(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("line_dedup_first_wins")
def line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup: global first occurrence wins
    (ordered by doc_id, position); blank lines bypass the dedup so the
    shuffle has no degenerate hot key."""
    from .operators.cleaning import line_dedup

    return line_dedup(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("doc_chunks")
def doc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (RAG / context packing): 64-word windows
    every 48 words via sequence+slice — shuffle-free, explode after the
    per-doc starts are computed."""
    from .operators.cleaning import doc_chunks

    return doc_chunks(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id", "chunk_id"
    )


@register("embedding_topk_pq")
def embedding_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. 2011): m subspace
    codebooks + integer lookup-table scoring — the compressed-index scale
    path for similarity search. Approximate vs embedding_topk (recall <
    1), but FULLY oracle-verified: the fixed-point training iterations,
    encoding, and ADC tables are unrolled as SQL CTEs and match
    bit-for-bit."""
    from .operators.pq import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return pq_topk(emb, queries_df, k=5)


@register("order_value_percentiles")
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles (p50/p90/p99, linear interpolation)
    of order value per priority class — Spark's exact `percentile`
    aggregate (sort-based, JVM) vs DuckDB's quantile_cont. Money is
    summed nowhere: percentiles are order statistics, so cross-engine
    float drift can't accumulate; round(…,4) guards the interpolation
    ulp."""
    orders = _t(spark, sf_dir, "orders")
    pct = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(pct.getItem(0), 4).alias("p50"),
            F.round(pct.getItem(1), 4).alias("p90"),
            F.round(pct.getItem(2), 4).alias("p99"),
        )
        .orderBy("o_orderpriority")
    )


@register("order_status_pivot")
def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts per priority pivoted over
    o_orderstatus values — Spark's groupBy().pivot() with an explicit
    value list (no extra distinct-values job) compiling to a single
    hash-agg pass of conditional counts."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


@register("supplier_pagerank")
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point PageRank (5 Pregel-style iterations) over
    the undirected customer–supplier purchase graph; top suppliers by
    centrality. Integer rank arithmetic → the oracle replays every
    iteration with unrolled CTEs and matches bit-for-bit."""
    from .operators.graph import PR_SCALE, pagerank, purchase_graph_edges

    edges = purchase_graph_edges(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    pr = pagerank(edges, iters=5)
    return (
        pr.filter(F.col("node") % 2 == 1)
        .select(
            F.expr("(node - 1) div 2").alias("s_suppkey"),
            "irank",
            # 9 → 6 decimals in integer space (half-up) so both engines
            # round the same exact integer, not a drifting double
            (F.expr("(irank + 500) div 1000") / F.lit(1_000_000.0)).alias("rank"),
        )
        .orderBy(F.desc("irank"), "s_suppkey")
        .limit(25)
    )


@register("event_funnel")
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis over the event stream: users who viewed,
    then clicked strictly after their first view, then purchased strictly
    after that first qualifying click. Three keyed min-aggregations +
    equi-joins — no windows over the full stream, no per-user sort."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ).select("stage", "n_users")

    return (
        stage("1_view", v)
        .unionByName(stage("2_click_after_view", c))
        .unionByName(stage("3_purchase_after_click", p))
        .orderBy("stage")
    )


@register("ccnet_perplexity_buckets")
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning (Wenzek et al. 2020): rank every
    document by LM perplexity and split into head/middle/tail terciles.
    The global rank is computed scale-safely (range repartition +
    per-partition offsets — operators/ranking.py), never a single-
    partition window; the bucket rule is integer arithmetic mirrored
    verbatim by the oracle."""
    from .operators.lm import ngram_lm_perplexity
    from .operators.ranking import global_rank, rank_buckets

    docs = _t(spark, sf_dir, "documents")
    # r12 (verdict r11 #5): the FUSED single-gram-pass operator with its
    # materializing posture — occ persisted, the gram-type count table
    # checkpointed, scored checkpointed (doc-count-sized). The r10 A/B
    # that kept this query composed measured the fused-LAZY form: its
    # corpus-sized occ exchange re-derived per KN count-table consumer
    # (881.8 s vs composed 774.6 s cold at doc-skew 100x). Materialized,
    # the corpus is tokenized once and shuffled once — measured numbers
    # in SCALE.md r12. Bit-identical output (shared scoring tail), so
    # the oracle is unchanged. Under plan-audit mode the call is fully
    # lazy and the audited plan carries the whole fused lineage.
    scored = ngram_lm_perplexity(docs, n=2, smoothing="kn", materialize=True)
    total = scored.count()
    ranked = global_rank(
        scored.select("doc_id", "perplexity"),
        [F.asc("perplexity"), F.asc("doc_id")],
    )
    return rank_buckets(
        ranked, total, 3, labels=["head", "middle", "tail"]
    ).orderBy("rank")


@register("per_lang_sample")
def per_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum top-k sample: k=20 docs per language,
    selected by sha256 order (stable across engines, runs, and layouts —
    no RNG). Two-phase bounded top-k: no task ever sorts a whole
    language, only its own partition's slice."""
    from .operators.ranking import bounded_topk_per_group

    docs = _t(spark, sf_dir, "documents")
    h = F.sha2(F.col("doc_id").cast("string"), 256)
    picked = bounded_topk_per_group(
        docs.select("doc_id", "lang", h.alias("pick_hash")),
        ["lang"],
        [F.asc("pick_hash"), F.asc("doc_id")],
        20,
        rank_col="pick_rank",
    )
    return picked.withColumn(
        "pick_rank", F.col("pick_rank").cast("long")
    ).orderBy("lang", "pick_rank")


@register("tpch_q2_min_cost_supplier")
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape within the fixture schema (no partsupp table —
    lineitem is the part↔supplier link): for each BRAND#1 part, the
    supplier selling it at the lowest average unit price inside one
    region. The correlated min-subquery compiles to a window over the
    part key — one shuffle, no self-join (same rewrite the reference's
    lifecycle 'first match wins' used, J4)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    unit = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(_DEC))
                / F.sum(F.col("l_quantity").cast(_DEC))
            ).alias("unit_cost_d")
        )
        .withColumn("unit_cost", F.round(F.col("unit_cost_d").cast("double"), 4))
        .drop("unit_cost_d")
    )
    scoped = (
        unit.join(part, unit.l_partkey == part.p_partkey)
        .join(supp, unit.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("unit_cost"), F.asc("s_suppkey")
    )
    return (
        scoped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey", "p_name", "s_name", "n_name", "unit_cost"
        )
        .orderBy("p_partkey")
    )


@register("tpch_q11_important_stock")
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part revenue share vs a scalar threshold
    (0.1% of the regional total) — the grouped-agg + scalar-subquery
    pattern. The 1-row total broadcasts; the fact shuffles once on the
    part key; money stays DECIMAL until the final cast."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    scoped = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    per_part = scoped.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).alias("value_d")
    )
    total = per_part.agg(
        F.sum(F.col("value_d")).alias("total_d")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_d") > F.col("total_d") * 0.001)
        .select(
            "l_partkey",
            F.col("value_d").cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


@register("purchase_attribution")
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributed to the same user's
    most recent click at-or-before it (the as-of join again, this time
    event-to-event). Clicks are first reduced to one per (user, instant)
    so the as-of winner is unambiguous in both engines."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    return (
        asof_join(
            purchases,
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="click_ts",
            payload_cols=("click_id", "click_ts"),
        )
        .orderBy("event_id")
    )


@register("purchase_attribution_bucketed")
def purchase_attribution_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of `purchase_attribution` (r8): as-of forward fill
    is LOCF state, so it decomposes over (user, day) — fill within the
    bucket, inherit the last non-null click of previous present buckets
    via an O(present-buckets) per-user stitch. Identical winner per row;
    shares the oracle verbatim."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    return (
        asof_join(
            purchases,
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="click_ts",
            payload_cols=("click_id", "click_ts"),
            bucket="1 day",
        )
        .orderBy("event_id")
    )


@register("cohort_retention")
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by signup week, counted in
    each later activity week. Two keyed aggs + one equi-join — the
    classic product-analytics rollup, all JVM date arithmetic."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_w"))
    )
    act = (
        ev.join(s, "user_id")
        .select(
            "user_id",
            F.col("cohort_w"),
            F.date_trunc("week", F.col("ts")).alias("act_w"),
        )
        .filter(F.col("act_w") >= F.col("cohort_w"))
        .distinct()
    )
    return (
        act.groupBy(
            F.col("cohort_w").alias("cohort_week"),  # timestamp (driver canon)
            (
                F.datediff(F.col("act_w").cast("date"), F.col("cohort_w").cast("date"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register("char_entropy")
def char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per doc (compression-style quality
    signal): histogram terms quantise to fixed-point longs before the
    order-free integer sum — entropy becomes oracle-exact."""
    from .operators.cleaning import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("embedding_topk_ivfpq")
def embedding_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (coarse k-means cells + product-quantized residuals + ADC):
    the composite index structure real vector stores run. Approximate
    (probes 2 of 8 cells), yet FULLY oracle-verified — coarse training,
    residual codebooks, probing, and ADC scores are all fixed-point and
    unrolled as SQL CTEs."""
    from .operators.ivfpq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ivfpq_topk(emb, queries_df, k=5)


@register("embedding_topk_ivfpq_hotsplit")
def embedding_topk_ivfpq_hotsplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the hot-cell sub-split (r9 verdict #3): coarse cells
    over ``max_cell_size`` members re-cluster in place (fixed-point
    level-2 k-means, the kmeans_assign_hierarchical discipline) so a
    dup-dense corpus's near-identical mass cannot turn one probed cell
    into an unbounded rerank. Residuals, probing, and candidates key on
    (cell, sub); the full composite — including the data-dependent split
    membership — replays as unrolled SQL CTEs."""
    from .operators.ivfpq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ivfpq_topk(emb, queries_df, k=5, n_probe=3, max_cell_size=64)


@register("kmv_distinct_users")
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k cardinality sketch per event type: engine-independent
    sha256 arithmetic (unlike HLL), mergeable, and oracle-EXACT — the
    estimate is a pure function of the k smallest distinct hashes."""
    from .operators.sketch import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", k=64, group_col="event_type").orderBy(
        "event_type"
    )


@register("kmv_click_purchase_overlap")
def kmv_click_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations on KMV sketches: estimated distinct
    click-users, purchase-users, their union and intersection — no exact
    distinct join, deterministic sha256 arithmetic, oracle-exact."""
    from .operators.sketch import kmv_set_ops

    ev = _t(spark, sf_dir, "events")
    return kmv_set_ops(
        ev, "user_id", "event_type", "click", "purchase", k=64
    )


@register("event_value_histogram")
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type: integer bin ids
    from floor arithmetic (no width_bucket engine differences), one hash
    agg with map-side partials."""
    ev = _t(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 5.0).cast("long")
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bin")
    )


@register("price_quantity_regression")
def price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS + Pearson correlation of extended price on quantity
    per return flag — all five moments are EXACT integer sums (values
    quantised to cents), so slope/intercept/r are identical double
    expressions over identical integers in both engines (no engine
    corr()/covar() with order-dependent co-moment updates)."""
    li = _t(spark, sf_dir, "lineitem")
    # cents-quantised, then DECIMAL moments: the products n*sxy etc. exceed
    # int64 at scale; DECIMAL(38,0) keeps them exact (mirrors the oracle's
    # HUGEINT sums), cast to double only after the exact combination
    x = F.round(F.col("l_quantity") * 100).cast("long").cast("decimal(19,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("long").cast("decimal(19,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    d38 = "decimal(38,0)"
    n = F.col("n").cast(d38)
    sx, sy = F.col("sx").cast(d38), F.col("sy").cast(d38)
    sxy, sxx, syy = (
        F.col("sxy").cast(d38),
        F.col("sxx").cast(d38),
        F.col("syy").cast(d38),
    )
    cov_n = (n * sxy - sx * sy).cast("double")
    var_x = (n * sxx - sx * sx).cast("double")
    var_y = (n * syy - sy * sy).cast("double")
    slope = cov_n / var_x
    return agg.select(
        "l_returnflag",
        F.col("n"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (sy.cast("double") - slope * sx.cast("double")) / n.cast("double") / 100.0,
            4,
        ).alias("intercept"),
        F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("r"),
    ).orderBy("l_returnflag")


@register("corpus_prep_e2e")
def corpus_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-prep pipeline (pipeline/corpus.py): raw → line
    dedup → quality gate → PII redaction → exact dedup, with per-stage
    document and token accounting. Every stage is an already-verified
    operator, and the composed oracle replays the whole chain."""
    from .pipeline.corpus import corpus_prep_stages

    return corpus_prep_stages(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Time-series resampling + entity resolution (operators/timeseries.py, entity.py)
# ---------------------------------------------------------------------------


@register("timeseries_gapfill")
def timeseries_gapfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample (operators/timeseries.py): per-user hourly
    grid over the event span with fixed-point-exact bucket means, LOCF and
    linear interpolation. Windows run over the GRID (bounded by span/step),
    never over raw events — the shape that holds at 100 TB. Generalises
    the reference's G1 day-window bucketing (utils.py cut-off grouping)."""
    from .operators.timeseries import resample_gapfill

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    return resample_gapfill(ev, "user_id", "ts", "value", step="1 hour")


@register("event_transition_matrix")
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions over per-user event sequences
    (operators/timeseries.py::transition_counts): lag window on (ts,
    event_id) then a keyed count + per-source share."""
    from .operators.timeseries import transition_counts

    return transition_counts(_t(spark, sf_dir, "events"))


@register("event_transition_matrix_bucketed")
def event_transition_matrix_bucketed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-proof twin of `event_transition_matrix`: within-bucket lag
    pairs + per-present-bucket stitch pairs, identical counts and shares.
    Shares the oracle verbatim."""
    from .operators.timeseries import transition_counts

    return transition_counts(_t(spark, sf_dir, "events"), bucket="1 day")


@register("fuzzy_name_pairs")
def fuzzy_name_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (operators/entity.py): part-name pairs
    within 4 edits, candidates from a first-token + length-band block so
    the Levenshtein verify never goes all-pairs. The approximate
    counterpart of the reference's exact-hash record identity (J1/X1)."""
    from .operators.entity import blocked_fuzzy_pairs

    parts = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return blocked_fuzzy_pairs(parts, "p_name", "p_partkey", max_dist=4)


@register("analyze_table_stats")
def analyze_table_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics (operators/stats.py): row/null/
    distinct counts and typed extrema for CBO-grade metadata in ONE
    aggregation pass, unpivoted to a row per column. The exact-NDV
    variant (oracle-checkable); ``exact=False`` is the one-pass HLL path
    for 100 TB."""
    from .operators.stats import table_stats

    li = _t(spark, sf_dir, "lineitem")
    return table_stats(
        li,
        ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"],
    )


@register("incremental_revenue_mv")
def incremental_revenue_mv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/mview.py):
    the pricing-summary MV maintained as prev-state ⊕ delta-state (split
    on a ship-date cutoff) instead of a full recompute. The oracle IS the
    full recompute — the merge must be indistinguishable. Sums ride
    DECIMAL so the merged totals are order-exact. Upgrades the
    reference's per-run full worklist recompute (dags/dreem.py pollers)."""
    from .operators.mview import agg_state, merge_states

    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    qty = F.col("l_quantity").cast(_DEC)
    cutoff = F.lit("1997-01-01").cast("date")
    keys = ["l_returnflag", "l_linestatus"]
    sums = {"revenue": rev, "sum_qty": qty}
    prev = agg_state(li.filter(F.col("l_shipdate") < cutoff), keys, sums)
    delta = agg_state(li.filter(F.col("l_shipdate") >= cutoff), keys, sums)
    return merge_states(prev, delta, keys).select(
        *keys,
        "n",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
    )


@register("time_weighted_avg")
def time_weighted_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (operators/timeseries.py): the LOCF
    step-function integral over each user's event span — the correct
    summary for irregularly-sampled sensor feeds (a plain mean
    over-weights sample bursts). Exact micro-unit × epoch-micros integer
    arithmetic; one output division."""
    from .operators.timeseries import time_weighted_avg

    return time_weighted_avg(_t(spark, sf_dir, "events"))


@register("event_anomaly_zscore")
def event_anomaly_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score anomalies per event type. The z reduces to
    ``(qv·n − sx) / sqrt(n·sxx − sx²)`` over quantized integer moments —
    numerator exact, denominator a single correctly-rounded sqrt of an
    exact integer, so the score is bit-identical cross-engine (the
    price_quantity_regression moment discipline applied to outlier
    detection). Emits |z| ≥ 2.5 rows."""
    ev = _t(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    qv = F.round(F.col("value") * 1_000_000).cast("long")
    base = ev.select("event_id", "event_type", "value", qv.alias("qv"))
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qv").cast(d38)).alias("sx"),
        F.sum(F.col("qv").cast(d38) * F.col("qv").cast(d38)).alias("sxx"),
    )
    n, sx, sxx = F.col("n").cast(d38), F.col("sx"), F.col("sxx")
    z = (F.col("qv").cast(d38) * n - sx).cast("double") / F.sqrt(
        (n * sxx - sx * sx).cast("double")
    )
    return (
        base.join(F.broadcast(m), "event_type")
        .withColumn("z_raw", z)
        .filter(F.abs(F.col("z_raw")) >= 2.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("z_raw", 6).alias("z"),
        )
    )


@register("supplier_reachability")
def supplier_reachability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS (operators/graph.py::bfs_hops) over the undirected
    customer–supplier purchase graph from customer #1: per-iteration
    frontier⋈edges + visited anti-join, hop labels exact integers. The
    oracle replays it as a DuckDB depth-bounded recursive CTE with a
    MIN(hops) rollup."""
    from .operators.graph import bfs_hops, purchase_graph_edges

    edges = purchase_graph_edges(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    seeds = spark.createDataFrame([(2,)], "node long")  # customer 1 -> 2*1
    return bfs_hops(edges, seeds, max_hops=2)


@register("value_equidepth_histogram")
def value_equidepth_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of event values — the CBO
    selectivity structure equal-WIDTH bins can't provide on skewed data.
    Exact global order via the distributed `global_rank` (no
    single-partition window), integer bucket rule, per-bucket count and
    min/max bounds."""
    from .operators.ranking import global_rank, rank_buckets

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    total = ev.count()
    ranked = global_rank(ev, [F.col("value"), F.col("event_id")])
    b = rank_buckets(ranked, total, 10)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register("key_skew_report")
def key_skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (operators/skew.py): hottest event keys
    with share and uniform-ratio — the observability pass run before
    choosing salt counts / AQE skew thresholds. Top-k via the two-phase
    partition-bounded rank (no single-partition window over the distinct
    -key relation)."""
    from .operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), "user_id", top_k=10)


@register("cusum_drift")
def cusum_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-drift detection (operators/timeseries.py): the
    sequential-looking recursion S_i = max(0, S_{i-1} + x_i - mean) in
    its closed window form S = prefix_sum - running_min — two stock
    windows, exact decimal(38) integers end-to-end, thresholds compared
    in integers."""
    from .operators.timeseries import cusum_drift

    return cusum_drift(_t(spark, sf_dir, "events"), threshold=100.0)


@register("rolling_zscore_anomaly")
def rolling_zscore_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly per user: each event scored against its
    own trailing-24-event window (current row excluded) — the LOCAL
    complement of cusum_drift's global level-shift detector. Rolling
    moments are exact integer window sums; z is one correctly-rounded
    sqrt + one division (REPRO.md pattern 8). Only full windows score."""
    from .operators.timeseries import rolling_zscore

    return rolling_zscore(_t(spark, sf_dir, "events"), k=24, z_threshold=3.0)


@register("time_weighted_avg_bucketed")
def time_weighted_avg_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of `time_weighted_avg` (r8, heartbeat_gaps lead-
    stitch family): hold intervals are in-bucket lead deltas plus one
    boundary interval per consecutive present (user, day); the LOCF
    integral is a plain sum of those contributions. Exact integers →
    bit-identical; shares the oracle verbatim."""
    from .operators.timeseries import time_weighted_avg

    return time_weighted_avg(_t(spark, sf_dir, "events"), bucket="1 day")


@register("cusum_drift_bucketed")
def cusum_drift_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of `cusum_drift` (r8): the recursion is nonlinear
    but its closed form is two running aggregates of the deviation
    prefix, and BOTH decompose over (user, day) — bucket-local prefix
    sum/min, an O(present-buckets) per-user offset/min stitch, then a
    join back on the skew-diluted (user, day) key. Exact decimal(38,0)
    throughout → bit-identical output; shares the oracle verbatim."""
    from .operators.timeseries import cusum_drift

    return cusum_drift(
        _t(spark, sf_dir, "events"), threshold=100.0, bucket="1 day"
    )


@register("rolling_zscore_bucketed")
def rolling_zscore_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of `rolling_zscore_anomaly` (r8): the trailing-k
    moment sums are differences of inclusive prefix sums, the per-user
    global row index and both moment prefixes decompose over (user, day)
    like the distributed prefix sum, and ONE equi-join on
    (user, idx−k−1) fetches the lagging prefix — no per-user global
    sort. Exact integers → bit-identical; shares the oracle verbatim."""
    from .operators.timeseries import rolling_zscore

    return rolling_zscore(
        _t(spark, sf_dir, "events"), k=24, z_threshold=3.0, bucket="1 day"
    )


@register("value_distribution_drift")
def value_distribution_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between the first and second half of the event stream
    (operators/stats.py::distribution_drift): 20 equi-width value bins,
    add-one smoothing, per-bin (p−q)·ln(p/q) terms quantised to fixed
    point. The feature-monitoring op a 100 TB training pipeline runs
    between data refreshes."""
    from .operators.stats import distribution_drift

    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-07-01").cast("timestamp")
    return distribution_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        "value",
        lo=0.0,
        hi=500.0,
        n_bins=20,
    )


@register("event_gaps_report")
def event_gaps_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence/heartbeat gap report per user: consecutive-event intervals
    exceeding one hour, from a single lead window over epoch-microsecond
    integers. The batch form of wearable-feed outage detection (the
    reference polls devices and has no way to see silence; this surfaces
    it as data)."""
    from .operators.timeseries import heartbeat_gaps

    return heartbeat_gaps(_t(spark, sf_dir, "events"), min_gap_s=3600)


@register("event_gaps_report_bucketed")
def event_gaps_report_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of `event_gaps_report` (same family as
    sessionization_bucketed): within-bucket lead pairs + one stitch pair
    per consecutive present (user, day) — identical output, hot user
    spread over its buckets. Shares the oracle verbatim."""
    from .operators.timeseries import heartbeat_gaps

    return heartbeat_gaps(
        _t(spark, sf_dir, "events"), min_gap_s=3600, bucket="1 day"
    )


@register("funnel_latency_percentiles")
def funnel_latency_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel edge (view→click,
    click→purchase): per-user first-transition timestamps via three keyed
    min-aggregations (the event_funnel construction — no per-user sort),
    then exact sort-based percentiles over integer second latencies."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t = lambda c: F.unix_micros(F.col(c))  # noqa: E731

    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )
    lat_vc = c.select(
        F.lit("view_to_click").alias("edge"),
        ((F.unix_micros("t2") - F.unix_micros("t1")) / F.lit(1_000_000.0)).alias("lat_s"),
    )
    lat_cp = p.select(
        F.lit("click_to_purchase").alias("edge"),
        ((F.unix_micros("t3") - F.unix_micros("t2")) / F.lit(1_000_000.0)).alias("lat_s"),
    )
    pct = lambda q: F.round(F.expr(f"percentile(lat_s, {q})"), 6)  # noqa: E731
    return (
        lat_vc.unionByName(lat_cp)
        .groupBy("edge")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pct(0.5).alias("p50"),
            pct(0.9).alias("p90"),
            pct(0.99).alias("p99"),
        )
    )
