"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 +
the beyond-reference LLM-pipeline operators) over the driver's
TPC-H-ish testdata; ``oracle_sql()`` gives the DuckDB-equivalent SQL
for every SQL-expressible query. Column names/aliases match exactly —
the driver sorts columns by name before value-hashing.

Conventions shared by both sides:
- dates/hours returned as strings (avoids timestamp-type mismatches);
- every aggregated double is ROUNDed (driver tolerance 1e-3);
- deterministic tie-breaks on every top-k.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators import dedup as D
from wroclaw_bike_stats_spark.operators import fanout as FAN
from wroclaw_bike_stats_spark.operators import scratch
from wroclaw_bike_stats_spark.operators import similarity as SIM
from wroclaw_bike_stats_spark.operators import text as T

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    The driver's ``events.parquet`` stores ``ts`` as INT64
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    (PARQUET_TYPE_ILLEGAL). ``nanosAsLong`` makes Spark surface the
    raw nanos as a long; we convert to a proper TimestampType via
    microseconds so ``to_date``/``hour`` behave normally. The conf is
    settable at runtime on any session (including the driver-owned
    one), so this works regardless of who built the session.
    """
    # No conf mutation here: the session tz (UTC) and nanosAsLong are
    # pinned once at the session-acquisition boundary (_acquire, which
    # every public entry point routes through) — read helpers stay
    # free of global side effects.
    if name == "events":
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer `div`, not `/1000`: epoch-nanos exceed double's
            # 53-bit mantissa, so float division can shift the value by
            # ±1µs. `div` truncates exactly, matching how DuckDB (the
            # oracle) narrows TIMESTAMP(NANOS) to micros.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet reads as
            # NTZ in Spark 4. The engine's semantic (session.py) is
            # naive==UTC, so with the session tz pinned to UTC this
            # cast is value-preserving and downstream unix_micros /
            # window arithmetic behaves as TimestampType.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _gate(reason: str):
    """Mark a query as a contract/verification gate: its Spark work
    deliberately includes the exact or brute-force baseline that
    certifies an approximate operator. ``bench.py`` sums these apart
    as ``gate_total`` (audit cost, not engine throughput); ``reason``
    says what the query recomputes."""

    def mark(fn):
        fn.gate = reason
        return fn

    return mark


def _shared_warm(reason: str):
    """Mark a query whose bench timing is warmed by a session-shared
    intermediate built earlier in the same run (by a sibling query or
    by its own first rep). Each intermediate is built once per run and
    results do not depend on order, but the per-query number is not a
    standalone cold latency; the build cost is in ``shared_build_sec``.
    ``reason`` names the intermediate."""

    def mark(fn):
        fn.shared_warm = reason
        return fn

    return mark


# ---------------------------------------------------------------------------
# Relational core — TPC-H-ish shapes covering SURVEY §2.2–§2.7 operator
# classes (filters, projections, broadcast joins, hash aggs, full-outer
# combine, window lag diff, top-k with tie-breaks, set ops, rollup).


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A6 analog: multi-aggregate hash aggregation with filter
    pushdown (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 + K1 analog: 3-way join, agg, deterministic top-10."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join with two broadcast dims + agg (TPC-H Q5 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 tie-break contract: top-5 customers by order count,
    count DESC then name ASC."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .select("c_name", "n_orders", "total_spent")
        .orderBy(F.desc("n_orders"), F.asc("c_name"))
        .limit(5)
    )


def q_filter_project_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O10–O12 analog: predicate + projection, pushdown-friendly."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        (F.col("p_size") > 20) & F.col("p_type").contains("BRASS")
    ).select("p_partkey", "p_name", "p_brand", "p_size")


def q_hourly_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/F2: hour-of-day histogram, unpadded string keys."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").cast("string").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("hour").cast("int"))
    )


def q_daily_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3–A8 analog: per-day scalar metric family in ONE grouped
    pass (conditional aggregation instead of the reference's ~10
    sequential full-scan statements)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
            F.round(F.avg("value"), 3).alias("avg_value"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchases"
            ),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "errors"
            ),
            F.countDistinct("user_id").alias("active_users"),
        )
        .orderBy("event_date")
    )


def q_user_traffic_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 + A9–A11: FULL OUTER combine of two grouped counts with
    COALESCE 0 and deterministic top-5 — native full_outer, NOT the
    reference's UNION+2-LEFT-JOIN workaround for SQLite."""
    ev = _t(spark, sf_dir, "events")
    dep = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("purchases"))
    )
    arr = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("views"))
    )
    return (
        dep.join(arr, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("purchases", F.lit(0)).alias("purchases"),
            F.coalesce("views", F.lit(0)).alias("views"),
        )
        .withColumn("total", F.col("purchases") + F.col("views"))
        .orderBy(F.desc("total"), F.asc("user_id"))
        .limit(5)
    )


def q_status_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 batch form: lag() diff keyed by user — rows where the
    event_type changed vs the previous event of the same user."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.col("event_type").alias("curr_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("curr_type"))
        )
        .select("event_id", "user_id", "prev_type", "curr_type")
    )


def q_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/K2 analog over the lag-diff: top-5 (prev→curr) transitions,
    count DESC, prev ASC, curr ASC."""
    changes = q_status_change_events(spark, sf_dir)
    return (
        changes.groupBy("prev_type", "curr_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy(F.desc("n_transitions"), F.asc("prev_type"), F.asc("curr_type"))
        .limit(5)
    )


def q_union_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION (distinct) of two key sets."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "view").select("user_id")
    return a.union(b).distinct()


def q_user_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min/arg-max aggregates (min_by/max_by ≡ DuckDB arg_min/
    arg_max): each user's first and last event type in ONE grouped
    pass — no window, no self-join. The ordering key is a zero-padded
    (epoch_us, event_id) string because composite arg-min keys aren't
    portable; lexicographic == numeric for fixed-width non-negatives."""
    ev = _t(spark, sf_dir, "events")
    key = F.format_string(
        "%020d-%020d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.min_by("event_type", key).alias("first_type"),
            F.max_by("event_type", key).alias("last_type"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


def q_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 family: INTERSECT of two key sets (users who both purchased
    and errored)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


def q_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 family: EXCEPT (distinct) — users who viewed but never
    purchased."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.subtract(b)  # EXCEPT (distinct semantics)


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


def q_rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (status, priority)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Wider TPC-H query-shape coverage: outer-join double aggregation (Q13),
# HAVING on an aggregate (Q18), scalar-subquery filters (Q11/Q22), semi-join
# with an inequality (Q4), dual-dimension-path join (Q7), conditional-share
# aggregation (Q14), analytic windows (rank / cumulative / moving), pivot.
# All shuffles are on high-cardinality keys; every dim-side join is an
# explicit broadcast; scalar aggregates join via broadcast of a 1-row plan —
# shapes that hold unchanged at 100 TB.


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join preserving order-less customers,
    then a second aggregation over the per-customer counts. The first
    agg shuffles on c_custkey (high cardinality); the second groups the
    tiny (count → customers) distribution."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_large_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped sum prunes the fact side
    *before* the join back to orders/customer — at scale the join input
    is the handful of large orders, not the whole lineitem table."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
    )


def q_suppliers_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11/Q15 shape: scalar aggregate (avg supplier revenue) as a
    broadcast 1-row join — no driver collect, no correlated re-scan."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    sr = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_raw")
    )
    avg_rev = sr.agg(F.avg("rev_raw").alias("avg_rev"))
    return (
        sr.join(F.broadcast(avg_rev))
        .filter(F.col("rev_raw") > F.col("avg_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier["s_suppkey"])
        .select("s_name", F.round("rev_raw", 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("s_name"))
    )


def q_rich_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (loosened: the testdata has no order-less rich
    customers, so the anti-join leg — covered by
    ``customers_without_orders`` — is dropped): scalar subquery over
    positive balances gates the rows, then a per-nation rollup."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation share per ship month.
    Only (p_partkey, p_type) is broadcast, not the whole part table."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


def q_order_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join with an inequality
    across both sides (shipped >60 days after ordering)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li["l_orderkey"] == orders["o_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q_shipping_volume_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the fact row reaches one nation dim through
    supplier and another through orders→customer; both dim chains are
    broadcast so the only shuffle is the lineitem⋈orders join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = ["NATION_1", "NATION_2"]
    return (
        li.join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            F.col("supp_nation").isin(pair)
            & F.col("cust_nation").isin(pair)
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_revenue_rank_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic rank: top-3 customers by spend within each nation.
    rank() over a 25-partition window AFTER the per-customer agg — the
    window input is |customers| rows, not |orders|."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        spend.join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .select("n_name", "c_name", "c_custkey", "revenue")
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_name", "revenue", "rnk")
        .orderBy("n_name", "rnk", "c_name")
    )


def q_running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic running/moving frames: cumulative spend and a 3-order
    moving average per customer, deterministic (date, orderkey) order.
    Sampled to custkey % 100 == 0 to keep the gate result small; the
    window shape is unchanged at full cardinality.

    Window sums run on exact integer CENTS, not doubles: windowed
    double addition is association-order-dependent (Spark accumulates
    sequentially, other engines use segment trees), and at sf0.1 three
    rows landed within an ulp of a .005 round boundary. Integer sums
    are exact, and the single fp division afterwards is IEEE-identical
    across engines."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = base.rowsBetween(-2, Window.currentRow)
    return (
        orders.withColumn("cents", cents)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("order_price"),
            (F.sum("cents").over(cum).cast("double") / 100.0).alias(
                "running_total"
            ),
            # Integer round-half-up of the mean cent value:
            # floor((2s+n)/(2n)). No fp round() anywhere — engines
            # disagree on round() of doubles one ulp from a boundary.
            (
                F.floor(
                    (2 * F.sum("cents").over(mov) + F.count(F.lit(1)).over(mov))
                    / (2 * F.count(F.lit(1)).over(mov))
                ).cast("double")
                / 100.0
            ).alias("moving_avg3"),
        )
        .orderBy("o_custkey", "o_date", "o_orderkey")
    )


def q_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts as priority × status matrix. Explicit pivot
    value list keeps the plan a single pass (no distinct-values
    pre-query) — required at scale."""
    orders = _t(spark, sf_dir, "orders")
    p = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    ).orderBy("o_orderpriority")


def q_distinct_event_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: ordered distinct calendar dates."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"))
        .distinct()
        .orderBy("event_date")
    )


def q_latest_event_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: max calendar date."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd").alias("latest_date")
    )


def q_range_reagg_busiest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: the reference UI's *approximate* range re-aggregation —
    re-aggregate per-day top-5 lists (not base data), then top-5
    overall. Users outside a day's top-5 are invisible by design."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    per_day = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_date").orderBy(F.desc("n_events"), F.asc("user_id"))
    daily_top5 = per_day.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )
    return (
        daily_top5.groupBy("user_id")
        .agg(F.sum("n_events").alias("total_events"))
        .orderBy(F.desc("total_events"), F.asc("user_id"))
        .limit(5)
    )


RANGE_START, RANGE_END = "2024-01-05", "2024-01-20"
# Same range as raw-timestamp bounds: date(ts) ∈ [START, END] ⟺
# ts ∈ [START 00:00, END+1day 00:00). Filtering on RAW ts (not the
# derived date string) lets the predicate push to the parquet scan —
# at scale the range query reads only the range, not all history.
RANGE_TS_LO, RANGE_TS_HI = "2024-01-05 00:00:00", "2024-01-21 00:00:00"


def _events_in_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bounded events scan. The ts conversion in ``_t`` (nanos
    long → timestamp) would block pushdown — a predicate on a derived
    column never reaches the scan — so the bounds are applied to the
    RAW nanos column first (plain long comparisons, pushed to parquet
    row-group pruning), then converted."""
    import calendar
    import datetime as _dt

    # Session tz/nanosAsLong are pinned at the _acquire boundary (the
    # string range literals below coerce to timestamp using the
    # session tz at action time — UTC by contract here).
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        # Filter on the RAW ntz column (literal coerced to ntz, pushed
        # to parquet row-group pruning), THEN cast — a predicate on the
        # cast column would not reach the scan.
        return raw.filter(
            (F.col("ts") >= F.lit(RANGE_TS_LO).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(RANGE_TS_HI).cast("timestamp_ntz"))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type != "bigint":
        ev = _t(spark, sf_dir, "events")
        return ev.filter((F.col("ts") >= RANGE_TS_LO) & (F.col("ts") < RANGE_TS_HI))

    def _ns(s: str) -> int:
        t = _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
        return calendar.timegm(t.timetuple()) * 1_000_000_000

    return raw.filter(
        (F.col("ts") >= _ns(RANGE_TS_LO)) & (F.col("ts") < _ns(RANGE_TS_HI))
    ).withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def q_range_series_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 analog: per-day (date, value) line series over a date range
    — the UI's range metric series (reference web/js/app.js:151–153,
    211–212), value coalesced to 0. Range predicate on raw ts →
    pushed to the scan."""
    return (
        _events_in_range(spark, sf_dir)
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"))
        .agg(F.coalesce(F.round(F.sum("value"), 3), F.lit(0.0)).alias("value"))
        .orderBy("event_date")
    )


def q_range_hist_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 analog: hourly histogram averaged over the range's days —
    sum per hour ÷ number of days with data, half-up rounded, all 24
    hours zero-filled (reference web/js/app.js:155–163)."""
    in_range = _events_in_range(spark, sf_dir).select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"),
        F.hour("ts").alias("h"),
    )
    per_hour = in_range.groupBy("h").agg(F.count(F.lit(1)).alias("total"))
    n_days = in_range.select(
        F.countDistinct("event_date").alias("n")
    )
    hours = spark.range(24).select(F.col("id").cast("int").alias("h"))
    return (
        hours.join(per_hour, "h", "left")
        .crossJoin(F.broadcast(n_days))  # 1-row scalar, not a data join
        .select(
            F.col("h").cast("string").alias("hour"),
            F.round(
                F.coalesce(F.col("total"), F.lit(0)) / F.greatest("n", F.lit(1))
            )
            .cast("long")
            .alias("avg_events"),
        )
        .orderBy(F.col("hour").cast("int"))
    )


def q_range_reagg_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 + F8 analog: re-aggregate per-day top-5 transition lists
    keyed by the "prev → curr" label (reference web/js/app.js:183–194;
    label app.js:185) — approximate by design: transitions outside a
    day's top-5 are invisible."""
    from pyspark.sql import Window

    changes = q_status_change_events(spark, sf_dir)
    # The lag window must see FULL history (a change's prev event may
    # precede the range), but the date-lookup side prunes to the range
    # — raw-ts bounds push to this scan; the join then drops
    # out-of-range changes.
    ev = _events_in_range(spark, sf_dir).select(
        "event_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date")
    )
    per_day = (
        changes.join(ev, "event_id")
        .groupBy("event_date", "prev_type", "curr_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_date").orderBy(
        F.desc("n"), F.asc("prev_type"), F.asc("curr_type")
    )
    daily_top5 = per_day.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )
    return (
        daily_top5.groupBy(
            F.concat_ws(" → ", "prev_type", "curr_type").alias("route")
        )
        .agg(F.sum("n").cast("long").alias("n_transitions"))
        .orderBy(F.desc("n_transitions"), F.asc("route"))
        .limit(5)
    )


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event gets the latest
    purchase timestamp of the same user at-or-before its own ts —
    union + keyed window, one shuffle, no inequality join. Oracle uses
    DuckDB's native ASOF LEFT JOIN."""
    from wroclaw_bike_stats_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    purchases = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
    )
    joined = asof_join(ev, purchases, on="ts", by="user_id", right_cols=["ts"])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("last_purchase_ts"),
    )


def q_range_join_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): for each error event,
    count same-user events inside its 1-hour window [ts, ts+1h) —
    bin-pruned equi-join, never a nested-loop inequality join."""
    from wroclaw_bike_stats_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.select(
        F.col("event_id"), "user_id", F.unix_timestamp("ts").alias("pt")
    )
    windows = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_event_id"),
            F.col("user_id").alias("w_user"),
            F.unix_timestamp("ts").alias("w_start"),
            (F.unix_timestamp("ts") + 3600).alias("w_end"),
        )
        .withColumnRenamed("w_user", "user_id")
    )
    matched = range_join(
        points, windows, point_col="pt", start_col="w_start",
        end_col="w_end", by="user_id", bin_width=3600,
    )
    return (
        matched.groupBy("error_event_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("error_event_id")
    )


def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-rollup shape: 6-hour tumbling-window aggregate via
    Spark's native F.window (the same construct Structured Streaming
    uses for windowed aggs — batch and streaming share it)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "n_events",
            "total_value",
        )
        .orderBy("bucket_start")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/sessionize.py): 30-min
    inactivity closes a session; per-session rollup. One shuffle on
    user_id for the windows + the rollup."""
    from wroclaw_bike_stats_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return session_stats(ev, on="ts", by="user_id", gap_seconds=1800).select(
        "user_id",
        "session_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.col("n_events"),
        F.col("duration_s").cast("long").alias("duration_s"),
    )


def q_cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, day-of-week)."""
    ev = _t(spark, sf_dir, "events")
    return (
        # dow as STRING: a nullable int column round-trips as float
        # through pandas on the oracle side and breaks value compare
        ev.cube("event_type", F.dayofweek("ts").cast("string").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("dow").asc_nulls_first()
        )
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark percentile
    ≡ DuckDB quantile_cont; both linear interpolation)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_user_count_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog-family distinct-user sketch per event type —
    approx_count_distinct (no SQL oracle: engines use different sketch
    algorithms; the ≤5%-relative-error contract vs the exact count is
    asserted in tests/test_sessionize_salting.py)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators over documents / embeddings.


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs).orderBy("fingerprint")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        T.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        T.token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
        F.round(T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.round(T.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_guess"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(T.quality_score(F.col("text")), 2).alias("quality")
    )


def q_gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule signals (operators/text.py
    gopher_quality_stats; Rae et al. 2021 §A1.1) — one narrow
    codegen projection per doc."""
    docs = _t(spark, sf_dir, "documents")
    return T.gopher_quality_stats(docs).orderBy("doc_id")


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule conjunction through the DEFAULT route (r13:
    ``impl="auto"`` → the Arrow pass here, since the word-length/
    stopword bounds are HOF-binding) — the gate attests what callers
    actually get; the native scan-pushed shape stays byte-parity
    pinned in tests/test_gopher_quality.py. Word floor lowered for
    the short synthetic docs; same bounds in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    kept = T.gopher_quality_filter(
        docs, min_words=5, min_mean_word_len=1.0
    ).select("doc_id")
    # r15: orderBy range-sample double-compute (the multimodal_decode
    # pattern) — the sample job re-ran the Arrow rule pass (~0.37 s
    # single-task ×2 per collect). One pass per execution.
    return kept.localCheckpoint(eager=False).orderBy("doc_id")


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch contract gate (operators/sketch.py; Cormode &
    Muthukrishnan 2005). The sketch itself is hash-defined (not
    SQL-expressible) but its CONTRACT is: estimate ≥ exact count
    always, and ≤ exact + ⌈(e/w)·N⌉ (deterministic under the fixed
    xxhash64 row seeds). The top-20 exact counts ARE SQL-computable,
    so the oracle checks real numbers plus the two invariants as
    literals — same pattern as minhash_recall."""
    import math

    from wroclaw_bike_stats_spark.operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    stream = SK._term_stream(docs, "text")
    exact = stream.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), "term").limit(20)
    sk = SK.cms_build(docs, width=2048, depth=4)
    est = SK.cms_estimate(top, sk)
    ntot = stream.agg(F.count(F.lit(1)).alias("_n"))
    bound = F.ceil(F.lit(math.e / 2048) * F.col("_n"))
    return (
        top.join(est, "term")
        .crossJoin(F.broadcast(ntot))
        .select(
            "term",
            "exact_cnt",
            (F.col("cms_count") >= F.col("exact_cnt")).alias("lower_ok"),
            (F.col("cms_count") <= F.col("exact_cnt") + bound).alias(
                "within_upper"
            ),
        )
        .orderBy(F.desc("exact_cnt"), "term")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.fingerprint_md5(F.col("text")).alias("fingerprint")
    )


@_shared_warm("shared pair graph (_ngram_pairs_shared)")
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df_cap=100 is the stop-shingle guard: shingles in >100 docs are
    dropped from index AND size counts (mirrored in the oracle CTE) —
    without it one ubiquitous shingle re-quadratizes the join.

    Served from the SHARED pair-graph cache (``_ngram_pairs_shared``):
    the same exact-pair result feeds this gate plus the components /
    dedup-keep gates, so the inverted-index join runs once per
    (session, sf) no matter which consumer goes first — before r05
    only the components gates read the cache and this gate's cost
    depended on gate ordering (the r03↔r04 0.25 s↔2.1 s swing).
    Dropped at ``release_shared()``; order-independence is pinned by
    test_shared_cache_gates_are_order_independent."""
    return _ngram_pairs_shared(spark, sf_dir)


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table (operators/profile.py):
    per-column nulls / exact distincts / native-typed min-max, ONE
    scan for all columns."""
    from wroclaw_bike_stats_spark.operators.profile import profile_columns

    orders = _t(spark, sf_dir, "orders")
    return profile_columns(orders)


def q_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / stddev / variance / covariance)
    per group — single grouped pass, all JVM-native."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 3).alias("qty_var"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf·idf characteristic terms (operators/text.py
    tfidf_top_terms): tf/df aggs on their natural keys, shuffle join
    on term (vocab not assumed broadcastable), per-doc top-3 window."""
    docs = _t(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs, top_n=3).orderBy("doc_id", "rn")


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 terms by document frequency
    (operators/text.py term_document_frequency). Per-doc distinct
    before the explode shuffle; top-k, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    return T.term_document_frequency(docs, top_n=20)


def q_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (single-pass mergeable sketch) — the
    scale path beside the exact ``value_quantiles`` gate: one narrow
    pass + tiny merge instead of a full sort. No SQL oracle (sketch
    internals are engine-specific); |approx − exact| ≤ 1% of range is
    asserted in tests/test_sessionize_salting.py."""
    ev = _t(spark, sf_dir, "events")
    qs = [0.5, 0.9, 0.99]
    agg = ev.agg(F.percentile_approx("value", qs, 10000).alias("q"))
    return agg.select(
        *[
            F.round(F.col("q")[i], 3).alias(f"p{int(p * 100)}")
            for i, p in enumerate(qs)
        ]
    )


def _ngram_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact near-dup pair graph (df_cap=100). It feeds three gate
    queries (ngram_jaccard itself, components, dedup-keep), so it is a
    shared asset built once per (session, corpus version)."""
    return scratch.shared_frame(
        spark, sf_dir, "ngram_pair_graph",
        lambda: D.ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), n=3, threshold=0.5, df_cap=100
        ),
    )


def shared_build_sec() -> dict:
    """name → measured build seconds (plan construction plus eager
    materialization) of every shared asset built since the last
    ``release_shared()``. One-time builds land inside rep 1 of their
    first consumer, which min-of-reps discards, so without this record
    the build cost appears in no reported number."""
    return scratch.build_sec()


def release_shared() -> None:
    """Drop every shared asset and scratch intermediate (see
    operators/scratch.py). Safe to call between queries: consumers
    rebuild on next use. A resident service (or the bench, after its
    run) calls this so no persisted RDDs outlive their consumers."""
    scratch.release()


def _components_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC fixpoint over the shared pair graph, shared by two gates.
    Its result is checkpoint-backed (already materialized), so sharing
    it skips a full re-run of the iteration."""
    from wroclaw_bike_stats_spark.operators.components import connected_components

    pairs = _ngram_pairs_shared(spark, sf_dir)
    return scratch.shared_value(
        spark, sf_dir, "components", lambda: connected_components(pairs)
    )


@_shared_warm("shared components (_components_shared)")
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact near-dup pair graph
    (operators/components.py): iterative hash-min label propagation,
    one shuffle per round, lineage cut per round. component_id = min
    doc_id in the component. Oracle: recursive CTE reachability."""
    return (
        _components_shared(spark, sf_dir)
        .select(F.col("node").alias("doc_id"), "component_id")
        .orderBy("doc_id")
    )


@_shared_warm("shared components (_components_shared)")
def q_neardup_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup closure: the corpus minus non-canonical near-dup cluster
    members (keep = min doc_id per component + all singletons).
    Reuses the shared CC result — the fixpoint runs once per
    (session, sf), not once per consumer."""
    from wroclaw_bike_stats_spark.operators.components import keep_canonical

    docs = _t(spark, sf_dir, "documents")
    return keep_canonical(
        docs, comps=_components_shared(spark, sf_dir)
    ).select("doc_id").orderBy("doc_id")


@_gate("runs banded and exact components to compare them")
@_shared_warm("scratch-persisted banded pair set")
def q_banded_components_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-level contract for the banded candidate route of
    ``operators/dedup.py neardup_components`` (the sf100 escape from
    the exact pair join's cost): banded pairs are exact-verified LSH
    candidates, so (1) every banded edge is an exact edge, (2) edge
    recall ≥ 0.9 (the minhash_recall floor), and (3) REFINEMENT —
    each banded component's nodes all carry ONE exact component_id
    (LSH can split a cluster it under-recalls, never merge two).
    Exact side (n_exact_pairs) is the capless shingle CTE; the three
    invariants are the deterministic booleans Spark must reproduce."""
    from wroclaw_bike_stats_spark.operators.components import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    exact = _ngram_pairs_shared(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("_e")
    )
    # r16: the banded pair set feeds BOTH the subset/recall full-outer
    # join AND the banded-CC arm below — un-persisted, the band-bucket
    # self-join + verify ran once per consumer, and the un-materialized
    # edge list forced connected_components onto the two-phase fixpoint
    # (~15 scheduler-barrier jobs for a few-hundred-edge graph at the
    # bench sf). Scratch-persist it: one pair-join computation per
    # session, and CC takes the bounded driver resolve for small
    # persisted edge lists (components.py — larger graphs route to the
    # unchanged two-phase machinery). Profiled 30 → 11 warm jobs.
    banded_pairs = scratch.persist(D.minhash_dedup_pairs(docs, threshold=0.5))
    lsh = banded_pairs.select("id_a", "id_b", F.lit(1).alias("_l"))
    j = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    both = F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1))
    edges = j.agg(
        F.count("_e").alias("n_exact_pairs"),
        (F.count(F.when(F.col("_l").isNotNull() & F.col("_e").isNull(), 1)) == 0)
        .alias("banded_subset_of_exact"),
        (
            (F.count("_e") == 0)
            | (both / F.greatest(F.count("_e"), F.lit(1)) >= 0.9)
        ).alias("recall_ge_090"),
    )
    bc = connected_components(banded_pairs, rebalance_edges=True).select(
        "node", F.col("component_id").alias("_bc")
    )
    ec = _components_shared(spark, sf_dir).select(
        "node", F.col("component_id").alias("_ec")
    )
    refinement = (
        bc.join(ec, "node")
        .groupBy("_bc")
        .agg(F.countDistinct("_ec").alias("_ne"))
        .agg(
            F.coalesce(F.max("_ne") <= 1, F.lit(True)).alias("refinement_ok")
        )
    )
    return edges.crossJoin(F.broadcast(refinement))


@_gate("runs the auto route and the exact components to compare them")
@_shared_warm("shared components (_components_shared)")
def q_neardup_route_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract gate for the ``candidate_route="auto"`` default
    (operators/dedup.py pick_neardup_route), SCALE-SAFE since round
    10: the r09 version hard-coded "gate corpus is under the 20k
    crossover", so at any sf with >20k documents the row went red by
    construction. Now every boolean is an IFF against the measured
    corpus size, so the gate is green at ANY sf while still pinning
    both probe arms:

    - ``probe_matches_bound`` — probe(documents) picks exact IFF the
      corpus is ≤ NEARDUP_EXACT_MAX_DOCS;
    - ``probe_banded_above_bound`` — probe over a SECOND frame
      (lineitem keyed rows, >20k at the driver's sf0.01) picks
      banded IFF that frame exceeds the bound: the banded arm is
      exercised on a real over-bound frame at gate scale, so a
      regressed probe cannot silently route everything exact;
    - ``hint_zero_job_arms_ok`` — the round-10 ``n_docs`` hint path
      at the exact boundary (bound → exact, bound+1 → banded),
      zero-job by construction;
    - ``routes_agree_in_exact_regime`` / ``n_pair_nodes_exact_regime``
      — in the exact regime the default call must be BYTE-IDENTICAL
      to the pinned-exact shared components (full-outer node
      comparison + the node count the oracle recomputes); in the
      banded regime both are the documented sentinels (TRUE / -1 —
      component equality is NOT the banded contract; refinement is,
      gated by ``banded_components_refinement``), mirrored by the
      oracle's CASE on the same corpus-size predicate."""
    from wroclaw_bike_stats_spark.operators.dedup import (
        NEARDUP_EXACT_MAX_DOCS,
        neardup_components,
        pick_neardup_route,
    )

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    route = pick_neardup_route(docs, n_docs=n)
    in_exact_regime = n <= NEARDUP_EXACT_MAX_DOCS

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("doc_id")
    )
    n_li = li.count()
    # deliberately NO n_docs hint here: this call exercises the
    # probe's own df.count() branch — the path every default-arg
    # caller hits — so a regression confined to that branch cannot
    # pass the gate green (the docs-side call above covers the hint
    # branch)
    li_route = pick_neardup_route(li)

    probe_matches_bound = (route == "exact") == in_exact_regime
    probe_banded_above_bound = (li_route == "banded") == (
        n_li > NEARDUP_EXACT_MAX_DOCS
    )
    hint_arms_ok = (
        pick_neardup_route(docs, n_docs=NEARDUP_EXACT_MAX_DOCS) == "exact"
        and pick_neardup_route(docs, n_docs=NEARDUP_EXACT_MAX_DOCS + 1)
        == "banded"
    )
    flags = [
        F.lit(bool(probe_matches_bound)).alias("probe_matches_bound"),
        F.lit(bool(probe_banded_above_bound)).alias(
            "probe_banded_above_bound"
        ),
        F.lit(bool(hint_arms_ok)).alias("hint_zero_job_arms_ok"),
    ]
    if not in_exact_regime:
        return spark.range(1).select(
            F.lit(-1).cast("long").alias("n_pair_nodes_exact_regime"),
            F.lit(True).alias("routes_agree_in_exact_regime"),
            *flags,
        )
    auto = neardup_components(
        docs, threshold=0.5, df_cap=100, n_docs=n
    ).select("node", F.col("component_id").alias("_ca"))
    exact = _components_shared(spark, sf_dir).select(
        "node", F.col("component_id").alias("_ce")
    )
    j = auto.join(exact, "node", "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_pair_nodes_exact_regime"),
        (
            F.count(
                F.when(
                    F.col("_ca").isNull()
                    | F.col("_ce").isNull()
                    | (F.col("_ca") != F.col("_ce")),
                    1,
                )
            )
            == 0
        ).alias("routes_agree_in_exact_regime"),
        *flags,
    )


@_shared_warm("plan-keyed MinHash scratch (operators/dedup)")
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs — ORACLE-BACKED since r13 via the
    ``base_hash="md5"`` audit arm (the simhash move applied to
    MinHash): shingle base hash = first 8 bytes of md5(shingle), so
    DuckDB replays the ENTIRE pipeline — signatures under the same
    seeded affine permutation constants (scheme literals in the SQL),
    banded candidates by 4-value slice equality, exact-Jaccard verify
    of candidates only. The fast v3 token-polynomial arm stays the
    engine default; its subset+recall contract is the oracle-backed
    minhash_recall gate. Scratch persists are dropped at
    ``release_shared()``."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(
        docs, threshold=0.5, base_hash="md5"
    ).orderBy("id_a", "id_b")


@_shared_warm("plan-keyed SimHash fingerprint scratch (operators/dedup)")
def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint groups — ORACLE-BACKED since r13.

    Two r11/r12-ordered moves made this hash-checkable: (1) ``ids``
    is emitted as a comma-joined STRING (r12 — the driver's pandas
    canonicalizer can't sort an array column); (2) the fingerprint
    runs on ``base_hash="md5"`` (r13), the one byte-level hash both
    engines expose, so DuckDB reproduces the full Charikar pipeline
    bit-for-bit: 2-token shingles (distinct, short docs → whole-doc
    shingle), base hash = first 8 bytes of md5(shingle) big-endian,
    bit b of the fingerprint = strict majority of bit b over the
    doc's shingle hashes. The engine's production arm keeps the
    vectorized pandas-siphash base hash — its contract gates are
    ``simhash_recall`` / ``simhash_exactdup_consistency``; THIS gate
    attests the grouping operator + the fingerprint pipeline on the
    audit hash. Dedup key-grouping contract per the reference's
    unique-index dedup (src/data_load_sqlite.py:213), generalized.
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        D.simhash_dedup_groups(docs, base_hash="md5")
        .select(
            "simhash",
            "n_docs",
            F.array_join(
                F.transform("ids", lambda x: x.cast("string")), ","
            ).alias("ids"),
        )
        .orderBy("simhash")
    )


@_shared_warm("plan-keyed SimHash fingerprint scratch (operators/dedup)")
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball SimHash near-dup pairs — ORACLE-BACKED since r13
    via the md5 audit arm (the simhash_groups move): banding recall
    is pigeonhole-EXACT (4 bands ≥ hamming 3 + 1), so the banded
    engine result equals the O(n²) hamming join DuckDB runs over the
    same SQL-reproduced fingerprints. The fast pandas-siphash arm
    stays the engine default; ITS banded-equals-bruteforce contract
    is the simhash_recall gate."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(
        docs, max_hamming=3, bands=4, base_hash="md5"
    ).orderBy("id_a", "id_b")


@_gate("recomputes the exact shingle pairs to check LSH subset and recall")
@_shared_warm("shared capless pair set (_ngram_pairs_capless_shared)")
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable MinHash-LSH quality gate. The LSH pipeline
    itself is hash-based (not SQL-expressible), but its CONTRACT is:
    (1) every verified LSH pair is an exact-Jaccard pair (subset), and
    (2) LSH finds ≥90% of the exact pairs (recall floor, deterministic
    under the fixed signature seed). The exact pair count IS
    SQL-computable (the shingle CTE), so the oracle checks a real
    number plus the two invariants as literals — turning the former
    rows-only "trust the local test" into a green/red driver row.

    One distributed plan: full-outer join of exact vs LSH pair sets,
    single aggregate — no driver-side set math. Capless exact side
    (df_cap=None) because the LSH verify stage is capless too; the
    capless pair set is the shared persisted stage
    (_ngram_pairs_capless_shared) the incremental recall gate also
    reads.
    """
    docs = _t(spark, sf_dir, "documents")
    exact = _ngram_pairs_capless_shared(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("_e")
    )
    lsh = D.minhash_dedup_pairs(docs, threshold=0.5).select(
        "id_a", "id_b", F.lit(1).alias("_l")
    )
    j = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    both = F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1))
    return j.agg(
        F.count("_e").alias("n_exact_pairs"),
        (F.count(F.when(F.col("_l").isNotNull() & F.col("_e").isNull(), 1)) == 0)
        .alias("lsh_subset_of_exact"),
        (both / F.greatest(F.count("_e"), F.lit(1)) >= 0.9).alias("recall_ge_090"),
    )


def _ngram_pairs_capless_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPLESS exact Jaccard pair set (df_cap=None — distinct from
    _ngram_pairs_shared's df_cap=100 graph, whose cap changes the
    result contract) — r15: persisted once per (session, sf). It is
    the exact baseline of BOTH LSH recall gates (minhash_recall,
    incremental_neardup_recall), each of which previously re-ran the
    full inverted-index self-join."""
    return scratch.shared_frame(
        spark, sf_dir, "exact_pairs_capless",
        lambda: D.ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), n=3, threshold=0.5
        ),
    )


@_gate("recomputes the O(n^2) hamming scan to check the banded join")
@_shared_warm("plan-keyed SimHash fingerprint scratch (operators/scratch)")
def q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable SimHash pigeonhole gate: the banded candidate
    join (4 bands, hamming ≤ 3) must find EXACTLY the brute-force
    hamming-ball pair set — a provable property (two fingerprints
    within hamming ≤ bands-1 agree on ≥1 whole band), here machine-
    checked per driver run rather than trusted from a local test.

    The brute-force side is a deliberate O(n²) bit_count scan — this
    is a VERIFICATION query (run at gate scale), not a production
    route; the production route is the banded equi-join. ``has_pairs``
    asserts non-vacuity (an empty pair set would make equality
    trivially true).
    """
    docs = _t(spark, sf_dir, "documents")
    # One fingerprint pass, shared by the brute-force and banded sides
    # (scratch-persisted: the later simhash_* gates hit the same
    # canonical plan through Spark's plan-keyed cache).
    sims = scratch.persist(
        docs.select(
            F.col("doc_id").alias("_id"),
            D.simhash64(F.col("text"), 2).alias("simhash"),
        )
    )
    a = sims.select(F.col("_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sims.select(F.col("_id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
        .select("id_a", "id_b", F.lit(1).alias("_b"))
    )
    banded = D.simhash_neardup_pairs(docs, max_hamming=3, bands=4, sims=sims).select(
        "id_a", "id_b", F.lit(1).alias("_n")
    )
    j = brute.join(banded, ["id_a", "id_b"], "full_outer")
    return j.agg(
        (F.count(F.when(F.col("_b").isNull() | F.col("_n").isNull(), 1)) == 0)
        .alias("banded_equals_bruteforce"),
        (F.count(F.lit(1)) > 0).alias("has_pairs"),
    )


@_gate("runs a plain join beside the salted one to compare them")
def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join exercised under REAL key skew, oracle-checked for
    parity with a plain join (functions/salting.py salted_join). The
    testdata has no hot keys, so the query manufactures one
    deterministically: 70% of event rows collapse onto skew_key=0 — a
    70k-row hot key at sf0.1 that a naive shuffle join sends to ONE
    reducer. salted_join spreads it over 16 reducers ((key, salt)
    becomes the join key; the small right side replicates 16×). The
    oracle runs the SAME join unsalted — green means salting changed
    the physical distribution and nothing else."""
    from wroclaw_bike_stats_spark.functions.salting import salted_join

    ev = _t(spark, sf_dir, "events")
    skewed = ev.withColumn(
        "skew_key",
        F.when(F.col("user_id") % 10 < 7, F.lit(0).cast("long")).otherwise(
            F.col("user_id")
        ),
    )
    dim = (
        skewed.select("skew_key")
        .distinct()
        .withColumn("weight", (F.col("skew_key") % 100) / F.lit(100.0))
    )
    joined = salted_join(skewed, dim, "skew_key", n_salts=16)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("value") + F.col("weight")), 2).alias("total"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Error-bound gates for the approximate operators. Sketch internals
# (HLL registers, KLL/GK quantile sketches, IVF probe sets) are
# engine-specific and not SQL-expressible — but their CONTRACTS are:
# the exact value IS SQL-computable, and "approx within ε of exact" is
# a deterministic boolean. Each gate returns the exact values (real
# oracle math) plus the bound check (oracle literal TRUE), converting
# "trust the local test" into a per-round green/red driver row.


@_gate("checks the two-stage distinct against COUNT(DISTINCT)")
def q_skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage skew-safe exact distinct (functions/salting.py
    count_distinct_skew_safe): stage 1 groups on (key, value) so a hot
    key's rows spread across reducers by value; stage 2 counts the
    bounded unique pairs. Exact ≡ COUNT(DISTINCT ...) — the oracle
    certifies it on the same events the hll_bounds gate sketches."""
    from wroclaw_bike_stats_spark.functions.salting import (
        count_distinct_skew_safe,
    )

    ev = _t(spark, sf_dir, "events")
    return count_distinct_skew_safe(
        ev, key="event_type", col="user_id", out="n_users"
    ).orderBy("event_type")


@_gate("recomputes the capless exact pairs to check recall")
@_shared_warm("shared capless pair set (_ngram_pairs_capless_shared)")
def q_incremental_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup gate (operators/dedup.py
    minhash_incremental_pairs): 'new batch' = every 5th doc, resident
    corpus = the rest, old side from the STORED pre-banded table (the
    scale production path — old docs are never re-hashed NOR re-banded,
    and the new-batch probe broadcasts so the stored table never
    shuffles). Invariants: the incremental result ⊆ exact new-involving
    pairs (oracle-counted via the capless shingle CTE) with recall
    ≥ 0.9."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    incr = D.minhash_incremental_pairs(
        new,
        old,
        threshold=0.5,
        old_banded=D.minhash_band_table(D.minhash_signatures(old)),
    ).select("id_a", "id_b", F.lit(1).alias("_l"))
    # r15: the capless exact pair set comes from the shared persisted
    # stage (built once per session/sf, also the minhash_recall exact
    # side) — the capless shingle CTE was this gate's dominant cost.
    exact = (
        _ngram_pairs_capless_shared(spark, sf_dir)
        .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
        .select("id_a", "id_b", F.lit(1).alias("_e"))
    )
    j = exact.join(incr, ["id_a", "id_b"], "full_outer")
    both = F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1))
    return j.agg(
        F.count("_e").alias("n_exact_cross_pairs"),
        (F.count(F.when(F.col("_l").isNotNull() & F.col("_e").isNull(), 1)) == 0)
        .alias("incr_subset_of_exact"),
        (both / F.greatest(F.count("_e"), F.lit(1)) >= 0.9).alias("recall_ge_090"),
    )


@_gate("checks n-gram decontamination against the exact shingle join")
def q_decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram decontamination gate (operators/pipeline.py
    decontaminate_ngram): drop docs sharing ANY word 5-gram with the
    eval set (every 50th doc — the decontam_docs convention; n=5
    instead of the production 13 because the synthetic docs are
    short). Strictly stronger than the exact-match decontam gate —
    near-verbatim overlaps fall out too."""
    from wroclaw_bike_stats_spark.operators.pipeline import decontaminate_ngram

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    # broadcast=True: known-small eval set — skip auto mode's n-gram
    # count job (decontam_shuffle exercises the auto/shuffle route).
    return (
        decontaminate_ngram(docs, eval_set, n=5, broadcast=True)
        .select("doc_id")
        .orderBy("doc_id")
    )


@_shared_warm("eval-set Bloom bitset standing asset (_bloom_shared)")
def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter n-gram decontamination (operators/pipeline.py
    decontaminate_ngram_bloom): same semantics — and the SAME oracle —
    as decontam_ngram, reached through a broadcast Bloom bitset + one
    narrow corpus probe pass + hashed-shingle verification of the
    suspect sliver only. The route for blocklists too large to
    broadcast as a hash relation (false negatives impossible, so
    verify=True equals the exact result up to 64-bit shingle-hash
    collisions — the module's documented tolerance, same as the
    ngram_jaccard gates)."""
    from wroclaw_bike_stats_spark.operators.pipeline import (
        decontaminate_ngram_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    return (
        decontaminate_ngram_bloom(
            docs, eval_set, n=5, bloom=_bloom_shared(spark, sf_dir)
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def _bloom_shared(spark: SparkSession, sf_dir: str) -> tuple:
    """The eval-set Bloom bitset (n=5) — a STANDING ASSET (the
    operator docstring's "at scale build it once outside the plan"),
    built once per (session, sf) through the same hashed-shingle
    table the operator uses internally, fed back via the r15
    ``bloom=`` precomputed-stage hook. Without this, every call re-ran
    the eager build jobs (gram count + map/treeReduce) at
    plan-construction time."""
    from wroclaw_bike_stats_spark.operators.dedup import _shingle_table
    from wroclaw_bike_stats_spark.operators.pipeline import (
        build_ngram_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)

    def build():
        ev = (
            _shingle_table(eval_set, "text", "doc_id", 5, hashed=True)
            .select("shingle")
            .distinct()
        )
        bitset, m, k = build_ngram_bloom(None, "text", 5, grams=ev)
        return bitset.tobytes(), m, k

    return scratch.shared_value(spark, sf_dir, "bloom_n5", build)


@_shared_warm("shared fuzzy contamination pairs (_fuzzy_pairs_shared)")
def q_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination gate (operators/pipeline.py
    decontaminate_fuzzy): drop docs whose 3-gram Jaccard vs ANY eval
    doc (every 50th doc) reaches 0.5 — the RefinedWeb/Llama near-dup
    decontamination rule, between exact-match and any-shared-gram.
    Exact route (the minhash prefilter's recall is a pytest contract,
    tests/test_fuzzy_decontam.py)."""
    from wroclaw_bike_stats_spark.operators.pipeline import decontaminate_fuzzy

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    # r15: the pair report is the shared persisted stage (also the
    # fuzzy_contam_pairs gate's result) fed through the operator's
    # precomputed-stage hook — the corpus shingle join runs once per
    # (session, sf) instead of once per consumer.
    return (
        decontaminate_fuzzy(
            docs, eval_set, n=3, threshold=0.5,
            pairs=_fuzzy_pairs_shared(spark, sf_dir),
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


def _fuzzy_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (corpus doc, eval doc, jaccard ≥ 0.5) contamination report
    — r15: persisted once per (session, sf); it IS the
    fuzzy_contam_pairs result and the decontam_fuzzy drop list."""
    from wroclaw_bike_stats_spark.operators.pipeline import (
        fuzzy_contaminated_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    return scratch.shared_frame(
        spark, sf_dir, "fuzzy_pairs",
        lambda: fuzzy_contaminated_pairs(
            docs, eval_set, n=3, threshold=0.5
        ),
    )


@_shared_warm("shared fuzzy contamination pairs (_fuzzy_pairs_shared)")
def q_fuzzy_contam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination REPORT behind decontam_fuzzy: per
    (corpus doc, eval doc) Jaccard ≥ 0.5 with the score — what an
    operator audits before deleting training docs. Served from the
    shared persisted stage (_fuzzy_pairs_shared)."""
    return _fuzzy_pairs_shared(spark, sf_dir).orderBy("doc_id", "eval_id")


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus budget report (operators/pipeline.py
    corpus_token_budget): docs / whitespace tokens / UTF-8 bytes /
    token share — one map-side-combined aggregation."""
    from wroclaw_bike_stats_spark.operators.pipeline import (
        corpus_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    return corpus_token_budget(docs, ["source", "lang"]).orderBy(
        "source", "lang"
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixing gate (operators/pipeline.py
    temperature_mix_apply; XLM-R §3.1): α=0.3 over the skewed `lang`
    column — head lang (en) downsampled, tail langs upsampled with
    whole-copy repeats; hash-accept fractional parts, zero RNG."""
    from wroclaw_bike_stats_spark.operators.pipeline import (
        temperature_mix_apply,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        temperature_mix_apply(docs, "lang", alpha=0.3)
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")
    )


@_gate("checks the chained pipeline against its full oracle")
def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation composition gate (plans/curate.py): every
    stage — decontaminate → token/dup-word quality filter → top-2-gram
    repetition filter → exact dedup keep-min → hash split — already
    has its own green per-operator gate; this one proves they COMPOSE:
    one lazy plan, and the oracle chains the SAME SQL fragments as
    CTEs. Eval set = every 50th doc (the decontam_docs convention).
    scrub=False keeps the output to (doc_id, split); the PII scrub has
    its own md5-verified gate."""
    from wroclaw_bike_stats_spark.plans.curate import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    curated = curate_corpus(docs, eval_set, scrub=False)
    return curated.select("doc_id", "split").orderBy("doc_id")


@_shared_warm("shared reference LM and its broadcast assets")
def q_curate_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL curation composition gate (round 7): the r06 operator
    families run INSIDE the pipeline, where their reference pipelines
    (CCNet / Lee et al. / RefinedWeb) run them — decontaminate →
    quality → repetition → bigram-LM perplexity BAND [23, 40]
    (model trained on the doc_id%7==3 reference slice) → exact dedup
    → exact substring-span strip (k=13, output text IS the stripped
    rebuild) → hash split. Since round 10 the ppl stage routes
    through the Arrow scorer (curate.py's ``lm_impl="auto"`` default
    — byte-parity with the native route, so this gate's oracle row
    ATTESTS the Arrow route end to end; the plan is no longer fully
    lazy: the model tables collect at construction, the documented
    eager exception). The oracle chains the SAME SQL fragments as
    CTEs, including the 4-dp ppl rounding and the keep-first span
    canonical. Band endpoints sit ≥0.003 from every doc's 4-dp ppl
    at both test SFs (probed), so the threshold cannot flake on
    engine rounding."""
    from wroclaw_bike_stats_spark.plans.curate import curate_corpus

    # r16: project to the two columns the pipeline (and the final
    # select) actually uses BEFORE handing docs to curate_corpus —
    # persist_stages materializes the survivor frame as-is, and the
    # un-projected frame carried lang/source/n_chars through the
    # scratch cache and the dedup shuffle (Catalyst cannot prune
    # columns below an explicit persist boundary). Same rows/columns
    # out (the query's final select is doc_id/text/split either way);
    # guide §5 (prune the persisted footprint) + §2.3 (project before
    # the exchange).
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    lm = _ref_lm_shared(spark, sf_dir)
    curated = curate_corpus(
        docs,
        eval_set,
        scrub=False,
        lm=lm,
        max_ppl=40.0,
        min_ppl=23.0,
        strip_spans=True,
        span_k=13,
        # r16: the reference model as session-shared COLLECTED assets
        # (collect_lm_assets hook) — the arrow lm stage otherwise
        # re-collects + re-broadcasts the model tables at every plan
        # construction (two jobs/execution for a constant model).
        lm_assets=_ref_lm_assets_shared(spark, sf_dir),
        # r16: persist_stages back to False (the fully lazy plan). The
        # r15 switch to True traded cold 6.6→3.7 s but regressed the
        # warm number ~+0.9 s/run (the VERDICT's one code-attributable
        # regression): the strip's two survivor references share the
        # dedup exchange via exchange reuse, so the lazy plan's
        # "double compute" only duplicates post-shuffle narrow work,
        # while the scratch persist pays a fresh materialization every
        # run (the nondeterministic Arrow UDF columns defeat
        # plan-keyed cache matching across executions). Measured this
        # round, same session, min-of-4 with the doc_id/text
        # projection in place: persist=True 4.06 s vs False 3.48 s
        # warm; cold rep0 ~10.1 s under both. At 100 TB the documented
        # production switch remains available to callers; the gate
        # measures the lazy shape.
        persist_stages=False,
    )
    return curated.select("doc_id", "text", "split").orderBy("doc_id")


def q_curate_pipeline_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation composition with the FULL Gopher repetition rule set
    ON (r12 VERDICT task 5 — the stage was off-by-default and only
    standalone-gated): decontaminate → token/dup-word quality → top-
    2-gram filter → gopher_repetition_filter({}) with the paper's 13
    thresholds (duplicate line/paragraph [char] fractions, top-
    {2,3,4}-gram CHARACTER shares, overlap-aware duplicate-n-gram
    char fractions n=5..10) → exact dedup → hash split, ONE lazy
    plan. The synthetic corpus is repetition-clean, so the gate
    stages the signal (the pii_scrub/segment_repetition injection
    precedent): docs with doc_id % 11 == 3 get their text doubled —
    every n-gram then repeats, the mask family fires, and the stage
    provably drops rows in the COMPOSED plan. The oracle chains the
    same SQL fragments as CTEs, incl. the interval-union sweep for
    the overlap-aware char coverage and the (count, char-len)
    tie-break for the top gram — every signal rounded to 4 dp before
    its bound, matching the engine's one-boundary-semantics rule."""
    from wroclaw_bike_stats_spark.plans.curate import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 3,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    eval_set = staged.filter(F.col("doc_id") % 50 == 0)
    # r15: fan out the CORPUS side only — this plan is one linear
    # single-reference chain (unlike curate_pipeline_full, whose
    # multiply-referenced survivor chain made a head fan-out 2.7×
    # slower), so a single-row-group testdata scan otherwise runs the
    # whole staged quality/repetition Arrow chain on one task. The
    # eval side stays un-exchanged (it only feeds a broadcast build).
    # ensure_parallelism is a no-op when the scan is already parallel
    # (production layout).
    curated = curate_corpus(
        FAN.ensure_parallelism(staged), eval_set, scrub=False,
        repetition_rules={},
    )
    return curated.select("doc_id", "split").orderBy("doc_id")


def _dsir_model(spark: SparkSession, sf_dir: str):
    """Shared DSIR fit: target = every 9th doc (≡1 mod 9), raw = the
    whole corpus (the paper's estimator), the portable md5-prefix
    bucket hash so DuckDB reproduces bucketing bit-for-bit. The fit
    is a corpus explode + groupBy; the RESULT is ≤4096 rows —
    persisted once per (session, sf) and shared by its three gate
    consumers (bench per-query numbers for those are shared-warm,
    like the pair-graph family)."""
    from wroclaw_bike_stats_spark.operators.dsir import dsir_logratio

    docs = _t(spark, sf_dir, "documents")
    model = scratch.shared_frame(
        spark, sf_dir, "dsir_model",
        lambda: dsir_logratio(
            docs.filter(F.col("doc_id") % 9 == 1), docs, portable_hash=True
        ),
    )
    return docs, model


def _ref_lm_shared(spark: SparkSession, sf_dir: str):
    """The %7==3-slice reference bigram LM (uni, bi count tables) —
    trained identically by FIVE gates (bigram_lm_ppl, ppl_buckets,
    ppl_pruned, ppl_cms_bound, curate_pipeline_full); tiny result
    (vocab-sized), persisted once per (session, sf)."""
    from wroclaw_bike_stats_spark.operators.text import train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    return scratch.shared_frame(
        spark, sf_dir, "ref_lm",
        lambda: train_bigram_lm(docs.filter(F.col("doc_id") % 7 == 3)),
    )


def _ref_lm_assets_shared(spark: SparkSession, sf_dir: str):
    """The %7==3 reference LM as COLLECTED broadcast assets
    (text.collect_lm_assets — the operator's own standing-model reuse
    hook, built for exactly this): the arrow scorer callers
    (bigram_lm_ppl_column, curate_corpus's lm stage) otherwise
    re-collect + re-broadcast the model tables at EVERY plan
    construction — two jobs plus broadcast setup per execution for a
    model that never changes within a (session, sf). r16: collected
    once and memoized; release_shared() drops the memo (the broadcast
    blocks go to ContextCleaner with the session)."""
    from wroclaw_bike_stats_spark.operators.text import collect_lm_assets

    uni, bi = _ref_lm_shared(spark, sf_dir)
    return scratch.shared_value(
        spark, sf_dir, "ref_lm_assets",
        lambda: collect_lm_assets(spark, uni, bi),
    )


def _dsir_scores_shared(spark: SparkSession, sf_dir: str, portable: bool):
    """Per-scheme shared DSIR score frame (r15, guide §1.2/§5): the
    gram explode + broadcast model join + per-doc sum is the family's
    whole corpus cost and was executed SIX times per bench pass (md5:
    scores gate + resample gate + scheme gate's rank arm + its
    resample arm; xxhash64: the scheme gate's two arms — resample
    re-scores internally). One persisted (doc_id, n_grams, logw)
    frame per scheme cuts that to once each; every consumer reads the
    same rows it computed before (the resample key derives from the
    frame's own logw). Dropped at release_shared()."""
    from wroclaw_bike_stats_spark.operators.dsir import (
        dsir_logratio,
        dsir_scores,
    )

    docs, m_md5 = _dsir_model(spark, sf_dir)

    def build():
        model = (
            m_md5
            if portable
            else dsir_logratio(
                docs.filter(F.col("doc_id") % 9 == 1),
                docs,
                portable_hash=False,
            )
        )
        return dsir_scores(docs, model, portable_hash=portable)

    name = "dsir_scores_md5" if portable else "dsir_scores_xx"
    return docs, scratch.shared_frame(spark, sf_dir, name, build)


@_shared_warm("shared DSIR fit and score frame (_dsir_scores_shared)")
def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (operators/dsir.py; Xie et al.
    NeurIPS 2023): hashed unigram+bigram features over 4096 buckets,
    add-0.5-smoothed target/raw distributions, per-doc
    Σ cnt·(ln p̂ − ln q̂). The whole fit+score is one lazy plan —
    two B-row count tables broadcast into one corpus shuffle; the
    scored frame is the shared persisted stage its sibling gates
    read (_dsir_scores_shared)."""
    _, scores = _dsir_scores_shared(spark, sf_dir, True)
    return scores.orderBy("doc_id")


@_shared_warm("shared DSIR fit and score frame (_dsir_scores_shared)")
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resampling: 100 docs sampled without
    replacement with inclusion probability ∝ exp(logw), noise seeded
    by the portable id hash so the draw is deterministic and
    SQL-reproducible. Reads the shared persisted score frame through
    the operator's precomputed-stage hook (r15) instead of re-running
    the scoring pass."""
    from wroclaw_bike_stats_spark.operators.dsir import importance_resample

    docs, scores = _dsir_scores_shared(spark, sf_dir, True)
    return importance_resample(
        docs, None, k=100, portable_hash=True, scores=scores
    ).orderBy("doc_id")


#: Scheme-robustness floors for the production-hash contract gates.
#: Deterministic for the fixed corpora and seeds (measured sf0.001 /
#: sf0.01: Spearman 0.994/0.999+, resample overlap 0.93/0.97+, NB
#: agreement 1.0/1.0) — set with margin below the weakest point.
_SCHEME_SPEARMAN_FLOOR = 0.95
_SCHEME_OVERLAP_FLOOR = 0.80
#: NB agreement is scale-sensitive: with only ~500 training docs
#: (sf0.001) the two bucket schemes collide differently on the thin
#: per-class counts and measured argmax agreement is 0.946; at the
#: driver gate scale (sf0.01, ~5k docs) it is 1.0. The floor sits
#: below the weakest measured point so the contract holds at every
#: scale the gate runs at.
_SCHEME_NB_AGREEMENT_FLOOR = 0.90


@_gate("runs the md5 and xxhash DSIR schemes to compare them")
@_shared_warm("shared DSIR fit and score frames (_dsir_scores_shared)")
def q_dsir_scheme_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-vs-portable hash contract for the DSIR family: the
    oracle gates run the md5-prefix bucket scheme (DuckDB-computable);
    production runs xxhash64. The two schemes CANNOT be
    score-identical (different collision patterns over 4096 buckets),
    but selection must be scheme-robust — otherwise the oracle greens
    certify a route nobody runs. Invariants, all deterministic for
    the fixed corpus: (1) per-doc gram counts identical
    (featurization is scheme-independent — an exact integer, also
    summed on the oracle side), (2) Spearman rank correlation of the
    two logw columns ≥ 0.95, (3) the k=100 Gumbel-resampled sets
    overlap ≥ 80%. The rank windows are single-partition —
    verification-grade at gate scale, not a production operator."""
    from pyspark.sql import Window

    from wroclaw_bike_stats_spark.operators.dsir import importance_resample

    # r15: both schemes' scored frames come from the shared persisted
    # stage (_dsir_scores_shared) — before, this gate alone ran the
    # corpus scoring pass four times (two schemes × rank + resample
    # arms, resample re-scoring internally).
    docs, sc_md5 = _dsir_scores_shared(spark, sf_dir, True)
    _, sc_xx = _dsir_scores_shared(spark, sf_dir, False)
    s_md5 = sc_md5.select(
        "doc_id", "n_grams", F.col("logw").alias("_w1")
    )
    s_xx = sc_xx.select(
        "doc_id",
        F.col("n_grams").alias("_ng2"),
        F.col("logw").alias("_w2"),
    )
    r1 = F.rank().over(Window.orderBy("_w1", "doc_id"))
    r2 = F.rank().over(Window.orderBy("_w2", "doc_id"))
    ranked = (
        s_md5.join(s_xx, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "_ng2",
            r1.alias("_r1").cast("double"),
            r2.alias("_r2").cast("double"),
        )
    )
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("n_grams_total"),
        (
            F.count(F.when(F.col("n_grams") != F.col("_ng2"), 1)) == 0
        ).alias("gram_counts_match"),
        (F.corr("_r1", "_r2") >= _SCHEME_SPEARMAN_FLOOR).alias(
            "spearman_ge_095"
        ),
    )
    k1 = importance_resample(
        docs, None, k=100, portable_hash=True, scores=sc_md5
    ).select(F.col("doc_id").alias("_id"), F.lit(1).alias("_a"))
    k2 = importance_resample(
        docs, None, k=100, portable_hash=False, scores=sc_xx
    ).select(F.col("doc_id").alias("_id"), F.lit(1).alias("_b"))
    overlap = (
        k1.join(k2, "_id", "full_outer")
        .agg(
            (
                F.count(
                    F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1)
                )
                / F.lit(100.0)
                >= _SCHEME_OVERLAP_FLOOR
            ).alias("resample_overlap_ge_080")
        )
    )
    return stats.crossJoin(F.broadcast(overlap))


@_gate("runs the md5 and xxhash NB schemes to compare them")
@_shared_warm("shared NB fits and predictions (_nb_pred_shared)")
def q_nb_scheme_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-vs-portable hash contract for the NB classifier:
    train+predict under BOTH bucket schemes; the argmax predictions
    must agree on ≥90% of documents (deterministic — fixed corpus,
    fixed seeds; measured 0.946 at sf0.001 where per-class counts
    are thin, 1.0 at the sf0.01 driver gate scale). Exact side:
    n_docs. The portable route's end-to-end values are already
    hash-gated by nb_lang_predict — this row certifies the xxhash64
    route everyone actually runs."""
    from wroclaw_bike_stats_spark.operators.classifier import (
        nb_predict,
        nb_train,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.filter(F.col("doc_id") % 3 != 0)
    # r15: the md5 arm reads the shared persisted prediction frame
    # (built once per session/sf, also served to nb_lang_predict)
    # instead of re-running the gram explode + per-doc posterior sum.
    p1 = _nb_pred_shared(spark, sf_dir).select(
        "doc_id", F.col("pred").alias("_p1")
    )
    # r16: the xxhash64 fit is as constant per (session, sf) as the
    # shared md5 fit — share it the same way (the un-shared train paid
    # its gram explode once per aggregate consumer per execution:
    # profiled 2 × ~0.4 s single-task jobs). The PREDICT pass below —
    # the production-route corpus work this gate certifies — still
    # runs per execution.
    w, p = scratch.shared_frame(
        spark, sf_dir, "nb_model_xx",
        lambda: nb_train(
            labeled, _NB_CLASSES, label_col="lang", portable_hash=False
        ),
    )
    p2 = nb_predict(
        docs, w, p, _NB_CLASSES, portable_hash=False
    ).select("doc_id", F.col("pred").alias("_p2"))
    j = p1.join(p2, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.avg((F.col("_p1") == F.col("_p2")).cast("double"))
            >= _SCHEME_NB_AGREEMENT_FLOOR
        ).alias("pred_agreement_ge_090"),
    )


@_shared_warm("shared LM score frame (_lm_scores_shared)")
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles
    (operators/text.py ppl_bucket_assign): score every doc under the
    %7==3 reference LM (the bigram_lm_ppl model), then NTILE(3) over
    (ppl, doc_id) — the exact, SQL-mirrorable mode; the approx
    (sketch-threshold, no-global-sort) mode is the production path
    and its agreement with exact is pinned in tests/test_lm.py."""
    from wroclaw_bike_stats_spark.operators.text import ppl_bucket_assign

    scores = _lm_scores_shared(spark, sf_dir)
    return ppl_bucket_assign(scores, mode="exact").orderBy("doc_id")


def _lm_scores_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scores under the %7==3 reference LM via the DEFAULT
    (auto→arrow) route — r15: persisted once per (session, sf).
    ppl_buckets and ppl_cms_bound's exact arm issue the IDENTICAL
    ``bigram_lm_score(docs, uni, bi, alpha=0.1)`` call; before, each
    paid the full Arrow scoring pass itself. The route-pinned gates
    (bigram_lm_ppl impl="native", bigram_lm_ppl_column, ppl_pruned's
    thinned model) deliberately do NOT read this frame — their
    contract is the route, not just the rows."""
    from wroclaw_bike_stats_spark.operators.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    uni, bi = _ref_lm_shared(spark, sf_dir)
    return scratch.shared_frame(
        spark, sf_dir, "ref_lm_scores",
        lambda: bigram_lm_score(docs, uni, bi, alpha=0.1),
    )


_NB_CLASSES = ["de", "en", "es", "fr", "zh"]


def _nb_model_shared(spark: SparkSession, sf_dir: str):
    """The portable-hash NB fit (weights ≤4096×|classes| rows + a
    |classes|-row prior table) trained identically by nb_lang_predict
    and nb_scheme_consistency's md5 arm — persisted once per
    (session, sf)."""
    from wroclaw_bike_stats_spark.operators.classifier import nb_train

    docs = _t(spark, sf_dir, "documents")
    return scratch.shared_frame(
        spark, sf_dir, "nb_model",
        lambda: nb_train(
            docs.filter(F.col("doc_id") % 3 != 0), _NB_CLASSES,
            label_col="lang", portable_hash=True,
        ),
    )


def _nb_pred_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable-scheme prediction frame (nb_predict over the
    shared fit) — r15: persisted once per (session, sf) because BOTH
    nb_lang_predict and nb_scheme_consistency's md5 arm need exactly
    these rows; the predict pass (gram explode + posterior sum) was
    the family's dominant repeated cost."""
    from wroclaw_bike_stats_spark.operators.classifier import nb_predict

    docs = _t(spark, sf_dir, "documents")
    weights, priors = _nb_model_shared(spark, sf_dir)
    return scratch.shared_frame(
        spark, sf_dir, "nb_pred_md5",
        lambda: nb_predict(
            docs, weights, priors, _NB_CLASSES, portable_hash=True
        ),
    )


@_shared_warm("shared NB fit and predictions (_nb_pred_shared)")
def q_nb_lang_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised hashed-feature classifier gate
    (operators/classifier.py; the CCNet §4 fastText-filter shape as
    aggregation-trainable multinomial NB): train lang-prediction on
    the doc_id%3!=0 slice (labels = the corpus's lang column),
    score EVERY doc — per-class posteriors rounded 4 dp and the
    argmax prediction, tie-broken to the first class. Train+predict
    is one lazy plan; the md5-prefix portable bucket scheme keeps
    DuckDB bit-identical. The prediction frame is the shared
    persisted stage (_nb_pred_shared) the scheme gate also reads."""
    return _nb_pred_shared(spark, sf_dir).orderBy("doc_id")


@_gate("recomputes exact distinct counts to bound the HLL error")
def q_hll_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL error-bound gate: per event type, exact distinct users
    (oracle-computed) + |approx − exact| ≤ 5%·exact. The rsd=0.02
    sketch is well inside the 5% bound at every tested scale.

    Exact and approx run in SEPARATE aggregations joined on the group
    key: mixing a sketch agg into the multi-distinct Expand drags it
    through the expanded stream (same 2× effect as in
    operators/profile.py)."""
    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx")
    )
    return (
        # eqNullSafe: a NULL event_type group must survive the join
        # (the oracle's GROUP BY keeps it; a plain equi-join would
        # silently drop it and red the gate on row count).
        exact.alias("e")
        .join(
            F.broadcast(approx).alias("a"),
            F.col("e.event_type").eqNullSafe(F.col("a.event_type")),
        )
        .select(
            F.col("e.event_type").alias("event_type"),
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )


@_gate("recomputes exact percentiles to bound the sketch error")
def q_approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch error-bound gate: exact interpolated
    percentiles (oracle: quantile_cont) + percentile_approx within 1%
    of the value RANGE at every probed quantile."""
    ev = _t(spark, sf_dir, "events")
    a = ev.agg(
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.9)").alias("e90"),
        F.expr("percentile(value, 0.99)").alias("e99"),
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("q"),
        (F.max("value") - F.min("value")).alias("rng"),
    )
    within = (
        (F.abs(F.col("q")[0] - F.col("e50")) <= 0.01 * F.col("rng"))
        & (F.abs(F.col("q")[1] - F.col("e90")) <= 0.01 * F.col("rng"))
        & (F.abs(F.col("q")[2] - F.col("e99")) <= 0.01 * F.col("rng"))
    )
    return a.select(
        F.round("e50", 4).alias("p50"),
        F.round("e90", 4).alias("p90"),
        F.round("e99", 4).alias("p99"),
        within.alias("approx_within_1pct"),
    )


@_gate("runs the exact brute-force search to check IVF recall")
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall gate: top-k overlap between the IVF-probed
    approximate search and the exact brute-force search must reach the
    0.6 floor (deterministic under the fixed centroid sample seed).
    ``n_queries`` is oracle-computed; the floor is the invariant."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = SIM.cosine_topk_bruteforce(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("_b")
    )
    ivf = SIM.cosine_topk_ivf(
        emb, queries, k=10, num_centroids=16, nprobe=4
    ).select("query_id", "neighbor_id", F.lit(1).alias("_i"))
    j = bf.join(ivf, ["query_id", "neighbor_id"], "full_outer")
    both = F.count(F.when(F.col("_b").isNotNull() & F.col("_i").isNotNull(), 1))
    return j.agg(
        F.count_distinct("query_id").alias("n_queries"),
        (both / F.greatest(F.count("_b"), F.lit(1)) >= 0.6).alias("recall_ge_060"),
    )


@_gate("checks simhash against the md5 fingerprint groups")
@_shared_warm("plan-keyed SimHash fingerprint scratch (operators/dedup)")
def q_simhash_exactdup_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash consistency gate: documents identical under whitespace
    normalization (same md5 fingerprint — oracle-computable) MUST get
    the same simhash, since shingles derive from the normalized token
    stream. ``n_dup_groups`` (groups of >1 doc sharing a fingerprint)
    comes from real oracle SQL; zero groups makes the boolean
    vacuously true on both sides."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        T.fingerprint_md5(F.col("text")).alias("fp"),
        D.simhash64(F.col("text"), 2).alias("simhash"),
    )
    groups = per_doc.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("simhash").alias("n_sim"),
    )
    dup = groups.filter(F.col("n_docs") > 1)
    return dup.agg(
        F.count(F.lit(1)).alias("n_dup_groups"),
        (F.count(F.when(F.col("n_sim") != 1, 1)) == 0).alias("simhash_consistent"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.cosine_topk_bruteforce(emb, queries, k=10)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH candidates (key-equi join on band hash)
    + exact cosine verify — never an all-pairs cross join. Recall for
    near-identical pairs ~0.99 (tests/test_dedup_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.embedding_neardup_pairs(emb, threshold=0.8, method="lsh")


def _emb_moments_shared(spark: SparkSession, sf_dir: str) -> tuple:
    """The (n, mean, cov) moments of the embeddings table — the one
    corpus-wide pass both PCA gates consume; computed once per
    (session, corpus version) in the shared-asset store."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        embedding_moments,
    )

    return scratch.shared_value(
        spark, sf_dir, "emb_moments",
        lambda: embedding_moments(_t(spark, sf_dir, "embeddings")),
    )


@_shared_warm("embedding moments memo (_emb_moments_shared)")
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding column as (i, j, cov)
    rows (operators/embedding_stats.py embedding_covariance — ONE
    partial-aggregated mapInPandas pass over the vectors, constant
    d²-sized tail). Full-hash oracle: DuckDB reproduces every entry
    with avg(e[i]*e[j]) - avg(e[i])*avg(e[j]) over the unnested
    column (d=64 in the test corpus; the Spark side infers d)."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        embedding_covariance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, moments=_emb_moments_shared(spark, sf_dir))


@_gate("audits the PCA fit contract, not a corpus pass")
@_shared_warm("embedding moments memo (_emb_moments_shared)")
def q_embedding_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit contract gate (operators/embedding_stats.py fit_pca),
    the hll_bounds pattern: the SQL-computable number (total variance
    = trace of the covariance) is real oracle SQL; the deterministic
    booleans are the invariants the Spark side must reproduce —
    orthonormal components, descending eigenvalues, explained ≤
    total, and the sign pin (every component's largest-|loading|
    coordinate positive)."""
    import numpy as np

    from wroclaw_bike_stats_spark.operators.embedding_stats import fit_pca

    emb = _t(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=8, moments=_emb_moments_shared(spark, sf_dir))
    C = np.asarray(model["components"])
    vals = np.asarray(model["eigvals"])
    row = (
        float(model["total_var"]),
        bool(np.allclose(C @ C.T, np.eye(C.shape[0]), atol=1e-8)),
        bool((np.diff(vals) <= 1e-12).all()),
        bool(model["explained_var"] <= model["total_var"] + 1e-9),
        bool(all(c[int(np.argmax(np.abs(c)))] > 0 for c in C)),
    )
    return spark.createDataFrame(
        [row],
        "total_var double, orthonormal_ok boolean, "
        "eigvals_descending boolean, explained_le_total boolean, "
        "sign_pinned boolean",
    ).select(
        F.round("total_var", 6).alias("total_var"),
        "orthonormal_ok",
        "eigvals_descending",
        "explained_le_total",
        "sign_pinned",
    )


def q_pca_evr_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 explained-variance contract gate (r14 VERDICT task 2): the
    signal that PREDICTS reduced-vector ANN recall before a 100 TB
    index build. One full-spectrum fit (fit_pca k=d — shared moment
    pass) emits, per candidate k, the cumulative explained-variance
    ratio, whether the engine's low-EVR warning fires (evr < 0.5,
    embedding_stats.LOW_EVR_WARN_BOUND), and the smallest k capturing
    half the variance. Oracle: an INDEPENDENT duckdb+numpy refit over
    the raw parquet (the _pca_proj_cte precedent — third-party stack,
    fingerprint-keyed literals) recomputes the same spectrum; the
    EVR→recall tie is pinned in
    tests/test_dedup_similarity.py::test_evr_predicts_end_to_end_recall
    (k=8 evr<0.5 → e2e recall 0.17; min_evr=0.5 auto-k → 0.315)."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        LOW_EVR_WARN_BOUND,
        fit_pca,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=64, moments=_emb_moments_shared(spark, sf_dir))
    curve = model["evr_curve"]
    min_k_half = 1 + next(
        i for i, v in enumerate(curve) if v >= LOW_EVR_WARN_BOUND
    )
    rows = [
        (
            k,
            float(curve[k - 1]),
            bool(curve[k - 1] < LOW_EVR_WARN_BOUND),
            int(min_k_half),
        )
        for k in (2, 8, 32, 64)
    ]
    return (
        spark.createDataFrame(
            rows, "k int, evr double, warn_fired boolean, min_k_evr05 int"
        )
        .select(
            "k",
            (F.round("evr", 6) + F.lit(0.0)).alias("evr"),
            "warn_fired",
            "min_k_evr05",
        )
        .orderBy("k")
    )


def q_semdedup_pca_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB reduced-vector path END TO END (r12 VERDICT task 3):
    fit PCA at k=8 on the embeddings (one mapInPandas moment pass),
    project + whiten every vector (per-batch matmul, zero shuffle),
    then SemDeDup on the 8-dim projections — same deterministic
    centroid scheme as the raw-space gates (8 smallest ids, cosine
    assignment, min-id keep), τ=0.9 tuned to the whitened space's
    cosine range (r13 late fix: τ=0.8 PERCOLATED at the bench sf —
    in whitened 8-dim space high cosines are dense enough that 2000
    vectors collapsed into giant components, 32/2000 kept and a
    27 s long-diameter CC fixpoint; at 0.9 every test sf keeps a
    meaningful majority and the pair graph stays sparse). The oracle recomputes the WHOLE composition
    independently: model from a duckdb+numpy fit over the same
    parquet (the geopy-oracle precedent — an independent stack, not
    the engine), embedded as SQL literals keyed by a corpus
    fingerprint; projection/assignment/pairs/keep in pure SQL over
    those literals (_semdedup_pca_oracle)."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        fit_pca,
        pca_project,
    )
    from wroclaw_bike_stats_spark.operators.semdedup import semdedup_keep

    emb = _t(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=8, moments=_emb_moments_shared(spark, sf_dir))
    proj = pca_project(emb, model, whiten=True, out_col="pvec")
    kept = semdedup_keep(
        proj, num_clusters=8, threshold=0.9, vec_col="pvec"
    )
    return kept.select("vec_id", "label").orderBy("vec_id")


def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k — ORACLE-BACKED since r13: the
    whole pipeline is deterministic (centroids = 16 smallest ids,
    cosine assignment and probe selection with id tie-breaks, rank by
    6-dp-rounded sim then neighbor id) and ``similarity.cosine`` is
    bit-compatible with DuckDB's ``list_cosine_similarity``, so the
    oracle replays assignment → probe → score → rank in pure SQL.
    Recall vs brute force is separately asserted in
    tests/test_dedup_similarity.py (measured 0.83 at sf0.001)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.cosine_topk_ivf(
        emb, queries, k=10, num_centroids=16, nprobe=4
    ).orderBy("query_id", "rank")


def _ivf_index_shared(
    spark: SparkSession, sf_dir: str, name: str, assigned
) -> str:
    """Path of the centroid-partitioned IVF index of ``assigned``,
    written once per (session, corpus version) under the shared-asset
    store's root; ``name`` separates index families over one corpus
    (raw-space vs PCA-projected)."""
    from wroclaw_bike_stats_spark.operators.similarity import ivf_write_index

    def build():
        path = scratch.asset_dir(name)
        ivf_write_index(assigned, path)
        return path

    return scratch.shared_value(spark, sf_dir, name, build)


def q_embedding_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a MATERIALIZED centroid-partitioned index — the
    true 100 TB read path: the probe set becomes a literal IN-list the
    scan prunes partitions with (PartitionFilters asserted in
    tests/test_dedup_similarity.py). The index is a shared asset,
    built once per corpus VERSION and reused as a resident cluster
    would: rewriting the corpus at the same path invalidates it
    instead of serving stale postings."""
    from wroclaw_bike_stats_spark.operators.similarity import (
        cosine_topk_ivf_indexed,
        ivf_assign,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assigned = ivf_assign(emb, num_centroids=16)
    index_path = _ivf_index_shared(spark, sf_dir, "ivf_index", assigned)
    queries = emb.filter(F.col("vec_id") < 5)
    # ORACLE-BACKED since r13: identical contract to q_embedding_
    # topk_ivf (same deterministic centroids/probes/ranking — the
    # index changes the PHYSICAL read path, not the result), so the
    # same SQL oracle attests that the partition-pruned route
    # returns exactly the unindexed route's rows.
    return cosine_topk_ivf_indexed(
        spark, index_path, centroids, queries, k=10, nprobe=4
    ).orderBy("query_id", "rank")


def q_ivf_pca_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER half of the 100 TB reduced-vector path (r13 VERDICT
    task 4; `semdedup_pca_composed` attests project→whiten→dedup):
    fit PCA at k=8 (shared moment pass), project + whiten every
    vector, then approximate top-k through the MATERIALIZED
    centroid-partitioned IVF index built over the 8-dim projections —
    the physical shape a 1000-executor ANN service would run (probe
    list becomes a literal partition filter; index shared per corpus
    version as ``ivf_index_pca``). Fully deterministic
    (16 smallest-id centroids, cosine assignment/probe with id
    tie-breaks, rank on 6-dp-rounded sim), so the oracle replays the
    ENTIRE composition: independent duckdb+numpy PCA refit as
    fingerprint-keyed literals (_pca_proj_cte) + the IVF
    assignment→probe→score→rank chain in pure SQL over those
    projections. Recall vs RAW-space brute force is asserted in
    tests/test_dedup_similarity.py."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        fit_pca,
        pca_project,
    )
    from wroclaw_bike_stats_spark.operators.similarity import (
        cosine_topk_ivf_indexed,
        ivf_assign,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=8, moments=_emb_moments_shared(spark, sf_dir))
    proj = pca_project(emb, model, whiten=True, out_col="pvec").select(
        "vec_id", "pvec"
    )
    centroids, assigned = ivf_assign(proj, num_centroids=16, vec_col="pvec")
    index_path = _ivf_index_shared(spark, sf_dir, "ivf_index_pca", assigned)
    queries = proj.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf_indexed(
        spark,
        index_path,
        centroids,
        queries,
        k=10,
        nprobe=4,
        vec_col="pvec",
    ).orderBy("query_id", "rank")


def _ivf_pca_oracle() -> str | None:
    """Oracle SQL for ``ivf_pca_composed``: the shared PCA-refit
    projection CTE (_pca_proj_cte — an INDEPENDENT duckdb+numpy
    model as fingerprint-keyed literals) feeding the deterministic
    IVF replay (the ``embedding_topk_ivf`` oracle's chain, run on
    pvec instead of the raw embedding)."""
    cte = _pca_proj_cte()
    if cte is None:
        return None
    return f"""
        WITH RECURSIVE
        {cte},
        cent AS (
            SELECT vec_id AS cid, pvec AS cvec FROM proj
            ORDER BY vec_id LIMIT 16
        ),
        iassign AS (
            SELECT vec_id, cid FROM (
                SELECT pr.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY pr.vec_id
                           ORDER BY list_cosine_similarity(
                               pr.pvec, c.cvec) DESC,
                               c.cid ASC) AS rn
                FROM proj pr CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS query_id, pvec AS q_vec
            FROM proj WHERE vec_id < 5
        ),
        probe AS (
            SELECT query_id, q_vec, cid FROM (
                SELECT q.query_id, q.q_vec, c.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(
                               q.q_vec, c.cvec) DESC,
                               c.cid ASC) AS rn
                FROM q CROSS JOIN cent c
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   round(list_cosine_similarity(
                       pr.pvec, p.q_vec), 6) AS cosine_sim
            FROM iassign a
            JOIN probe p ON p.cid = a.cid
            JOIN proj pr ON pr.vec_id = a.vec_id
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 10
        ORDER BY query_id, rank
    """


def _sem_shared(spark: SparkSession, sf_dir: str):
    """The family-parameter SemDeDup stages (k=8, τ=0.4) shared by
    the pairs/keep/stats gates: (centroids, assigned, pairs), all
    persisted once per (session, sf) — the assignment matmul and the
    per-cluster Gram pass were being recomputed three times."""
    from wroclaw_bike_stats_spark.operators.semdedup import (
        semdedup_assign,
        semdedup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build():
        centroids, assigned = semdedup_assign(emb, num_clusters=8)
        # persist BEFORE semdedup_pairs: its default-on pre-flight
        # runs two bounded jobs against the assignment eagerly — un-
        # persisted, each re-ran the full assignment matmul from the
        # parquet (r15; shared_frame's own persist() below is a
        # no-op on the already-marked frame)
        assigned.persist()
        pairs = semdedup_pairs(emb, threshold=0.4, assigned=assigned)
        return centroids, assigned, pairs

    return (emb,) + tuple(scratch.shared_frame(spark, sf_dir, "semdedup", build))


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 embedding quantization (r14 — the last §5 operator
    without its own oracle gate; operators/similarity.py
    quantize_embeddings): unit-normalize, scale to ±127, round —
    4× smaller vectors on disk/shuffle, cosine-compatible (recall
    floor pinned in tests/test_dedup_similarity.py). Output exploded
    to (vec_id, q_idx, q) integer rows; DuckDB replays
    normalize→×127→round per component. Rounding-mode caveat,
    verified empirically green at both driver scales: np.rint is
    HALF_EVEN and DuckDB round is HALF_AWAY, which can only differ
    when a quotient×127 lands EXACTLY on a half-integer — measure
    zero for float inputs with irrational norms."""
    from wroclaw_bike_stats_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    exploded = q.select(
        "vec_id",
        F.posexplode("embedding_q").alias("q_idx", "q"),
    )
    # r15: same orderBy range-sample double-compute as
    # multimodal_decode — the sample job re-ran the quantize Arrow
    # pass (profile: two single-task jobs of ~0.3 s each). The lazy
    # localCheckpoint runs it once per execution; nothing is shared
    # across executions.
    return exploded.localCheckpoint(eager=False).orderBy(
        "vec_id", "q_idx"
    )


def q_pair_density_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percolation circuit breaker's pre-flight evidence (r14,
    operators/density_guard.py pair_density_profile): per-cluster
    ALL-INTEGER density profile — n_vectors, candidate pair mass
    n(n-1)/2, and the deterministic 64-smallest-ids sample's pair /
    ≥τ-hit counts (6-dp rounding, the family convention) — the
    numbers estimate_pair_density scales into pairs-per-node before
    committing a cluster-scale SemDeDup run. Runs off the shared
    persisted assignment (family params k=8, τ=0.4); DuckDB
    reproduces every integer from the same smallest-id centroid
    scheme."""
    from wroclaw_bike_stats_spark.operators.density_guard import (
        pair_density_profile,
    )

    _, _, assigned, _ = _sem_shared(spark, sf_dir)
    return pair_density_profile(assigned, threshold=0.4).orderBy(
        "centroid_id"
    )


@_shared_warm("shared SemDeDup assignment and pair stages (_sem_shared)")
def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster duplicate pairs (operators/semdedup.py;
    Abbas et al. arXiv:2303.09540): k=8 deterministic sampled
    centroids (min ids — SQL-reproducible), zero-Exchange matmul
    assignment, per-cluster Gram matmul emitting cosine ≥ τ pairs.
    τ=0.4 is tuned to the synthetic embeddings' cosine range (max
    pairwise ~0.51); the code path is threshold-independent. Stages
    shared with the keep/stats gates (_sem_shared)."""
    _, _, _, pairs = _sem_shared(spark, sf_dir)
    return pairs.orderBy("id_a", "id_b")


@_shared_warm("shared SemDeDup assignment and pair stages (_sem_shared)")
def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup closure: duplicate groups = connected components of
    the within-cluster pair graph, kept representative = min id
    (the oracle-checkable keep rule; the paper's far-from-centroid
    rule is covered by tests/test_semdedup.py). Runs off the shared
    persisted pair graph (_sem_shared) through semdedup_keep's
    precomputed-stage hook."""
    from wroclaw_bike_stats_spark.operators.semdedup import semdedup_keep

    emb, centroids, assigned, pairs = _sem_shared(spark, sf_dir)
    kept = semdedup_keep(
        emb, num_clusters=8, threshold=0.4,
        centroids=centroids, assigned=assigned, pairs=pairs,
    )
    return kept.select("vec_id", "label").orderBy("vec_id")


@_shared_warm("resident (centroids, assignment) standing asset")
def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N incremental SemDeDup gate: new batch = vec_id % 50 == 0
    (the family convention), resident corpus assigned with centroids
    sampled from ITS OWN min ids (the stored standing asset); the
    incremental pair set must EQUAL the full recompute's pairs under
    the same centroids restricted to pairs touching new vectors —
    which is exactly what the oracle SQL computes."""
    from wroclaw_bike_stats_spark.operators.semdedup import (
        semdedup_assign,
        semdedup_incremental_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 50 == 0)
    old = emb.filter(F.col("vec_id") % 50 != 0)
    # r16: the docstring's own words — the resident corpus's
    # (centroids, assignment) IS the stored standing asset the
    # incremental path probes; recomputing the old-side assignment
    # matmul at every execution contradicts that shape. Session-share
    # it (build cost in shared_build_sec); the NEW-batch assignment +
    # cross pair pass — the actual per-ingest work — runs per
    # execution as before.
    centroids, old_assigned = scratch.shared_frame(
        spark, sf_dir, "semdedup_incr_old",
        lambda: semdedup_assign(old, num_clusters=8),
    )
    return semdedup_incremental_pairs(
        new, old_assigned, centroids, threshold=0.35
    ).orderBy("id_a", "id_b")


@_shared_warm("shared SemDeDup assignment and pair stages (_sem_shared)")
def q_semdedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup profile — the operational check that
    num_clusters keeps cluster sizes (and the per-task Gram cost)
    bounded."""
    from wroclaw_bike_stats_spark.operators.semdedup import semdedup_stats

    emb, _, assigned, pairs = _sem_shared(spark, sf_dir)
    return semdedup_stats(
        emb, num_clusters=8, threshold=0.4, assigned=assigned, pairs=pairs
    ).orderBy("centroid_id")


def _mm_payload(d: int) -> tuple[str, bytes]:
    """Deterministic real-format fixture payload for asset id ``d``
    (the staged-signal precedent: inject a fully-specified signal so
    the WHOLE decode path is exercised). d < 32 → 24-bit BI_RGB BMP,
    width 4+d%3 × height 3+d%2, pixel (x,y,channel c∈R,G,B) value
    ``(d*7 + y*11 + x*5 + c*3) % 256``, stored bottom-up for even d
    and top-down (negative height) for odd d — both orientations of
    ``decode_bmp`` are driven. d in [32,64) → PCM WAV, mono, 8 kHz,
    64+d samples: 16-bit for d < 48 with sample
    ``((d*31 + i*17) % 4096 - 2048) * 8``, 8-bit unsigned for d ≥ 48
    with sample ``(d*13 + i*29) % 256`` — both integer widths of
    ``decode_wav`` are driven."""
    import io
    import struct
    import wave

    if d < 32:
        w, h = 4 + d % 3, 3 + d % 2
        stride = (w * 3 + 3) & ~3
        rows = []
        for y in range(h):
            row = bytearray()
            for x in range(w):
                # stored BGR
                for c in (2, 1, 0):
                    row.append((d * 7 + y * 11 + x * 5 + c * 3) % 256)
            row.extend(b"\x00" * (stride - w * 3))
            rows.append(bytes(row))
        top_down = d % 2 == 1
        body = b"".join(rows if top_down else rows[::-1])
        hdr_h = -h if top_down else h
        header = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, hdr_h, 1, 24, 0, len(body),
                2835, 2835, 0, 0,
            )
        )
        return "image", header + body
    n = 64 + d
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setframerate(8000)
        if d < 48:
            wv.setsampwidth(2)
            frames = b"".join(
                struct.pack("<h", ((d * 31 + i * 17) % 4096 - 2048) * 8)
                for i in range(n)
            )
        else:
            wv.setsampwidth(1)
            frames = bytes((d * 13 + i * 29) % 256 for i in range(n))
        wv.writeframes(frames)
    return "audio", buf.getvalue()


def _mm_expected_features(d: int) -> list[float]:
    """INDEPENDENT expectation for asset ``d``: features re-derived
    with numpy straight from the ``_mm_payload`` SPEC (pixel/sample
    value formulas) — never by parsing the payload bytes and never by
    calling the engine decoders. If ``decode_bmp``/``decode_wav``
    misparse anything (stride, bottom-up flip, sample width), the
    spec-derived numbers diverge and the gate goes red. Rounded to
    9 dp with the BigDecimal HALF_UP semantics (``F.round``'s) so
    last-ulp float noise between the two derivations can't flip a
    digit."""
    import numpy as np

    def r9(x: float) -> float:
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000000001"), rounding=ROUND_HALF_UP
            )
        )

    if d < 32:
        w, h = 4 + d % 3, 3 + d % 2
        xs, ys = np.meshgrid(np.arange(w), np.arange(h))
        chans = [
            ((d * 7 + ys * 11 + xs * 5 + c * 3) % 256).astype(np.float64)
            for c in (0, 1, 2)
        ]
        rgb = np.stack(chans, axis=-1)
        means = rgb.reshape(-1, 3).mean(axis=0) / 255.0
        gray = rgb.mean(axis=2)
        feats = [
            float(w), float(h), means[0], means[1], means[2],
            gray.std() / 255.0, w / h, gray.mean() / 255.0,
        ]
    else:
        n = 64 + d
        i = np.arange(n)
        if d < 48:
            x = (((d * 31 + i * 17) % 4096 - 2048) * 8) / 32768.0
        else:
            x = (((d * 13 + i * 29) % 256) - 128.0) / 128.0
        zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
        feats = [
            8000.0, float(n), n / 8000.0,
            float(np.sqrt(np.mean(x * x))), float(np.abs(x).max()),
            zc, float(x.mean()), float(x.std()),
        ]
    return [r9(f) for f in feats]


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode end to end (r13 VERDICT task 7; the
    `multimodal_bytes` gate attests metadata/byte plumbing only):
    deterministic real-format payloads — 24-bit BMPs in both storage
    orientations, PCM WAVs in both integer widths (`_mm_payload`) —
    flow through `extract_features`'s Arrow mapInPandas with a real
    decoder dispatch (`decode_image_real` / `decode_audio_real`,
    operators/multimodal.py). One asset per corpus doc_id < 64, so
    the fixture rides the corpus like every gate. Output explodes
    the 8-dim feature vector to scalar rows (HALF_UP 9 dp); the
    oracle recomputes n_bytes in SQL over the embedded payload BLOBs
    and carries sha256 + spec-derived feature expectations as
    literals (`_mm_expected_features` — an independent numpy
    derivation from the pixel/sample formulas, the PCA-refit-literal
    precedent)."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from wroclaw_bike_stats_spark.operators.multimodal import (
        decode_audio_real,
        decode_image_real,
        extract_features,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = sorted(
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") < 64).select("doc_id").collect()
    )
    rows = []
    for d in ids:
        media, payload = _mm_payload(int(d))
        rows.append((int(d), media, bytearray(payload)))
    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("media_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    assets = spark.createDataFrame(rows, schema)

    def _decode(b: bytes) -> list:
        if bytes(b[:2]) == b"BM":
            return decode_image_real(bytes(b))
        return decode_audio_real(bytes(b))

    feats = extract_features(assets, decode_fn=_decode)
    exploded = feats.select(
        "asset_id",
        "media_type",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "sha256",
        F.posexplode(
            F.transform("feature", lambda x: F.round(x, 9))
        ).alias("f_idx", "f_val"),
    )
    # r15: the final orderBy's range-partitioner SAMPLE job re-ran the
    # whole real-decoder mapInArrow pass (profile: two identical
    # 32-task jobs per collect). A lazy localCheckpoint makes the
    # sample job materialize the tiny exploded frame (64 assets × 8
    # features) and the sort read those blocks — decode runs ONCE per
    # execution, and unlike a plan-keyed persist nothing is shared
    # across executions (every run still pays one full decode).
    return exploded.localCheckpoint(eager=False).orderBy(
        "asset_id", "f_idx"
    )


def _multimodal_decode_oracle() -> str:
    """Oracle SQL for ``multimodal_decode``: per-asset payload BLOBs
    embedded as hex (n_bytes COMPUTED in SQL via
    octet_length(unhex(...))), sha256 computed independently by the
    oracle builder over those bytes (DuckDB's md5/sha256 accept only
    VARCHAR — a blob→varchar cast mangles bytes, so the digest rides
    as a literal), and the 8 feature expectations re-derived from the
    fixture SPEC by ``_mm_expected_features``."""
    import hashlib

    arows, frows = [], []
    for d in range(64):
        media, payload = _mm_payload(d)
        sha = hashlib.sha256(payload).hexdigest()
        arows.append(
            f"({d}, '{media}', '{payload.hex()}', '{sha}')"
        )
        for i, v in enumerate(_mm_expected_features(d)):
            frows.append(f"({d}, {i}, {v!r})")
    return f"""
        WITH fixture(asset_id, media_type, payload_hex, sha) AS (
            VALUES {", ".join(arows)}
        ),
        feats(asset_id, f_idx, f_val) AS (
            VALUES {", ".join(frows)}
        ),
        present AS (
            SELECT doc_id FROM documents WHERE doc_id < 64
        )
        SELECT a.asset_id,
               a.media_type,
               CAST(octet_length(unhex(a.payload_hex)) AS BIGINT)
                   AS n_bytes,
               a.sha AS sha256,
               CAST(f.f_idx AS INTEGER) AS f_idx,
               CAST(f.f_val AS DOUBLE) AS f_val
        FROM fixture a
        JOIN present p ON p.doc_id = a.asset_id
        JOIN feats f ON f.asset_id = a.asset_id
        ORDER BY a.asset_id, f.f_idx
    """


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text → bytes payload; byte length +
    digest computed on the binary column (decode stays stubbed —
    see operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("digest"),
    )


# ---------------------------------------------------------------------------
# SQL-surface breadth: semi-structured extraction, lateral explode,
# unpivot, analytic window family (lead / ntile / percent_rank),
# explicit GROUPING SETS, and the scalar string/date function library.
# Each exercises a Catalyst feature class the other gates don't.


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction: ``events.props`` holds a JSON
    document; extract a typed field and aggregate. ``get_json_object``
    is a JVM-side expression — the parse stays in whole-stage codegen,
    no Python round-trip. At 100 TB the props column is the only extra
    column read (column pruning keeps the scan narrow)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 3).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_explode_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with position (posexplode): leading tokens of
    each document with their 0-based offset. Explode is a narrow
    transform — no shuffle; the slice-before-explode keeps the blowup
    bounded (≤5 rows per doc regardless of doc length)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select("doc_id", F.slice(toks, 1, 5).alias("head"))
        .select("doc_id", F.posexplode("head").alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


def q_unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): three lineitem measures become
    (metric, value) rows, then a per-flag/per-metric profile. Unpivot
    is expression-level (a generate of structs) — no shuffle beyond
    the final aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("val"), 4).alias("avg_val"),
            F.round(F.max("val"), 4).alias("max_val"),
        )
        .orderBy("l_returnflag", "metric")
    )


def q_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() inter-arrival analysis: per-user gap between consecutive
    events, aggregated to per-user cadence stats. One shuffle
    (hash-partition by user_id serves both the window sort and the
    final agg — Catalyst reuses the partitioning). Gap computed in
    exact integer microseconds; only the final averages are floats."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    return (
        ev.select("user_id", gap_us.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(F.avg("gap_us") / 1e6, 3).alias("avg_gap_s"),
            F.round(F.max("gap_us") / 1e6, 3).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


def q_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank: quartile customers within each market
    segment by balance (deterministic tie-break on custkey), then
    per-quartile profile. ntile's bucket-remainder rule (front-loaded)
    is identical in Spark and DuckDB, so the oracle pins it."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.max("pr"), 4).alias("max_pr"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not the rollup/cube shorthands): order
    totals at (status, priority), (status), and grand-total levels,
    with grouping() flags disambiguating real NULLs from subtotal
    rows. DataFrame API has no grouping-sets verb, so this goes
    through spark.sql — same Catalyst Expand node as cube/rollup."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY g_status, g_priority,
                 o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


def q_string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function library over part names: levenshtein,
    translate, lpad, concat_ws, substring — all JVM expressions inside
    one codegen stage (SURVEY §2.8 F7 generalization)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") <= 100)
        .select(
            "p_partkey",
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_code"),
            F.translate(F.lower("p_name"), "aeiou", "_____").alias("devoweled"),
            F.levenshtein(F.lower("p_name"), F.lit("steel")).alias("lev_steel"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
        )
        .orderBy("p_partkey")
    )


def q_date_arith_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic library: trunc-to-month, day diffs vs an epoch
    date, ISO day-of-week, last-day-of-month — aggregated per month.
    All of it folds into the scan projection (no shuffle before the
    group-by)."""
    orders = _t(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return (
        orders.select(
            F.date_format(F.trunc(od, "month"), "yyyy-MM-dd").alias("month"),
            F.datediff(od, F.lit("1995-01-01")).alias("days_since"),
            (F.weekday(od) + F.lit(1)).alias("isodow"),
            F.datediff(F.last_day(od), od).alias("days_to_month_end"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("days_since").alias("min_days_since"),
            F.max("days_since").alias("max_days_since"),
            F.round(F.avg("isodow"), 3).alias("avg_isodow"),
            F.round(F.avg("days_to_month_end"), 3).alias("avg_days_to_end"),
        )
        .orderBy("month")
    )


# --- training-data curation gates (operators/pipeline.py) -----------------


def q_decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus minus documents whose
    normalized-text md5 appears in the (deterministic stand-in) eval
    set doc_id % 50 == 0. Broadcast anti-join — the corpus side never
    shuffles (operators/pipeline.py decontaminate)."""
    from wroclaw_bike_stats_spark.operators.pipeline import decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    # broadcast=True explicitly: this gate's eval set is known-small,
    # so it skips auto mode's fingerprint-count job (the documented
    # production call when the caller knows the blocklist size; the
    # decontam_shuffle gate exercises auto mode).
    return (
        decontaminate(docs, eval_set, broadcast=True)
        .select("doc_id")
        .orderBy("doc_id")
    )


@_gate("route audit against a manufactured 1.2M-entry blocklist")
def q_decontam_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-scale decontamination: the same exclusion semantics as
    ``decontam_docs`` but with a ~1.2M-row blocklist (the real eval
    docs plus 1.2M synthetic never-matching entries), which pushes the
    distinct-fingerprint count past ``BROADCAST_MAX_FPS`` so the auto
    route (operators/pipeline.py decontaminate, broadcast=None) takes
    the SHUFFLE anti-join — the 100 TB path for huge blocklists where
    a forced broadcast would ship ~100 MB × executors and spike every
    JVM heap. The synthetic entries collide with nothing, so the
    result — and the oracle — is identical to decontam_docs; what this
    gate adds is a driver-green row for the shuffle route itself
    (route choice is pinned by tests/test_pipeline_ops.py via the
    plan's broadcast hint)."""
    from wroclaw_bike_stats_spark.operators.pipeline import decontaminate

    docs = _t(spark, sf_dir, "documents")
    blocklist = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select("text")
        .unionByName(
            spark.range(1_200_000).select(
                F.concat(
                    F.lit("__blocklist_synthetic_entry_"),
                    F.col("id"),
                    F.lit("__"),
                ).alias("text")
            )
        )
    )
    return (
        decontaminate(docs, blocklist)
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_group_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: at most 5 orders per customer, kept
    deterministically by (o_orderdate, o_orderkey)
    (operators/pipeline.py cap_per_group)."""
    from wroclaw_bike_stats_spark.operators.pipeline import cap_per_group

    orders = _t(spark, sf_dir, "orders")
    return (
        cap_per_group(orders, "o_custkey", ["o_orderdate", "o_orderkey"], 5)
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


def q_group_quota_cap_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-PHASE quota route (operators/pipeline.py cap_per_group
    two_phase=True): with a quota most groups never hit (12/customer),
    under-quota rows pass through the broadcast anti-join untouched —
    a map-side pass, no shuffle — and only over-quota groups see the
    window. Same oracle shape as `group_quota_cap`; together the two
    gates driver-verify both strategy routes."""
    from wroclaw_bike_stats_spark.operators.pipeline import cap_per_group

    orders = _t(spark, sf_dir, "orders")
    return (
        cap_per_group(
            orders, "o_custkey", ["o_orderdate", "o_orderkey"], 12,
            two_phase=True,
        )
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by Knuth
    multiplicative hash of doc_id — reproducible from the id alone,
    zero shuffle (operators/pipeline.py hash_split_assign)."""
    from wroclaw_bike_stats_spark.operators.pipeline import hash_split_assign

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split_assign(docs)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with overlap (operators/pipeline.py
    chunk_documents): chunk i covers whitespace tokens
    [i*stride, i*stride+max) with stride = max - overlap; last chunk
    may be short; every doc emits >= 1 chunk. Narrow map + generate,
    no shuffle; the chunk strings are assembled inside one transform
    before the explode so an n-token doc costs O(n), not O(n^2)."""
    from wroclaw_bike_stats_spark.operators.pipeline import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, max_tokens=32, overlap=8)
    # r15: orderBy range-sample double-compute (the multimodal_decode
    # pattern) — the sample job re-ran the tokenize+assemble+explode
    # chain (~0.6 s single-task at the bench sf). One pass per
    # execution via lazy localCheckpoint.
    return chunks.localCheckpoint(eager=False).orderBy(
        "doc_id", "chunk_id"
    )


def q_span_dup_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span detection (operators/span_dedup.py
    duplicate_spans, Lee et al. ACL 2022 semantics): maximal token
    spans covered by 13-token windows whose content occurs at >= 2
    sites corpus-wide, both occurrences marked. One groupBy(hash)
    shuffle + one per-doc islands merge — no suffix array, no
    all-pairs."""
    from wroclaw_bike_stats_spark.operators.span_dedup import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, k=13).orderBy("doc_id", "span_start")


def q_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span coverage (duplicate_span_stats): the
    dup-fraction filter signal (RefinedWeb/Dolma-style thresholds) —
    every doc gets a row, zero coverage when nothing duplicates."""
    from wroclaw_bike_stats_spark.operators.span_dedup import (
        duplicate_span_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, k=13).orderBy("doc_id")


def q_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first span removal (strip_duplicate_spans): canonical =
    globally min (doc, pos) per window content survives; every other
    occurrence's coverage is stripped token-wise and the text rebuilt
    map-side."""
    from wroclaw_bike_stats_spark.operators.span_dedup import (
        strip_duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, k=13).orderBy("doc_id")


@_shared_warm("window_index standing asset; the probe pass still runs")
def q_span_strip_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus strip through the STANDING-index route (r14,
    span_dedup.strip_duplicate_spans_with_index): the arrow-family
    window_index supplies the df>=2 verdict set as a broadcast
    lookup, so the site stream never shuffles for detection — the
    resident-corpus shape at 100 TB (measured 269 → 49 s at the
    5M-doc salt point). With the index built over exactly this
    corpus the result EQUALS strip_duplicate_spans, so the same SQL
    oracle attests that the index route returns exactly the direct
    route's rows (the embedding_topk_ivf_indexed precedent: the
    index changes the physical read path, not the result)."""
    from wroclaw_bike_stats_spark.operators.span_dedup import (
        strip_duplicate_spans_with_index,
        window_index,
    )

    docs = _t(spark, sf_dir, "documents")
    # r16: the index IS the route's standing asset (stored parquet on a
    # resident corpus — this operator's whole point), but the query
    # rebuilt it from scratch THREE times per execution: once for
    # pick_dups_route's cnt≥2 count, once under the verdict join, and
    # the un-materialized agg re-ran the full arrow site pass each
    # time (profiled: 3 × ~0.5 s 33-task site stages per run).
    # Session-share the built index (distinct-content-sized — orders
    # of magnitude below site volume) exactly like the Bloom bitset
    # standing asset; the strip's probe site pass over the corpus
    # still runs in full every execution. Marked @_shared_warm;
    # build cost reported in shared_build_sec.
    idx = scratch.shared_frame(
        spark, sf_dir, "span_index_arrow",
        lambda: window_index(docs, k=13, site_route="arrow"),
    )
    return strip_duplicate_spans_with_index(docs, idx, k=13).orderBy(
        "doc_id"
    )


def q_span_strip_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N incremental span removal (span_dedup.strip_duplicate_
    spans_incremental): docs with doc_id % 5 == 0 arrive as the new
    batch against the stored window_index of the rest. Corpus-resident
    content is stripped from every new occurrence; batch-new content
    keeps its batch-canonical site. The corpus is touched only via
    one streamed scan of its aggregated index — never re-hashed."""
    from wroclaw_bike_stats_spark.operators.span_dedup import (
        strip_duplicate_spans_incremental,
        window_index,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return strip_duplicate_spans_incremental(
        new, window_index(old, k=13), k=13
    ).orderBy("doc_id")


@_shared_warm("shared %7==3 reference LM (_ref_lm_shared)")
def q_bigram_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality scoring (operators/text.py
    train_bigram_lm / bigram_lm_score): per-doc cross-entropy and
    perplexity under an add-0.1-smoothed bigram LM trained on the
    doc_id % 7 == 3 reference slice. Broadcast count-table joins +
    one groupBy(doc); unseen tokens need no UNK mapping (their
    lookups miss to the smoothed floor). impl="native" is explicit
    since round 14 (the library default flipped to auto→arrow under
    broadcast_model=True): this gate keeps the lazy join-plan route
    oracle-attested while the sibling `bigram_lm_ppl_column` gate
    attests the arrow scorer core callers now get by default."""
    from wroclaw_bike_stats_spark.operators.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    uni, bi = _ref_lm_shared(spark, sf_dir)
    return bigram_lm_score(docs, uni, bi, alpha=0.1, impl="native").orderBy(
        "doc_id"
    )


@_shared_warm("reference-LM broadcast assets (_ref_lm_assets_shared)")
def q_bigram_lm_ppl_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct oracle attestation of the r11 COLUMN route for LM
    scoring (operators/text.py bigram_lm_ppl_column): the exact
    pandas_udf column `plans/curate.py`'s arrow branch filters on
    in place — same math/tokenizer/HALF_UP rounding as the frame
    route (shared `_score_text_batch` core), but zero join-back.
    The `bigram_lm_ppl` gate exercises the frame route; this one
    pins the column route against the SAME DuckDB model CTEs, so
    the default curate path's scorer is driver-attested on its own,
    not only through the composed `curate_pipeline_full` hash."""
    from wroclaw_bike_stats_spark.operators.text import bigram_lm_ppl_column

    docs = _t(spark, sf_dir, "documents")
    uni, bi = _ref_lm_shared(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        bigram_lm_ppl_column(
            F.col("text"), uni, bi, spark=spark, alpha=0.1,
            # r16: session-shared collected model assets — skips the
            # per-execution model collect + broadcast (two jobs).
            model_assets=_ref_lm_assets_shared(spark, sf_dir),
        ).alias("ppl"),
    )
    # r15: orderBy range-sample double-compute (the multimodal_decode
    # pattern) — one Arrow scoring pass per execution.
    return scored.localCheckpoint(eager=False).orderBy("doc_id")


@_gate("scores under the pruned LM and the exact LM to compare them")
@_shared_warm("shared %7==3 reference LM (_ref_lm_shared)")
def q_ppl_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM scoring under a MIN-COUNT-PRUNED model
    (operators/text.py thin_bigram_lm): singleton bigrams dropped
    from the reference count table — the shuffle shrinker that takes
    a corpus-trained model back to broadcastable, with the one-sided
    contract pruned_ppl ≥ exact_ppl per doc. Full-hash oracle: DuckDB
    builds the same pruned model with HAVING count(*) >= 2."""
    from wroclaw_bike_stats_spark.operators.text import (
        bigram_lm_score,
        thin_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    uni, bi = _ref_lm_shared(spark, sf_dir)
    uni, bi = thin_bigram_lm(uni, bi, min_count=2)
    return bigram_lm_score(docs, uni, bi, alpha=0.1).orderBy("doc_id")


@_gate("scores under the CMS LM and the exact LM to compare them")
@_shared_warm("shared reference LM, LM scores and dense CMS map")
def q_ppl_cms_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS-thinned corpus-LM contract gate (operators/text.py
    bigram_lm_score_cms + cms_bigram_sketch): the sketch only
    over-counts, so cms_ppl ≤ exact_ppl must hold for EVERY document
    (NULL ⇔ NULL for no-bigram docs). Exact side (n_bigrams, ppl) is
    real oracle SQL; the invariant is the deterministic boolean the
    Spark side must reproduce — the hll_bounds gate pattern."""
    from wroclaw_bike_stats_spark.operators.text import (
        bigram_lm_score_cms,
        cms_bigram_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 7 == 3)
    uni, _ = _ref_lm_shared(spark, sf_dir)
    # r16: the densified reference sketch as a session-shared standing
    # asset (sketch.cms_dense_local — one bounded ≤d·w collect), the
    # bloom-bitset pattern: the sketch build + lazy densify subplan
    # (~8 scheduler barriers) otherwise re-ran at every execution for
    # a constant reference model. The scoring pass and the exact-arm
    # comparison below are unchanged and still run per execution.
    from wroclaw_bike_stats_spark.operators.sketch import cms_dense_local

    sk = scratch.shared_value(
        spark, sf_dir, "cms_ref_dense",
        lambda: cms_dense_local(
            cms_bigram_sketch(ref, depth=4, width=16384)
        ),
    )
    # r15: the exact arm is the shared persisted score frame — the
    # same call ppl_buckets makes (identical rows by construction).
    exact = _lm_scores_shared(spark, sf_dir)
    cms = bigram_lm_score_cms(docs, uni, sk, alpha=0.1).select(
        "doc_id", F.col("ppl").alias("_cp")
    )
    ok = F.when(F.col("ppl").isNull(), F.col("_cp").isNull()).otherwise(
        F.col("_cp") <= F.col("ppl") + F.lit(1e-9)
    )
    return (
        exact.join(cms, "doc_id")
        .select("doc_id", "n_bigrams", "ppl", ok.alias("cms_le_exact"))
        .orderBy("doc_id")
    )


def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: keep 50% of 'web' docs and 25% of
    'books' docs (sources derived from doc_id parity for determinism)
    via the same bucket hash — a pure scan predicate at scale
    (operators/pipeline.py weighted_mix_assign)."""
    from wroclaw_bike_stats_spark.operators.pipeline import weighted_mix_assign

    docs = _t(spark, sf_dir, "documents").withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.lit("web")).otherwise(F.lit("books")),
    )
    return (
        weighted_mix_assign(docs, "source", {"web": 0.5, "books": 0.25})
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics: duplicate-word fraction and
    most-common-2-gram share, pinned to the NATIVE explode + keyed
    agg route (linear, no per-row quadratic HOF — operators/text.py
    repetition_stats). impl="native" is explicit since round 14 (the
    library default flipped to auto→arrow): this gate keeps the
    SQL-differential frame route oracle-attested while the sibling
    `repetition_2gram_column` gate attests the arrow core callers
    now get by default."""
    docs = _t(spark, sf_dir, "documents")
    return T.repetition_stats(docs, impl="native").orderBy("doc_id")


def q_repetition_2gram_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct oracle attestation of the r11 COLUMN route for the
    2-gram repetition signal (operators/text.py
    repetition_2gram_struct): one zero-shuffle Arrow pass returning
    struct<top2_count,total_2grams> per row — the shape
    `plans/curate.py`'s repetition stage uses by default. The
    `repetition_stats` gate pins the explode+agg frame route; this
    one pins the column route against the same DuckDB gram CTEs."""
    from wroclaw_bike_stats_spark.operators.text import (
        repetition_2gram_struct,
    )

    docs = _t(spark, sf_dir, "documents")
    st = repetition_2gram_struct(F.col("text"))
    cols = docs.select(
        "doc_id",
        st.getField("top2_count").alias("top2_count"),
        st.getField("total_2grams").alias("total_2grams"),
    )
    # r15: orderBy range-sample double-compute (the multimodal_decode
    # pattern) — one Arrow gram pass per execution.
    return cols.localCheckpoint(eager=False).orderBy("doc_id")


def q_top_3gram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-3-gram signal (operators/text.py top_ngram_stats —
    the native explode+agg route generalized past n=2; the paper
    gates top-{2,3,4}-gram shares at 0.20/0.18/0.16). Full-hash
    oracle: the repetition_stats gram CTEs built with 3-token
    windows."""
    docs = _t(spark, sf_dir, "documents")
    return T.top_ngram_stats(docs, n=3).orderBy("doc_id")


def q_segment_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-LINE repetition stats (operators/text.py
    segment_repetition_stats — the segment-granularity sibling of
    repetition_stats; native split/trim/distinct + two aggregate
    folds per row, no explode). The synthetic corpus is single-line,
    so the gate stages a deterministic duplicated-prefix line per doc
    (the pii_scrub precedent: inject the signal so the whole
    computation is exercised on every row); DuckDB reproduces every
    value from the same staged text."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit("\n"),
            F.substring("text", 1, 80),
            F.lit("\n"),
            F.expr("substring(text, 81)"),
        ).alias("text"),
    )
    stats = T.segment_repetition_stats(staged).withColumn(
        "n_segments", F.col("n_segments").cast("long")
    )
    # r15: orderBy range-sample double-compute (the multimodal_decode
    # pattern) — one segment-stats pass per execution.
    return stats.localCheckpoint(eager=False).orderBy("doc_id")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/pipeline.py scrub_pii):
    deterministic synthetic PII is appended per doc so the regex chain
    is exercised on every row; counts come from the original text, the
    md5 proves the redacted output is byte-identical to the oracle's."""
    from wroclaw_bike_stats_spark.operators import pipeline as P

    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 tel +48 600-700-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )
    scrubbed = docs.select("doc_id", pii_text.alias("_t")).select(
        "doc_id",
        P.pii_count(F.col("_t"), "email").cast("long").alias("n_email"),
        P.pii_count(F.col("_t"), "ipv4").cast("long").alias("n_ip"),
        P.pii_count(F.col("_t"), "phone").cast("long").alias("n_phone"),
        F.md5(P.scrub_pii(F.col("_t"))).alias("redacted_md5"),
    )
    # r15: the final orderBy's range-sample job re-ran the whole regex
    # chain (profile: two ~0.5 s single-task jobs per collect). Lazy
    # localCheckpoint = one scrub pass per execution, nothing shared
    # across executions (the multimodal_decode pattern).
    return scrubbed.localCheckpoint(eager=False).orderBy("doc_id")


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 512-token packs, bucketed by a
    deterministic doc_id hash (operators/pipeline.py pack_sequences —
    applyInPandas per bucket; oracle is a per-bucket recursive CTE)."""
    from wroclaw_bike_stats_spark.operators import pipeline as P

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        P.hash_bucket(F.col("doc_id"), 32).alias("bucket"),
        T.token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
    )
    return (
        P.pack_sequences(docs, budget=512)
        .select("doc_id", "bucket", "n_tokens", "pack_id")
        .orderBy("doc_id")
    )


def q_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global example index in doc_id order via the two-phase
    range-partition + prefix-offset rank — no single-reducer global
    sort (operators/pipeline.py add_global_index)."""
    from wroclaw_bike_stats_spark.operators import pipeline as P

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return P.add_global_index(docs, "doc_id").orderBy("doc_id")


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle gate (operators/pipeline.py
    shuffle_corpus): dense rank over (knuth_hash(id), id) via the
    two-phase global index — the zero-RNG corpus permutation every
    training run needs, auditable forever from the id alone."""
    from wroclaw_bike_stats_spark.operators import pipeline as P

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return P.shuffle_corpus(docs).orderBy("doc_id")


def q_table_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style keyed diff of two corpus versions (operators/
    table_diff.py): v2 deterministically drops doc_id%7==0, rewrites
    text for doc_id%5==0, and appends new ids. One full-outer shuffle
    on the key; change detection via content hash (oracle compares
    columns directly — agreement = no hash collisions)."""
    from wroclaw_bike_stats_spark.operators.table_diff import table_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.orderBy("doc_id")
            .limit(10)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        )
    )
    return table_diff(docs, v2, "doc_id").orderBy("doc_id")


def q_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key report for o_custkey (operators/profile.py skew_report):
    top-10 heaviest keys with row share, deterministic tie-break."""
    from wroclaw_bike_stats_spark.operators.profile import skew_report

    orders = _t(spark, sf_dir, "orders")
    return skew_report(orders, "o_custkey", top_n=10)


def q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (operators/profile.py validate): all
    rules in one conditional-aggregation scan; NULL predicate counts
    as a violation."""
    from wroclaw_bike_stats_spark.operators.profile import validate

    orders = _t(spark, sf_dir, "orders")
    return validate(
        orders,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "key_not_null": F.col("o_orderkey").isNotNull(),
            "status_known": F.col("o_orderstatus").isin("F", "O", "P"),
            "priority_prefixed": F.col("o_orderpriority").rlike("^[1-5]-"),
        },
    )


# ---------------------------------------------------------------------------
# Driver contract.


def _acquire(spark: SparkSession) -> SparkSession:
    """Session acquisition boundary — ``entry()`` and every
    ``queries()`` callable route the driver-owned session through
    here, so the two confs the gate contract depends on are pinned in
    ONE place and the read helpers (``_t``, ``_events_in_range``)
    stay free of global side effects:

    - ``spark.sql.session.timeZone=UTC``: to_date/hour/date_format
      and string→timestamp literal coercion read the session tz at
      ACTION time; a non-UTC driver session would silently diverge
      from the naive-UTC DuckDB oracle.
    - ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver's
      events.parquet stores INT64 TIMESTAMP(NANOS), which the
      vectorized reader otherwise rejects.

    Unconditional on purpose: a driver may flip the tz between query
    calls (the non-UTC regression test does exactly that), and a
    conf.set is a driver-local map write — no Spark job, nothing to
    memoize."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def _with_session(fn: Callable[[SparkSession, str], DataFrame]):
    """Bind a query callable to the acquisition boundary; ``wraps``
    keeps its name, docstring and ``@_gate``/``@_shared_warm`` marks."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_acquire(spark), sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the one-pass daily metric family on sf0.001."""
    return q_daily_event_metrics(_acquire(spark), SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_*`` function, in definition order, keyed
    by its name without the prefix and bound to ``_acquire``."""
    return {
        name[2:]: _with_session(fn)
        for name, fn in globals().items()
        if name.startswith("q_")
    }


# Shared SQL fragments (keep in sync with operators/text.py).
_TOKENS = r"regexp_split_to_array(trim({c}), '\s+')"
_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_LANG_SETS = {
    "de": ["der", "die", "und", "das", "ist"],
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "est"],
}


def _sql_marker_count(lang: str) -> str:
    toks = _TOKENS.format(c="lower(text)")
    inlist = ", ".join(f"'{w}'" for w in _LANG_SETS[lang])
    return f"len(list_filter({toks}, x -> x IN ({inlist})))"


_SHINGLES_CTE = """
tok AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM documents
),
sh_all AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i : i + 2], ' ') AS shingle
    FROM tok,
         LATERAL unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
),
-- stop-shingle guard (df_cap=100): mirrors the Spark side — drop
-- shingles in >100 docs from both the index and the size counts.
stop AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) > 100),
sh AS (SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM stop)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""

# Near-dup pair graph → components via recursive-CTE reachability:
# labels spread along edges; min reachable id per node == the hash-min
# fixpoint the Spark operator computes. Shared by the two component
# oracles. Needs WITH RECURSIVE at the head of the statement.
_DECONTAM_NGRAM_SQL = r"""
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(toks[i : i + 4], ' ') AS g
        FROM tok,
             LATERAL unnest(range(1, greatest(len(toks) - 4, 1) + 1))
                 AS t(i)
    ),
    ev AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
    ),
    hit AS (
        SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM ev)
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM hit)
    ORDER BY doc_id
"""


# Gopher quality-rule signals in DuckDB — mirrors _gopher_signals
# exactly (coalesce NULL text to '', whitespace tokens of the trimmed
# text, lines split on \n, round(.,6)).
_GOPHER_SIGNALS_CTE = r"""
gg AS (
    SELECT doc_id, coalesce(text, '') AS t FROM documents
),
gs AS (
    SELECT doc_id, t,
           CASE WHEN trim(t) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(t), '\s+')) END AS wc,
           regexp_split_to_array(trim(t), '\s+') AS toks,
           string_split(t, chr(10)) AS lns
    FROM gg
),
gsig AS (
    SELECT doc_id,
        wc AS word_count,
        round(CASE WHEN len(toks) > 0 THEN
            list_aggregate(list_transform(toks, x -> length(x)), 'sum')
            * 1.0 / len(toks) ELSE 0.0 END, 6) AS mean_word_len,
        round((CASE WHEN wc > 0 THEN
            (length(t) - length(replace(t, '...', ''))) / 3
            + (length(t) - length(replace(t, '…', '')))
            + (length(t) - length(replace(t, '#', '')))
            ELSE 0 END) * 1.0 / greatest(wc, 1), 6) AS symbol_word_ratio,
        round(CASE WHEN wc > 0 THEN
            len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
            * 1.0 / wc ELSE 0.0 END, 6) AS alpha_word_frac,
        CASE WHEN wc > 0 THEN
            len(list_filter(list_transform(toks, x -> lower(x)),
                x -> x IN ('the','be','to','of','and','that','have','with')))
            ELSE 0 END AS n_stopwords,
        round(len(list_filter(lns,
                x -> left(trim(x), 1) IN ('-','*','•','‣','▪')))
              * 1.0 / greatest(len(lns), 1), 6) AS bullet_line_frac,
        round(len(list_filter(lns,
                x -> trim(x) LIKE '%...' OR trim(x) LIKE '%…'))
              * 1.0 / greatest(len(lns), 1), 6) AS ellipsis_line_frac
    FROM gs
)
"""


# Fuzzy-decontamination oracle: 3-gram Jaccard between every corpus
# doc and the every-50th-doc eval slice, exactly the pipeline
# operator's semantics (distinct whitespace shingles, short docs get
# one whole-doc shingle, round(jaccard, 6) compared at the threshold).
_FUZZY_DECONTAM_CTE = r"""
ftok AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
    FROM documents
),
fsh AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i : i + 2], ' ') AS shingle
    FROM ftok,
         LATERAL unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
),
fsizes AS (SELECT doc_id, count(*) AS n_sh FROM fsh GROUP BY doc_id),
fev AS (SELECT doc_id AS eid, shingle FROM fsh WHERE doc_id % 50 = 0),
finter AS (
    SELECT c.doc_id AS cid, e.eid, count(*) AS n_common
    FROM fsh c JOIN fev e ON c.shingle = e.shingle
    GROUP BY 1, 2
),
fpairs AS (
    SELECT cid, eid,
           round(n_common * 1.0 / (sc.n_sh + se.n_sh - n_common), 6)
               AS jaccard
    FROM finter
    JOIN fsizes sc ON sc.doc_id = cid
    JOIN fsizes se ON se.doc_id = eid
    WHERE round(n_common * 1.0 / (sc.n_sh + se.n_sh - n_common), 6) >= 0.5
)
"""


# SemDeDup oracle: k=8 deterministic centroids (min vec_ids), argmax-
# cosine assignment (ties to smallest centroid id — the Spark UDF's
# argmax-first-maximum over ids-ascending), within-cluster pairs at
# round(cos,6) >= 0.4. DOUBLE[] casts per the embedding_topk rationale.
_SEMDEDUP_CTE = """
cent AS (
    SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 8
),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                       c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
),
sd_pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6)
               AS cosine_sim
    FROM assign a
    JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6)
          >= 0.4
)
"""


# Full Charikar SimHash in SQL on the md5 audit hash (the
# base_hash="md5" engine arm): 2-token distinct shingles → base hash
# = first 8 bytes of md5(shingle) big-endian ('0x'||hex → UBIGINT) →
# bit b of the fingerprint = strict majority of bit b over the doc's
# shingle hashes (HUGEINT accumulation) → two's-complement fold to
# the BIGINT Spark's long carries. Shared by the simhash_groups and
# simhash_neardup oracles — ONE definition of the fingerprint.
_SIMHASH_MD5_CTE = """
tok AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i : i + 1], ' ') AS shingle
    FROM tok,
         LATERAL unnest(range(1, greatest(len(toks) - 1, 1) + 1)) AS t(i)
),
h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 16)) AS UBIGINT) AS hb
    FROM sh
),
bits AS (
    SELECT doc_id, b,
           count(*) FILTER (((hb >> b) & 1) = 1) AS ones,
           count(*) AS n
    FROM h CROSS JOIN range(64) AS t(b)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           sum(CASE WHEN 2 * ones > n
                    THEN CAST(1 AS HUGEINT) << b
                    ELSE 0 END) AS fpu
    FROM bits GROUP BY 1
),
sfp AS (
    SELECT doc_id,
           CAST(CASE WHEN fpu >= 9223372036854775808
                     THEN fpu - 18446744073709551616
                     ELSE fpu END AS BIGINT) AS simhash
    FROM fp
)
"""


def _minhash_perm_values() -> str:
    """The MinHash audit oracle's permutation constants as SQL VALUES
    rows — the SAME seeded stream the engine UDF draws (seed 42,
    a odd in [1, 2^63), b in [0, 2^63)); scheme parameters, not
    data, so embedding them keeps the oracle independent."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(1, 2**63, size=32, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 2**63, size=32, dtype=np.uint64)
    return ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(32)
    )


_MINHASH_PERM_VALUES = _minhash_perm_values()


_PCA_ORACLE_CACHE: dict = {}


def _pca_proj_cte() -> str | None:
    """The shared ``par`` + ``proj`` oracle CTE text: DuckDB selects
    an INDEPENDENTLY refit PCA model (duckdb read + numpy
    moments/eigh over the raw parquet — the geopy-oracle precedent)
    by an md5 fingerprint of the corpus's first vector, then projects
    + whitens every embedding in pure SQL over the embedded literals.
    One source of truth for every PCA-composed oracle
    (``semdedup_pca_composed``, ``ivf_pca_composed``). Returns None
    (those gates degrade to rows-only) if the testdata dirs are
    unavailable at build time."""
    if "cte" in _PCA_ORACLE_CACHE:
        return _PCA_ORACLE_CACHE["cte"]

    def fit(sf_dir: str):
        import duckdb
        import numpy as np

        con = duckdb.connect()
        src = f"read_parquet('{sf_dir}/embeddings.parquet')"
        rows = con.execute(
            f"SELECT embedding FROM {src} ORDER BY vec_id"
        ).fetchall()
        fp = con.execute(
            f"SELECT md5(CAST(embedding AS VARCHAR)) FROM {src} "
            f"WHERE vec_id = (SELECT min(vec_id) FROM {src})"
        ).fetchone()[0]
        M = np.array([np.asarray(r[0], np.float64) for r in rows])
        mu = M.mean(axis=0)
        cov = (M - mu).T @ (M - mu) / len(M)
        vals, vecs = np.linalg.eigh(cov)
        order = np.argsort(vals)[::-1][:8]
        comps = vecs[:, order].T.copy()
        for c in comps:  # sign pin: largest-|loading| coord positive
            p = np.argmax(np.abs(c))
            if c[p] < 0:
                c *= -1.0
        wcomps = comps / np.sqrt(vals[order] + 1e-9)[:, None]
        return fp, mu, wcomps

    def lit1(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    def lit2(m):
        return "[" + ", ".join(lit1(r) for r in m) + "]"

    try:
        fpa, mua, wca = fit("/root/testdata/sf0.001")
        fpb, mub, wcb = fit("/root/testdata/sf0.01")
    except Exception:
        _PCA_ORACLE_CACHE["cte"] = None
        return None
    cte = f"""
        par AS (
            SELECT CASE WHEN fp = '{fpa}' THEN {lit1(mua)}
                        ELSE {lit1(mub)} END AS mean_v,
                   CASE WHEN fp = '{fpa}' THEN {lit2(wca)}
                        ELSE {lit2(wcb)} END AS wcomps
            FROM (SELECT md5(CAST(embedding AS VARCHAR)) AS fp
                  FROM embeddings
                  WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
        ),
        proj AS (
            SELECT e.vec_id, e.label,
                   list_transform(p.wcomps, c -> list_inner_product(
                       list_transform(
                           range(1, len(p.mean_v) + 1),
                           i -> CAST(e.embedding[i] AS DOUBLE)
                                - p.mean_v[i]),
                       c)) AS pvec
            FROM embeddings e CROSS JOIN par p
        )"""
    _PCA_ORACLE_CACHE["cte"] = cte
    return cte


def _semdedup_pca_oracle() -> str | None:
    """Oracle SQL for ``semdedup_pca_composed``: DuckDB projects every
    embedding with a PCA model FIT INDEPENDENTLY of the engine
    (duckdb read + numpy moments/eigh over the raw parquet — the
    functions/distance.py geopy-oracle precedent: a third-party
    reference stack, not the code under test) and runs the
    assignment/pair/keep chain in pure SQL on the projections.

    The model depends on the corpus, and the driver (sf0.01) and the
    local differential (sf0.001) run the SAME static SQL string — so
    both models are embedded as literals and selected by an exact
    md5 fingerprint of the first vector, computed inside the query.
    Returns None (gate degrades to rows-only) if the testdata dirs
    are unavailable at build time."""
    if "sql" in _PCA_ORACLE_CACHE:
        return _PCA_ORACLE_CACHE["sql"]
    cte = _pca_proj_cte()
    if cte is None:
        _PCA_ORACLE_CACHE["sql"] = None
        return None
    sql = f"""
        WITH RECURSIVE
        {cte},
        pcent AS (
            SELECT vec_id AS cid, pvec AS cvec FROM proj
            ORDER BY vec_id LIMIT 8
        ),
        passign AS (
            SELECT vec_id, cid FROM (
                SELECT pr.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY pr.vec_id
                           ORDER BY list_cosine_similarity(
                                        pr.pvec, c.cvec) DESC,
                                    c.cid ASC) AS rn
                FROM proj pr CROSS JOIN pcent c
            ) WHERE rn = 1
        ),
        sd_pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM passign a
            JOIN passign b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN proj pa ON pa.vec_id = a.vec_id
            JOIN proj pb ON pb.vec_id = b.vec_id
            WHERE round(list_cosine_similarity(pa.pvec, pb.pvec), 6)
                  >= 0.9
        ),
        sd_edges AS (
            SELECT id_a AS u, id_b AS v FROM sd_pairs
            UNION ALL SELECT id_b AS u, id_a AS v FROM sd_pairs
        ),
        sd_walk(node, comp) AS (
            SELECT u, u FROM sd_edges
            UNION
            SELECT e.v, w.comp FROM sd_walk w
            JOIN sd_edges e ON e.u = w.node
        ),
        sd_comps AS (
            SELECT node, min(comp) AS component_id
            FROM sd_walk GROUP BY node
        )
        SELECT vec_id, label FROM proj
        WHERE vec_id NOT IN (SELECT node FROM sd_comps
                             WHERE node <> component_id)
        ORDER BY vec_id
    """
    _PCA_ORACLE_CACHE["sql"] = sql
    return sql


def _pca_evr_oracle() -> str | None:
    """Oracle SQL for ``pca_evr_bound``: an INDEPENDENT duckdb+numpy
    full-spectrum refit (the ``_pca_proj_cte`` precedent — covariance
    from the raw parquet through a different stack, numpy eigvalsh)
    computes the cumulative explained-variance curve for both test
    corpora; the static SQL selects the right one by the same md5
    fingerprint of the first vector and derives the per-k rows in
    SQL. Returns None (gate degrades to rows-only) if the testdata
    dirs are unavailable at build time."""
    if "evr_sql" in _PCA_ORACLE_CACHE:
        return _PCA_ORACLE_CACHE["evr_sql"]

    def fit(sf_dir: str):
        import duckdb
        import numpy as np

        con = duckdb.connect()
        src = f"read_parquet('{sf_dir}/embeddings.parquet')"
        rows = con.execute(
            f"SELECT embedding FROM {src} ORDER BY vec_id"
        ).fetchall()
        fp = con.execute(
            f"SELECT md5(CAST(embedding AS VARCHAR)) FROM {src} "
            f"WHERE vec_id = (SELECT min(vec_id) FROM {src})"
        ).fetchone()[0]
        M = np.array([np.asarray(r[0], np.float64) for r in rows])
        mu = M.mean(axis=0)
        cov = (M - mu).T @ (M - mu) / len(M)
        vals = np.sort(np.linalg.eigvalsh(cov))[::-1]
        curve = np.clip(
            np.cumsum(np.clip(vals, 0, None)) / np.trace(cov), 0.0, 1.0
        )
        return fp, curve

    def lit1(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    try:
        fpa, ca = fit("/root/testdata/sf0.001")
        fpb, cb = fit("/root/testdata/sf0.01")
    except Exception:
        _PCA_ORACLE_CACHE["evr_sql"] = None
        return None
    sql = f"""
        WITH fpq AS (
            SELECT md5(CAST(embedding AS VARCHAR)) AS fp FROM embeddings
            WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
        ),
        curve AS (
            SELECT CASE WHEN fp = '{fpa}' THEN {lit1(ca)}
                        ELSE {lit1(cb)} END AS c
            FROM fpq
        ),
        ks(k) AS (VALUES (2), (8), (32), (64))
        SELECT CAST(ks.k AS INT) AS k,
               round(curve.c[ks.k], 6) + 0.0 AS evr,
               curve.c[ks.k] < 0.5 AS warn_fired,
               CAST((SELECT min(t.i)
                     FROM (SELECT CAST(unnest(range(1, 65)) AS INT) AS i) t
                     WHERE curve.c[t.i] >= 0.5) AS INT) AS min_k_evr05
        FROM ks CROSS JOIN curve
        ORDER BY k
    """
    _PCA_ORACLE_CACHE["evr_sql"] = sql
    return sql


_COMPONENTS_CTE = (
    _SHINGLES_CTE
    + """,
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM pairs
),
walk(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node
),
comps AS (SELECT node, min(comp) AS component_id FROM walk GROUP BY node)
"""
)


def oracle_sql() -> dict[str, str]:
    out = {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_topk": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY o_orderkey, o_date
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "region_nation_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "topk_customers": """
            SELECT c_name, n_orders, total_spent FROM (
                SELECT o_custkey, count(*) AS n_orders,
                       round(sum(o_totalprice), 2) AS total_spent
                FROM orders GROUP BY o_custkey
            ) o JOIN customer ON o.o_custkey = c_custkey
            ORDER BY n_orders DESC, c_name ASC
            LIMIT 5
        """,
        "filter_project_part": """
            SELECT p_partkey, p_name, p_brand, p_size
            FROM part
            WHERE p_size > 20 AND p_type LIKE '%BRASS%'
        """,
        "hourly_histogram": """
            SELECT CAST(extract(hour FROM ts) AS VARCHAR) AS hour,
                   count(*) AS n_events
            FROM events
            GROUP BY 1
            ORDER BY CAST(hour AS INT)
        """,
        "daily_event_metrics": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
                   count(*) AS total_events,
                   round(sum(value), 3) AS total_value,
                   round(avg(value), 3) AS avg_value,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS purchases,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS errors,
                   count(DISTINCT user_id) AS active_users
            FROM events
            GROUP BY 1
            ORDER BY event_date
        """,
        "user_traffic_fullouter": """
            SELECT COALESCE(d.user_id, a.user_id) AS user_id,
                   COALESCE(d.purchases, 0) AS purchases,
                   COALESCE(a.views, 0) AS views,
                   COALESCE(d.purchases, 0) + COALESCE(a.views, 0) AS total
            FROM (SELECT user_id, count(*) AS purchases FROM events
                  WHERE event_type = 'purchase' GROUP BY user_id) d
            FULL OUTER JOIN
                 (SELECT user_id, count(*) AS views FROM events
                  WHERE event_type = 'view' GROUP BY user_id) a
            ON d.user_id = a.user_id
            ORDER BY total DESC, user_id ASC
            LIMIT 5
        """,
        "status_change_events": """
            SELECT event_id, user_id, prev_type, curr_type FROM (
                SELECT event_id, user_id,
                       event_type AS curr_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev_type
                FROM events
            ) WHERE prev_type IS NOT NULL AND prev_type <> curr_type
        """,
        "top_transitions": """
            SELECT prev_type, curr_type, count(*) AS n_transitions FROM (
                SELECT user_id,
                       event_type AS curr_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev_type
                FROM events
            ) WHERE prev_type IS NOT NULL AND prev_type <> curr_type
            GROUP BY prev_type, curr_type
            ORDER BY n_transitions DESC, prev_type ASC, curr_type ASC
            LIMIT 5
        """,
        "union_distinct_users": """
            SELECT user_id FROM events WHERE event_type = 'purchase'
            UNION
            SELECT user_id FROM events WHERE event_type = 'view'
        """,
        "user_first_last": """
            SELECT user_id,
                   arg_min(event_type, printf('%020d-%020d',
                       epoch_us(ts), event_id)) AS first_type,
                   arg_max(event_type, printf('%020d-%020d',
                       epoch_us(ts), event_id)) AS last_type,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
            FROM events
            GROUP BY user_id
            ORDER BY user_id
        """,
        "intersect_users": """
            SELECT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'error'
        """,
        "except_users": """
            SELECT user_id FROM events WHERE event_type = 'view'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "customers_with_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "rollup_order_stats": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST,
                     o_orderpriority ASC NULLS FIRST
        """,
        "order_count_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "large_orders_having": """
            SELECT c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                   round(o_totalprice, 2) AS total_price,
                   sum_qty
            FROM (
                SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING round(sum(l_quantity), 2) > 300
            ) big
            JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY total_price DESC, o_orderkey ASC
        """,
        "suppliers_above_avg": """
            WITH sr AS (
                SELECT l_suppkey,
                       sum(l_extendedprice * (1 - l_discount)) AS rev_raw
                FROM lineitem GROUP BY l_suppkey
            )
            SELECT s_name, round(rev_raw, 2) AS revenue
            FROM sr JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_raw > (SELECT avg(rev_raw) FROM sr)
            ORDER BY revenue DESC, s_name ASC
        """,
        "rich_customers_by_nation": """
            SELECT n_name,
                   count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
            GROUP BY n_name
            ORDER BY n_name
        """,
        "promo_revenue_share": """
            SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                   round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                     THEN l_extendedprice * (1 - l_discount)
                                     ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)),
                         4) AS promo_share,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
            ORDER BY ship_month
        """,
        "order_priority_late": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "shipping_volume_nations": """
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_1', 'NATION_2')
              AND n2.n_name IN ('NATION_1', 'NATION_2')
              AND n1.n_name <> n2.n_name
            GROUP BY 1, 2, 3
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "revenue_rank_by_nation": """
            SELECT n_name, c_name, revenue, CAST(rnk AS INT) AS rnk FROM (
                SELECT n_name, c_name, c_custkey, revenue,
                       rank() OVER (PARTITION BY n_name
                                    ORDER BY revenue DESC, c_custkey ASC) AS rnk
                FROM (
                    SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
                    FROM orders GROUP BY o_custkey
                ) s
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
            ) WHERE rnk <= 3
            ORDER BY n_name, rnk, c_name
        """,
        "running_customer_revenue": """
            -- window math on exact integer cents (see the Spark-side
            -- docstring: windowed double addition is association-order
            -- dependent across engines)
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                   round(o_totalprice, 2) AS order_price,
                   CAST(sum(cents) OVER w AS DOUBLE) / 100.0 AS running_total,
                   -- integer half-up mean, no fp round() (see Spark side)
                   CAST(floor((2 * sum(cents) OVER m + count(*) OVER m)
                              / (2.0 * count(*) OVER m)) AS DOUBLE)
                       / 100.0 AS moving_avg3
            FROM (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                  FROM orders WHERE o_custkey % 100 = 0)
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   m AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY o_custkey, o_date, o_orderkey
        """,
        "pivot_priority_status": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "distinct_event_dates": """
            SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
            FROM events ORDER BY event_date
        """,
        "latest_event_date": """
            SELECT strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS latest_date
            FROM events
        """,
        "range_reagg_busiest": """
            WITH per_day AS (
                SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
                       user_id, count(*) AS n_events
                FROM events GROUP BY 1, 2
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY event_date
                                             ORDER BY n_events DESC, user_id ASC) AS rn
                FROM per_day
            )
            SELECT user_id, CAST(sum(n_events) AS BIGINT) AS total_events
            FROM ranked WHERE rn <= 5
            GROUP BY user_id
            ORDER BY total_events DESC, user_id ASC
            LIMIT 5
        """,
        "range_series_daily": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
                   COALESCE(round(sum(value), 3), 0.0) AS value
            FROM events
            GROUP BY 1
            HAVING event_date >= '2024-01-05' AND event_date <= '2024-01-20'
            ORDER BY event_date
        """,
        "range_hist_avg": """
            WITH in_range AS (
                SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
                       extract(hour FROM ts) AS h
                FROM events
                WHERE strftime(CAST(ts AS DATE), '%Y-%m-%d')
                      BETWEEN '2024-01-05' AND '2024-01-20'
            ),
            per_hour AS (SELECT h, count(*) AS total FROM in_range GROUP BY h),
            n AS (SELECT greatest(count(DISTINCT event_date), 1) AS n_days
                  FROM in_range)
            SELECT CAST(hours.h AS VARCHAR) AS hour,
                   CAST(round(COALESCE(per_hour.total, 0) * 1.0 / n.n_days)
                        AS BIGINT) AS avg_events
            FROM range(24) AS hours(h)
            LEFT JOIN per_hour ON per_hour.h = hours.h
            CROSS JOIN n
            ORDER BY hours.h
        """,
        "range_reagg_routes": """
            WITH changes AS (
                SELECT event_id, prev_type, curr_type FROM (
                    SELECT event_id,
                           event_type AS curr_type,
                           lag(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS prev_type
                    FROM events
                ) WHERE prev_type IS NOT NULL AND prev_type <> curr_type
            ),
            dated AS (
                SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS event_date,
                       c.prev_type, c.curr_type
                FROM changes c JOIN events e ON c.event_id = e.event_id
                WHERE strftime(CAST(e.ts AS DATE), '%Y-%m-%d')
                      BETWEEN '2024-01-05' AND '2024-01-20'
            ),
            per_day AS (
                SELECT event_date, prev_type, curr_type, count(*) AS n
                FROM dated GROUP BY 1, 2, 3
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY event_date
                    ORDER BY n DESC, prev_type ASC, curr_type ASC) AS rn
                FROM per_day
            )
            SELECT prev_type || ' → ' || curr_type AS route,
                   CAST(sum(n) AS BIGINT) AS n_transitions
            FROM ranked WHERE rn <= 5
            GROUP BY 1
            ORDER BY n_transitions DESC, route ASC
            LIMIT 5
        """,
        "asof_last_purchase": """
            SELECT l.event_id, l.user_id,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
            FROM events l
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                            WHERE event_type = 'purchase') r
            ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join_error_window": """
            SELECT e.event_id AS error_event_id,
                   count(*) AS n_events
            FROM events e
            JOIN events ev
              ON ev.user_id = e.user_id
             AND epoch(ev.ts) >= epoch(e.ts)
             AND epoch(ev.ts) < epoch(e.ts) + 3600
            WHERE e.event_type = 'error'
            GROUP BY 1
            ORDER BY error_event_id
        """,
        "tumbling_window_agg": """
            SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS bucket_start,
                   count(*) AS n_events,
                   round(sum(value), 3) AS total_value
            FROM events
            GROUP BY 1
            ORDER BY bucket_start
        """,
        "sessionize": """
            -- floor(epoch(...)) per timestamp: Spark's unix_timestamp
            -- truncates to whole seconds BEFORE differencing; DuckDB's
            -- epoch() keeps fractional seconds, which both shifts gap
            -- decisions at the 1800s boundary and off-by-ones durations.
            WITH marked AS (
                SELECT user_id, ts,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR CAST(floor(epoch(ts)) AS BIGINT)
                                    - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                                    > 1800
                            THEN 1 ELSE 0 END AS is_start
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
                SELECT user_id, ts, ts_s,
                       sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM marked
            )
            SELECT user_id,
                   CAST(session_id AS BIGINT) AS session_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events,
                   max(ts_s) - min(ts_s) AS duration_s
            FROM sess
            GROUP BY user_id, session_id
        """,
        "cube_event_stats": """
            SELECT event_type,
                   CAST(dayofweek(ts) + 1 AS VARCHAR) AS dow,
                   count(*) AS n_events,
                   round(sum(value), 3) AS total_value
            FROM events
            GROUP BY CUBE (event_type, dow)
            ORDER BY event_type ASC NULLS FIRST, dow ASC NULLS FIRST
        """,
        "value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "dedup_exact": f"""
            SELECT md5({_NORM}) AS fingerprint,
                   min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents
            GROUP BY 1
            ORDER BY fingerprint
        """,
        "text_stats": f"""
            SELECT doc_id,
                   length(text) AS n_chars_calc,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len({_TOKENS.format(c='text')}) END AS n_tokens_ws,
                   len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_tokens_bpe,
                   round(CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[^.!?,;:"''()\\[\\]-]', '', 'g'))
                       * 1.0 / length(text) ELSE 0.0 END, 4) AS punct_ratio,
                   round(CASE WHEN len({_TOKENS.format(c='lower(text)')}) > 0 THEN
                       len(list_filter({_TOKENS.format(c='lower(text)')},
                           x -> x IN ('the','and','of','to','in')))
                       * 1.0 / len({_TOKENS.format(c='lower(text)')}) ELSE 0.0 END, 4)
                       AS stopword_ratio
            FROM documents
        """,
        "lang_id": f"""
            WITH counts AS (
                SELECT doc_id,
                       {_sql_marker_count('de')} AS c_de,
                       {_sql_marker_count('en')} AS c_en,
                       {_sql_marker_count('es')} AS c_es,
                       {_sql_marker_count('fr')} AS c_fr
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
                        WHEN c_de = greatest(c_de, c_en, c_es, c_fr) THEN 'de'
                        WHEN c_en = greatest(c_de, c_en, c_es, c_fr) THEN 'en'
                        WHEN c_es = greatest(c_de, c_en, c_es, c_fr) THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM counts
        """,
        "quality_scores": f"""
            WITH feats AS (
                SELECT doc_id,
                       length(text) AS n,
                       CASE WHEN length(text) > 0 THEN
                           length(regexp_replace(text, '[^.!?,;:"''()\\[\\]-]', '', 'g'))
                           * 1.0 / length(text) ELSE 0.0 END AS pr,
                       {_TOKENS.format(c='text')} AS toks,
                       {_TOKENS.format(c='lower(text)')} AS ltoks
                FROM documents
            ), scored AS (
                SELECT doc_id,
                       CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.0 END AS len_ok,
                       CASE WHEN pr < 0.2 THEN 1.0 ELSE 0.0 END AS punct_ok,
                       CASE WHEN len(toks) > 0
                                 AND list_aggregate(list_transform(toks, x -> length(x)), 'avg') >= 2.0
                                 AND list_aggregate(list_transform(toks, x -> length(x)), 'avg') <= 12.0
                            THEN 1.0 ELSE 0.0 END AS word_ok,
                       CASE WHEN len(ltoks) > 0 AND
                            len(list_filter(ltoks, x -> x IN ('the','and','of','to','in')))
                            * 1.0 / len(ltoks) > 0.01 THEN 1.0 ELSE 0.0 END AS sw_ok
                FROM feats
            )
            SELECT doc_id,
                   round(len_ok * 0.3 + punct_ok * 0.2 + word_ok * 0.3 + sw_ok * 0.2, 2)
                       AS quality
            FROM scored
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
        """,
        "ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        # LSH itself is hash-based (not SQL-expressible); the oracle
        # computes the EXACT pair count from the capless shingle CTE
        # and asserts the subset/recall invariants as literals — a
        # broken LSH pipeline flips the Spark-side booleans (or the
        # count) and the row goes red.
        "minhash_recall": """
            WITH tok AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       array_to_string(toks[i : i + 2], ' ') AS shingle
                FROM tok,
                     LATERAL unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            exact AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            )
            SELECT count(*) AS n_exact_pairs,
                   TRUE AS lsh_subset_of_exact,
                   TRUE AS recall_ge_090
            FROM exact
        """,
        "simhash_recall": """
            SELECT TRUE AS banded_equals_bruteforce, TRUE AS has_pairs
        """,
        # Banded-components contract: exact pair count from the
        # capless shingle CTE; the subset/recall/refinement booleans
        # are literals the Spark side must reproduce (a broken banded
        # route flips one and the row goes red).
        "banded_components_refinement": """
            WITH tok AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       array_to_string(toks[i : i + 2], ' ') AS shingle
                FROM tok,
                     LATERAL unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            exact AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            )
            SELECT count(*) AS n_exact_pairs,
                   TRUE AS banded_subset_of_exact,
                   TRUE AS recall_ge_090,
                   TRUE AS refinement_ok
            FROM exact
        """,
        "incremental_neardup_recall": """
            WITH tok AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       array_to_string(toks[i : i + 2], ' ') AS shingle
                FROM tok,
                     LATERAL unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            exact AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
                  AND (id_a % 5 = 0 OR id_b % 5 = 0)
            )
            SELECT count(*) AS n_exact_cross_pairs,
                   TRUE AS incr_subset_of_exact,
                   TRUE AS recall_ge_090
            FROM exact
        """,
        # Plain (unsalted) formulation of the salted join — parity
        # proves the salt spread is semantics-preserving.
        "salted_join_skew": """
            WITH sk AS (
                SELECT *,
                       CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END
                           AS skew_key
                FROM events
            ),
            dim AS (
                SELECT DISTINCT skew_key, (skew_key % 100) / 100.0 AS weight
                FROM sk
            )
            SELECT event_type,
                   count(*) AS n_rows,
                   round(sum(value + weight), 2) AS total
            FROM sk JOIN dim USING (skew_key)
            GROUP BY event_type
            ORDER BY event_type
        """,
        # Error-bound gates: exact side is real oracle math, the
        # ε-bound / invariant is a literal the Spark side must agree
        # with (see the q_* docstrings).
        "hll_bounds": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   TRUE AS hll_within_5pct
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "decontam_ngram": _DECONTAM_NGRAM_SQL,
        # The bloom route is a PREFILTER for the identical semantics —
        # verify=True makes its result equal the exact n-gram
        # decontamination, so the two gates share one oracle string.
        "decontam_bloom": _DECONTAM_NGRAM_SQL,
        "decontam_fuzzy": f"""
            WITH {_FUZZY_DECONTAM_CTE}
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT cid FROM fpairs)
            ORDER BY doc_id
        """,
        "fuzzy_contam_pairs": f"""
            WITH {_FUZZY_DECONTAM_CTE}
            SELECT cid AS doc_id, eid AS eval_id, jaccard FROM fpairs
            ORDER BY doc_id, eval_id
        """,
        "token_budget": r"""
            WITH per AS (
                SELECT source, lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN trim(coalesce(text, '')) = ''
                                     THEN 0
                                     ELSE len(regexp_split_to_array(
                                          trim(coalesce(text, '')), '\s+'))
                                END) AS BIGINT) AS n_tokens,
                       CAST(sum(octet_length(encode(coalesce(text, ''))))
                            AS BIGINT) AS n_bytes
                FROM documents
                GROUP BY source, lang
            )
            SELECT source, lang, n_docs, n_tokens, n_bytes,
                   round(n_tokens * 1.0 /
                         greatest((SELECT sum(n_tokens) FROM per), 1), 6)
                       AS token_share
            FROM per
            ORDER BY source, lang
        """,
        "temperature_mix": """
            -- rates rounded to 6 dp on BOTH sides before the hash
            -- accept: pow() ulp differences between engines cannot
            -- flip a bucket decision after the rounding
            WITH tcounts AS (
                SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ),
            ttot AS (
                SELECT sum(n) AS nn, sum(pow(n, 0.3)) AS sp FROM tcounts
            ),
            trates AS (
                SELECT lang, round(pow(n, 0.3) / sp * nn / n, 6) AS rate
                FROM tcounts, ttot
            ),
            tk AS (
                SELECT d.doc_id, d.lang,
                       CAST(floor(rate) AS BIGINT)
                       + CASE WHEN ((doc_id * 2654435761) % 4294967296)
                                   % 1000000
                              < CAST(round((rate - floor(rate)) * 1000000,
                                           0) AS BIGINT)
                              THEN 1 ELSE 0 END AS k
                FROM documents d JOIN trates USING (lang)
            )
            SELECT doc_id, lang, CAST(i AS BIGINT) AS copy
            FROM tk, LATERAL unnest(range(0, k)) AS t(i)
            ORDER BY doc_id, copy
        """,
        # The curation oracle chains the per-operator oracle fragments
        # (decontam anti-join, whitespace-token quality predicates,
        # 2-gram repetition share, keep-min dedup window, Knuth hash
        # split) as CTEs in pipeline order.
        "curate_pipeline": r"""
            WITH decon AS (
                SELECT doc_id, text FROM documents
                WHERE md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                      NOT IN (
                    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                    FROM documents WHERE doc_id % 50 = 0)
            ),
            tok AS (
                SELECT doc_id, text,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM decon
            ),
            qual AS (
                SELECT doc_id, text, toks FROM tok
                WHERE (CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END)
                          BETWEEN 10 AND 100000
                  AND (CASE WHEN len(toks) > 0
                       THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                  / len(toks)
                       ELSE 0.0 END) <= 0.9
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1]))
                           AS g
                FROM qual
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            rep AS (SELECT doc_id, max(c) AS top2, sum(c) AS tot
                    FROM gc GROUP BY 1),
            repq AS (
                SELECT q.doc_id, q.text
                FROM qual q LEFT JOIN rep ON q.doc_id = rep.doc_id
                WHERE coalesce(CAST(rep.top2 AS DOUBLE) / rep.tot, 0.0) <= 0.5
            ),
            dedup AS (
                SELECT doc_id FROM (
                    SELECT doc_id, row_number() OVER (
                        PARTITION BY md5(regexp_replace(trim(lower(text)),
                                                        '\s+', ' ', 'g'))
                        ORDER BY doc_id) AS rn
                    FROM repq
                ) WHERE rn = 1
            )
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ((doc_id * 2654435761) % 4294967296) % 100 AS b
                  FROM dedup)
            ORDER BY doc_id
        """,
        # curate_pipeline_rep: the curate_pipeline chain with the
        # full Gopher repetition stage ON (staged doubled-text
        # signal). The repetition block mirrors the engine's fused
        # signals: segment dup fractions (line + paragraph), top-
        # {2,3,4}-gram CHARACTER shares with the (count, char-len)
        # tie-break, and the overlap-aware duplicate-n-gram char
        # coverage n=5..10 via an interval-union window sweep over
        # token start positions — every signal rounded to 4 dp
        # before its bound.
        "curate_pipeline_rep": r"""
            WITH staged AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 11 = 3
                            THEN text || ' ' || text
                            ELSE text END AS text
                FROM documents
            ),
            decon AS (
                SELECT doc_id, text FROM staged
                WHERE md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                      NOT IN (
                    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                    FROM staged WHERE doc_id % 50 = 0)
            ),
            tok AS (
                SELECT doc_id, text,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM decon
            ),
            qual AS (
                SELECT doc_id, text, toks,
                       len(array_to_string(toks, ' ')) AS total
                FROM tok
                WHERE (CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END)
                          BETWEEN 10 AND 100000
                  AND (CASE WHEN len(toks) > 0
                       THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                  / len(toks)
                       ELSE 0.0 END) <= 0.9
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1]))
                           AS g
                FROM qual
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            rep AS (SELECT doc_id, max(c) AS top2, sum(c) AS tot
                    FROM gc GROUP BY 1),
            repq AS (
                SELECT q.doc_id, q.text, q.toks, q.total
                FROM qual q LEFT JOIN rep ON q.doc_id = rep.doc_id
                WHERE coalesce(CAST(rep.top2 AS DOUBLE) / rep.tot, 0.0) <= 0.5
            ),
            segv AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           list_filter(list_transform(
                               string_split(text, chr(10)), s -> trim(s)),
                               s -> s <> '') AS lsegs,
                           list_filter(list_transform(
                               string_split_regex(text, '\n{2,}'),
                               s -> trim(s)), s -> s <> '') AS psegs
                    FROM repq
                )
                WHERE round(CASE WHEN len(lsegs) > 0
                      THEN 1.0 - CAST(len(list_distinct(lsegs)) AS DOUBLE)
                                 / len(lsegs) ELSE 0.0 END, 4) > 0.30
                   OR round(CASE WHEN coalesce(list_aggregate(
                            list_transform(lsegs, s -> len(s)), 'sum'), 0) > 0
                      THEN CAST(list_aggregate(list_transform(lsegs, s -> len(s)), 'sum')
                                - list_aggregate(list_transform(
                                      list_distinct(lsegs), s -> len(s)), 'sum')
                                AS DOUBLE)
                           / list_aggregate(list_transform(lsegs, s -> len(s)), 'sum')
                      ELSE 0.0 END, 4) > 0.20
                   OR round(CASE WHEN len(psegs) > 0
                      THEN 1.0 - CAST(len(list_distinct(psegs)) AS DOUBLE)
                                 / len(psegs) ELSE 0.0 END, 4) > 0.30
                   OR round(CASE WHEN coalesce(list_aggregate(
                            list_transform(psegs, s -> len(s)), 'sum'), 0) > 0
                      THEN CAST(list_aggregate(list_transform(psegs, s -> len(s)), 'sum')
                                - list_aggregate(list_transform(
                                      list_distinct(psegs), s -> len(s)), 'sum')
                                AS DOUBLE)
                           / list_aggregate(list_transform(psegs, s -> len(s)), 'sum')
                      ELSE 0.0 END, 4) > 0.20
            ),
            tp AS (
                SELECT doc_id, i, len(toks[i]) AS L,
                       coalesce(sum(len(toks[i]) + 1) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS s
                FROM repq, LATERAL unnest(range(1, len(toks) + 1)) AS t(i)
            ),
            topg AS (
                SELECT doc_id, nn,
                       array_to_string(toks[i : i + nn - 1], ' ') AS g,
                       len(array_to_string(toks[i : i + nn - 1], ' ')) AS glen
                FROM repq, LATERAL unnest([2, 3, 4]) AS nv(nn),
                     LATERAL unnest(range(1, greatest(len(toks) - nn + 1, 0)
                                             + 1)) AS t(i)
                WHERE len(toks) >= nn
            ),
            topc AS (SELECT doc_id, nn, g, glen, count(*) AS c
                     FROM topg GROUP BY 1, 2, 3, 4),
            topv AS (
                SELECT tc.doc_id FROM (
                    SELECT doc_id, nn,
                           max_by(c, c * 1000000000 + glen) AS bc,
                           max_by(glen, c * 1000000000 + glen) AS bl
                    FROM topc GROUP BY doc_id, nn
                ) tc JOIN repq r ON r.doc_id = tc.doc_id
                WHERE r.total > 0
                  AND round(least(CAST(bc * bl AS DOUBLE) / r.total, 1.0), 4)
                      > (CASE tc.nn WHEN 2 THEN 0.20 WHEN 3 THEN 0.18
                                    ELSE 0.16 END)
            ),
            mg AS (
                SELECT tpa.doc_id, nv.nn,
                       array_to_string(r.toks[tpa.i : tpa.i + nv.nn - 1], ' ')
                           AS g,
                       tpa.s AS gs, tpb.s + tpb.L AS ge
                FROM repq r, LATERAL unnest([5, 6, 7, 8, 9, 10]) AS nv(nn),
                     tp tpa, tp tpb
                WHERE tpa.doc_id = r.doc_id AND tpb.doc_id = r.doc_id
                  AND len(r.toks) >= nv.nn
                  AND tpa.i <= len(r.toks) - nv.nn + 1
                  AND tpb.i = tpa.i + nv.nn - 1
            ),
            mdup AS (
                SELECT doc_id, nn, gs, ge
                FROM (SELECT *, count(*) OVER (
                          PARTITION BY doc_id, nn, g) AS c FROM mg)
                WHERE c > 1
            ),
            sweep AS (
                SELECT doc_id, nn, gs, ge,
                       max(ge) OVER (PARTITION BY doc_id, nn
                                     ORDER BY gs, ge
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_e
                FROM mdup
            ),
            maskv AS (
                SELECT cv.doc_id FROM (
                    SELECT doc_id, nn,
                           sum(greatest(0, ge - greatest(gs,
                               coalesce(prev_e, 0)))) AS covered
                    FROM sweep GROUP BY doc_id, nn
                ) cv JOIN repq r ON r.doc_id = cv.doc_id
                WHERE r.total > 0
                  AND round(CAST(covered AS DOUBLE) / r.total, 4)
                      > (CASE cv.nn WHEN 5 THEN 0.15 WHEN 6 THEN 0.14
                                    WHEN 7 THEN 0.13 WHEN 8 THEN 0.12
                                    WHEN 9 THEN 0.11 ELSE 0.10 END)
            ),
            repkeep AS (
                SELECT doc_id, text FROM repq
                WHERE doc_id NOT IN (SELECT doc_id FROM segv)
                  AND doc_id NOT IN (SELECT doc_id FROM topv)
                  AND doc_id NOT IN (SELECT doc_id FROM maskv)
            ),
            dedup AS (
                SELECT doc_id FROM (
                    SELECT doc_id, row_number() OVER (
                        PARTITION BY md5(regexp_replace(trim(lower(text)),
                                                        '\s+', ' ', 'g'))
                        ORDER BY doc_id) AS rn
                    FROM repkeep
                ) WHERE rn = 1
            )
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ((doc_id * 2654435761) % 4294967296) % 100 AS b
                  FROM dedup)
            ORDER BY doc_id
        """,
        # DSIR: bucket hashing via the md5-prefix portable scheme
        # (bit-identical in both engines — probed), smoothing and
        # domain arithmetic mirrored term by term; logw rounded 4 dp
        # BEFORE the Gumbel key add, same as the Spark side.
        "dsir_scores": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\s+') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id,
                       unnest(list_concat(
                           toks,
                           list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i + 1])
                       )) AS g
                FROM t
            ), b AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)
                           % 4096 AS bucket
                FROM g
            ),
            tc AS (SELECT bucket, count(*) AS c FROM b
                   WHERE doc_id % 9 = 1 GROUP BY bucket),
            rc AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
            tt AS (SELECT sum(c) AS s FROM tc),
            rt AS (SELECT sum(c) AS s FROM rc),
            lr AS (
                SELECT d.bucket,
                       ln((coalesce(tc.c, 0) + 0.5) / (tt.s + 0.5 * 4096))
                     - ln((coalesce(rc.c, 0) + 0.5) / (rt.s + 0.5 * 4096))
                           AS logratio
                FROM (SELECT unnest(range(4096)) AS bucket) d
                LEFT JOIN tc USING (bucket)
                LEFT JOIN rc USING (bucket)
                CROSS JOIN tt CROSS JOIN rt
            )
            SELECT b.doc_id,
                   count(*) AS n_grams,
                   round(sum(lr.logratio), 4) AS logw
            FROM b JOIN lr USING (bucket)
            GROUP BY b.doc_id
            ORDER BY b.doc_id
        """,
        # Scheme-consistency contract: the exact integers (doc count,
        # total gram count over the coalesce(text,'') featurization)
        # are real SQL; the robustness booleans are literals the
        # Spark side must reproduce under both bucket schemes.
        "dsir_scheme_consistency": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\s+') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id,
                       unnest(list_concat(
                           toks,
                           list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i + 1])
                       )) AS g
                FROM t
            )
            SELECT (SELECT count(*) FROM documents) AS n_docs,
                   count(*) AS n_grams_total,
                   TRUE AS gram_counts_match,
                   TRUE AS spearman_ge_095,
                   TRUE AS resample_overlap_ge_080
            FROM g
        """,
        "nb_scheme_consistency": """
            SELECT count(*) AS n_docs,
                   TRUE AS pred_agreement_ge_090
            FROM documents
        """,
        "dsir_resample": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\s+') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id,
                       unnest(list_concat(
                           toks,
                           list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i + 1])
                       )) AS g
                FROM t
            ), b AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)
                           % 4096 AS bucket
                FROM g
            ),
            tc AS (SELECT bucket, count(*) AS c FROM b
                   WHERE doc_id % 9 = 1 GROUP BY bucket),
            rc AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
            tt AS (SELECT sum(c) AS s FROM tc),
            rt AS (SELECT sum(c) AS s FROM rc),
            lr AS (
                SELECT d.bucket,
                       ln((coalesce(tc.c, 0) + 0.5) / (tt.s + 0.5 * 4096))
                     - ln((coalesce(rc.c, 0) + 0.5) / (rt.s + 0.5 * 4096))
                           AS logratio
                FROM (SELECT unnest(range(4096)) AS bucket) d
                LEFT JOIN tc USING (bucket)
                LEFT JOIN rc USING (bucket)
                CROSS JOIN tt CROSS JOIN rt
            ),
            sc AS (
                SELECT b.doc_id,
                       round(sum(lr.logratio), 4) AS logw
                FROM b JOIN lr USING (bucket)
                GROUP BY b.doc_id
            ),
            keyed AS (
                SELECT doc_id, logw,
                       logw + (-ln(-ln(
                           (((doc_id * 2654435761) % 4294967296) + 0.5)
                           / 4294967296.0))) AS k0
                FROM sc
            ),
            sel AS (
                SELECT doc_id, logw, k0 FROM keyed
                ORDER BY k0 DESC, doc_id ASC LIMIT 100
            )
            SELECT doc_id, logw, round(k0, 4) AS key
            FROM sel ORDER BY doc_id
        """,
        # ppl_buckets: the bigram_lm_ppl scoring CTEs + standard-SQL
        # NTILE(3) over (ppl NULLS LAST, doc_id) — identical tercile
        # remainder semantics in both engines.
        "ppl_buckets": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), ref AS (
                SELECT * FROM t WHERE doc_id % 7 = 3
            ), uni AS (
                SELECT w, count(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w
            ), v AS (
                SELECT count(*) + 1 AS vs FROM uni
            ), bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM (SELECT toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                      FROM ref,
                           LATERAL (SELECT unnest(range(len(toks) - 1))
                                    AS i) u
                      WHERE len(toks) >= 2)
                GROUP BY w1, w2
            ), db AS (
                SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) u
                WHERE len(toks) >= 2
            ), sc AS (
                SELECT db.doc_id,
                       log2((coalesce(bi.c12, 0) + 0.1)
                            / (coalesce(uni.c1, 0) + 0.1 * v.vs)) AS lp
                FROM db
                LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
                LEFT JOIN uni ON db.w1 = uni.w
                CROSS JOIN v
            ), agg AS (
                SELECT doc_id,
                       round(pow(2.0, round(avg(-lp), 4)), 4) AS ppl
                FROM sc GROUP BY doc_id
            ), p AS (
                SELECT t.doc_id, agg.ppl
                FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            ), tiled AS (
                SELECT doc_id, ppl,
                       ntile(3) OVER (ORDER BY ppl NULLS LAST, doc_id)
                           AS tile
                FROM p
            )
            SELECT doc_id, ppl,
                   CASE tile WHEN 1 THEN 'head'
                             WHEN 2 THEN 'middle'
                             ELSE 'tail' END AS bucket
            FROM tiled ORDER BY doc_id
        """,
        # NB classifier: same portable bucketing as dsir_scores; the
        # argmax runs over 4-dp-ROUNDED scores in both engines, and
        # the first-true-wins CASE chain mirrors the Spark
        # first-class tie-break exactly.
        "nb_lang_predict": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\s+') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id,
                       unnest(list_concat(
                           toks,
                           list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i + 1])
                       )) AS g
                FROM t
            ), b AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)
                           % 4096 AS bucket
                FROM g
            ),
            lb AS (
                SELECT d.lang AS cls, b.bucket
                FROM b JOIN documents d USING (doc_id)
                WHERE d.doc_id % 3 <> 0
            ),
            cnt AS (SELECT cls, bucket, count(*) AS c FROM lb GROUP BY 1, 2),
            tot AS (SELECT cls, sum(c) AS s FROM cnt GROUP BY 1),
            cl AS (SELECT * FROM (VALUES ('de'), ('en'), ('es'), ('fr'),
                                         ('zh')) c(cls)),
            w AS (
                SELECT dom.bucket, cl.cls,
                       ln((coalesce(cnt.c, 0) + 0.5)
                          / (tot.s + 0.5 * 4096)) AS w
                FROM (SELECT unnest(range(4096)) AS bucket) dom
                CROSS JOIN cl
                LEFT JOIN cnt ON cnt.bucket = dom.bucket
                             AND cnt.cls = cl.cls
                JOIN tot ON tot.cls = cl.cls
            ),
            pr AS (
                SELECT lang AS cls,
                       ln(CAST(count(*) AS DOUBLE) / (
                           SELECT count(*) FROM documents
                           WHERE doc_id % 3 <> 0)) AS p
                FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
            ),
            sc AS (
                SELECT b.doc_id, w.cls, sum(w.w) AS s
                FROM b JOIN w USING (bucket)
                GROUP BY 1, 2
            ),
            wide AS (
                SELECT sc.doc_id,
                       round(max(CASE WHEN sc.cls = 'de'
                                 THEN sc.s + pr.p END), 4) AS score_de,
                       round(max(CASE WHEN sc.cls = 'en'
                                 THEN sc.s + pr.p END), 4) AS score_en,
                       round(max(CASE WHEN sc.cls = 'es'
                                 THEN sc.s + pr.p END), 4) AS score_es,
                       round(max(CASE WHEN sc.cls = 'fr'
                                 THEN sc.s + pr.p END), 4) AS score_fr,
                       round(max(CASE WHEN sc.cls = 'zh'
                                 THEN sc.s + pr.p END), 4) AS score_zh
                FROM sc JOIN pr ON pr.cls = sc.cls
                GROUP BY sc.doc_id
            )
            SELECT doc_id, score_de, score_en, score_es, score_fr,
                   score_zh,
                   CASE WHEN score_de >= score_en AND score_de >= score_es
                         AND score_de >= score_fr AND score_de >= score_zh
                        THEN 'de'
                        WHEN score_en >= score_es AND score_en >= score_fr
                         AND score_en >= score_zh THEN 'en'
                        WHEN score_es >= score_fr AND score_es >= score_zh
                        THEN 'es'
                        WHEN score_fr >= score_zh THEN 'fr'
                        ELSE 'zh' END AS pred
            FROM wide ORDER BY doc_id
        """,
        # Chains the curate_pipeline CTEs + the bigram_lm_ppl scoring
        # CTEs (over survivors, model trained on the raw %7==3 slice)
        # + the span_strip CTEs (over dedup survivors). Band [23, 40]
        # on 4-dp-rounded ppl matches the Spark gate exactly.
        "curate_pipeline_full": r"""
            WITH decon AS (
                SELECT doc_id, text FROM documents
                WHERE md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                      NOT IN (
                    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                    FROM documents WHERE doc_id % 50 = 0)
            ),
            tok AS (
                SELECT doc_id, text,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM decon
            ),
            qual AS (
                SELECT doc_id, text, toks FROM tok
                WHERE (CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END)
                          BETWEEN 10 AND 100000
                  AND (CASE WHEN len(toks) > 0
                       THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                  / len(toks)
                       ELSE 0.0 END) <= 0.9
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1]))
                           AS g
                FROM qual
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            rep AS (SELECT doc_id, max(c) AS top2, sum(c) AS tot
                    FROM gc GROUP BY 1),
            repq AS (
                SELECT q.doc_id, q.text, q.toks
                FROM qual q LEFT JOIN rep ON q.doc_id = rep.doc_id
                WHERE coalesce(CAST(rep.top2 AS DOUBLE) / rep.tot, 0.0) <= 0.5
            ),
            lmref AS (
                SELECT regexp_split_to_array(trim(coalesce(text, '')),
                                             '\s+') AS rtoks
                FROM documents WHERE doc_id % 7 = 3
            ),
            uni AS (
                SELECT w, count(*) AS c1
                FROM (SELECT unnest(rtoks) AS w FROM lmref) GROUP BY w
            ),
            v AS (SELECT count(*) + 1 AS vs FROM uni),
            bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM (SELECT rtoks[u.i + 1] AS w1, rtoks[u.i + 2] AS w2
                      FROM lmref,
                           LATERAL (SELECT unnest(range(len(rtoks) - 1))
                                    AS i) u
                      WHERE len(rtoks) >= 2)
                GROUP BY w1, w2
            ),
            db AS (
                SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                FROM repq, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) u
                WHERE len(toks) >= 2
            ),
            sc AS (
                SELECT db.doc_id,
                       log2((coalesce(bi.c12, 0) + 0.1)
                            / (coalesce(uni.c1, 0) + 0.1 * v.vs)) AS lp
                FROM db
                LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
                LEFT JOIN uni ON db.w1 = uni.w
                CROSS JOIN v
            ),
            pplt AS (
                SELECT doc_id,
                       round(pow(2.0, round(avg(-lp), 4)), 4) AS ppl
                FROM sc GROUP BY doc_id
            ),
            pplq AS (
                SELECT r.doc_id, r.text, r.toks
                FROM repq r LEFT JOIN pplt ON r.doc_id = pplt.doc_id
                WHERE pplt.ppl IS NULL
                   OR (pplt.ppl >= 23.0 AND pplt.ppl <= 40.0)
            ),
            dedup AS (
                SELECT doc_id, toks FROM (
                    SELECT doc_id, toks, row_number() OVER (
                        PARTITION BY md5(regexp_replace(trim(lower(text)),
                                                        '\s+', ' ', 'g'))
                        ORDER BY doc_id) AS rn
                    FROM pplq
                ) WHERE rn = 1
            ),
            s AS (
                SELECT doc_id, CAST(u.p AS INTEGER) AS pos,
                       array_to_string(toks[u.p + 1 : u.p + 13], ' ') AS win
                FROM dedup, LATERAL (SELECT unnest(range(len(toks) - 12)) AS p) u
                WHERE len(toks) >= 13
            ),
            c AS (
                SELECT doc_id, pos, cnt,
                       row_number() OVER (PARTITION BY win
                                          ORDER BY doc_id, pos) AS rn
                FROM (SELECT *, count(*) OVER (PARTITION BY win) AS cnt
                      FROM s)
            ),
            r AS (SELECT doc_id, pos FROM c WHERE cnt >= 2 AND rn > 1),
            b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > lag(pos) OVER w + 13 THEN 1
                            ELSE 0 END AS brk
                FROM r WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            g AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS isl
                FROM b
            ),
            sp AS (
                SELECT doc_id, min(pos) AS st, max(pos) + 13 AS en
                FROM g GROUP BY doc_id, isl
            ),
            tok2 AS (
                SELECT doc_id, CAST(u.i AS INTEGER) AS i,
                       toks[u.i + 1] AS t
                FROM dedup, LATERAL (SELECT unnest(range(len(toks))) AS i) u
            ),
            kept AS (
                SELECT k.doc_id, k.i, k.t
                FROM tok2 k
                WHERE NOT EXISTS (
                    SELECT 1 FROM sp
                    WHERE sp.doc_id = k.doc_id
                      AND sp.st <= k.i AND k.i < sp.en
                )
            ),
            rebuilt AS (
                SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text_clean
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(rebuilt.text_clean, '') AS text,
                   CASE WHEN b2 < 80 THEN 'train'
                        WHEN b2 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ((doc_id * 2654435761) % 4294967296) % 100 AS b2
                  FROM dedup) d
            LEFT JOIN rebuilt ON d.doc_id = rebuilt.doc_id
            ORDER BY d.doc_id
        """,
        # HAVING mirrors the operator's contract: a key whose values
        # are ALL NULL has no (key, value) pair after the stage-1
        # group, so it is absent from the output (not a 0 row).
        "skew_safe_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY event_type
            HAVING count(user_id) > 0
            ORDER BY event_type
        """,
        "approx_quantile_bounds": """
            SELECT round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99,
                   TRUE AS approx_within_1pct
            FROM events
        """,
        "ivf_recall": """
            SELECT count(*) AS n_queries, TRUE AS recall_ge_060
            FROM embeddings WHERE vec_id < 5
        """,
        "simhash_exactdup_consistency": f"""
            SELECT count(*) AS n_dup_groups, TRUE AS simhash_consistent
            FROM (
                SELECT md5({_NORM}) AS fp
                FROM documents
                GROUP BY 1
                HAVING count(*) > 1
            )
        """,
        "profile_orders": "\nUNION ALL\n".join(
            f"""
            SELECT '{c}' AS "column",
                   count(*) AS n_rows,
                   count(*) - count({c}) AS n_null,
                   count(DISTINCT {c}) AS n_distinct,
                   CAST(min({c}) AS VARCHAR) AS min_value,
                   CAST(max({c}) AS VARCHAR) AS max_value
            FROM orders
            """
            for c in [
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ]
        )
        + ' ORDER BY "column"',
        "lineitem_stats": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4)
                       AS qty_price_corr,
                   round(stddev_samp(l_extendedprice), 2) AS price_stddev,
                   round(var_samp(l_quantity), 3) AS qty_var,
                   round(covar_samp(l_quantity, l_extendedprice), 2)
                       AS qty_price_covar
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "tfidf_top_terms": """
            WITH tf AS (
                SELECT doc_id, term, count(*) AS tf FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(trim(lower(text)),
                                                        '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
                GROUP BY doc_id, term
            ),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, term, tfidf, rn FROM (
                SELECT tf.doc_id, tf.term,
                       round(tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)),
                             4) AS tfidf,
                       CAST(row_number() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY tf.tf * ln((n.n_docs + 1.0)
                                               / (dfq.df + 1.0)) DESC,
                                    tf.term ASC) AS INT) AS rn
                FROM tf JOIN dfq USING (term) CROSS JOIN n
            ) WHERE rn <= 3
            ORDER BY doc_id, rn
        """,
        "term_df": """
            SELECT term, count(*) AS n_docs FROM (
                SELECT DISTINCT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)),
                                                    '\\s+')) AS term
                FROM documents
            )
            WHERE term <> ''
            GROUP BY term
            ORDER BY n_docs DESC, term ASC
            LIMIT 20
        """,
        "neardup_components": f"""
            WITH RECURSIVE {_COMPONENTS_CTE}
            SELECT node AS doc_id, component_id
            FROM comps
            ORDER BY doc_id
        """,
        # auto-route contract: exact side = node count of the capped
        # pair graph; the agreement/probe booleans are literals the
        # Spark side must reproduce (a flipped default goes red).
        "neardup_route_auto": f"""
            -- Scale-safe since r10 (mirrors q_neardup_route_auto):
            -- the node count / route equality are checked only in the
            -- exact regime (documents <= {D.NEARDUP_EXACT_MAX_DOCS},
            -- the Spark side's NEARDUP_EXACT_MAX_DOCS); above it both
            -- collapse to the documented sentinels. The probe
            -- booleans are Spark-side contract literals (they test
            -- the Python route function), pinned TRUE here.
            WITH {_SHINGLES_CTE},
            -- sh_g gates the quadratic shingle self-join on the SAME
            -- corpus-size predicate as the CASE below, so in the
            -- banded regime the exact pair join runs on an empty
            -- input instead of computing a sum(df^2) result the CASE
            -- would discard; values are identical in both regimes
            sh_g AS (
                SELECT * FROM sh
                WHERE (SELECT count(*) FROM documents)
                      <= {D.NEARDUP_EXACT_MAX_DOCS}
            ),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_common
                FROM sh_g a
                JOIN sh_g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            ),
            nodes AS (
                SELECT id_a AS node FROM pairs
                UNION
                SELECT id_b AS node FROM pairs
            )
            SELECT CASE WHEN (SELECT count(*) FROM documents)
                             <= {D.NEARDUP_EXACT_MAX_DOCS}
                        THEN (SELECT count(*) FROM nodes)
                        ELSE -1 END AS n_pair_nodes_exact_regime,
                   TRUE AS routes_agree_in_exact_regime,
                   TRUE AS probe_matches_bound,
                   TRUE AS probe_banded_above_bound,
                   TRUE AS hint_zero_job_arms_ok
        """,
        "neardup_dedup_keep": f"""
            WITH RECURSIVE {_COMPONENTS_CTE}
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT node FROM comps
                                 WHERE node <> component_id)
            ORDER BY doc_id
        """,
        "embedding_topk": """
            -- embeddings are FLOAT[]; cast to DOUBLE[] so the cosine is
            -- computed in the same (double) precision as the Spark side —
            -- DuckDB's float32 round() keeps representation noise that
            -- survives round(x, 6) and breaks the value hash.
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS q_vec
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(
                           q.q_vec, CAST(e.embedding AS DOUBLE[])), 6)
                           AS cosine_sim
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, cosine_sim, rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 10
        """,
        "embedding_neardup": """
            -- DOUBLE[] cast: same precision rationale as embedding_topk.
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6)
                       AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 6) >= 0.8
        """,
        "semdedup_pairs": f"""
            WITH {_SEMDEDUP_CTE}
            SELECT id_a, id_b, cosine_sim FROM sd_pairs
            ORDER BY id_a, id_b
        """,
        "embedding_quantize": """
            WITH nv AS (
                SELECT vec_id,
                       CAST(embedding AS DOUBLE[]) AS e,
                       sqrt(list_inner_product(
                           CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings
            )
            SELECT vec_id,
                   CAST(i - 1 AS INTEGER) AS q_idx,
                   CAST(CASE WHEN nrm = 0 OR isnan(nrm) THEN 0
                             ELSE round(e[i] / nrm * 127.0) END
                        AS TINYINT) AS q
            FROM nv, unnest(range(1, len(e) + 1)) AS t(i)
            ORDER BY vec_id, q_idx
        """,
        "pair_density_profile": f"""
            WITH {_SEMDEDUP_CTE},
            samp AS (
                SELECT vec_id, cid FROM (
                    SELECT a.vec_id, a.cid,
                           row_number() OVER (
                               PARTITION BY a.cid
                               ORDER BY a.vec_id) AS srn
                    FROM assign a
                ) WHERE srn <= 64
            ),
            sp AS (
                SELECT s1.cid,
                       count(*) AS sampled_pairs,
                       sum(CASE WHEN round(list_cosine_similarity(
                               CAST(ea.embedding AS DOUBLE[]),
                               CAST(eb.embedding AS DOUBLE[])), 6)
                               >= 0.4 THEN 1 ELSE 0 END)
                           AS sampled_hits
                FROM samp s1
                JOIN samp s2 ON s1.cid = s2.cid
                            AND s1.vec_id < s2.vec_id
                JOIN embeddings ea ON ea.vec_id = s1.vec_id
                JOIN embeddings eb ON eb.vec_id = s2.vec_id
                GROUP BY s1.cid
            ),
            sz AS (
                SELECT cid, count(*) AS n_vectors
                FROM assign GROUP BY cid
            )
            SELECT sz.cid AS centroid_id,
                   sz.n_vectors,
                   CAST(sz.n_vectors * (sz.n_vectors - 1) / 2
                        AS BIGINT) AS candidate_pairs,
                   CAST(coalesce(sp.sampled_pairs, 0) AS BIGINT)
                       AS sampled_pairs,
                   CAST(coalesce(sp.sampled_hits, 0) AS BIGINT)
                       AS sampled_hits
            FROM sz LEFT JOIN sp ON sp.cid = sz.cid
            ORDER BY centroid_id
        """,
        "semdedup_keep": f"""
            WITH RECURSIVE {_SEMDEDUP_CTE},
            sd_edges AS (
                SELECT id_a AS u, id_b AS v FROM sd_pairs
                UNION ALL
                SELECT id_b AS u, id_a AS v FROM sd_pairs
            ),
            sd_walk(node, comp) AS (
                SELECT u, u FROM sd_edges
                UNION
                SELECT e.v, w.comp FROM sd_walk w JOIN sd_edges e
                ON e.u = w.node
            ),
            sd_comps AS (
                SELECT node, min(comp) AS component_id
                FROM sd_walk GROUP BY node
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM sd_comps
                                 WHERE node <> component_id)
            ORDER BY vec_id
        """,
        "semdedup_incremental": """
            -- centroids from the RESIDENT (old) slice's min ids; all
            -- vectors assigned to them; pairs touching the new batch
            WITH icent AS (
                SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
                FROM embeddings WHERE vec_id % 50 <> 0
                ORDER BY vec_id LIMIT 8
            ),
            iassign AS (
                SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(
                                   CAST(e.embedding AS DOUBLE[]),
                                   c.cvec) DESC,
                               c.cid ASC) AS rn
                    FROM embeddings e CROSS JOIN icent c
                ) WHERE rn = 1
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                       CAST(ea.embedding AS DOUBLE[]),
                       CAST(eb.embedding AS DOUBLE[])), 6) AS cosine_sim
            FROM iassign a
            JOIN iassign b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE round(list_cosine_similarity(
                      CAST(ea.embedding AS DOUBLE[]),
                      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.35
              AND (a.vec_id % 50 = 0 OR b.vec_id % 50 = 0)
            ORDER BY id_a, id_b
        """,
        "semdedup_stats": f"""
            WITH {_SEMDEDUP_CTE},
            sd_sizes AS (
                SELECT cid, count(*) AS n_vectors FROM assign GROUP BY cid
            ),
            sd_per_cluster AS (
                SELECT a.cid, count(*) AS n_dup_pairs
                FROM sd_pairs p JOIN assign a ON a.vec_id = p.id_a
                GROUP BY a.cid
            )
            SELECT s.cid AS centroid_id,
                   CAST(s.n_vectors AS BIGINT) AS n_vectors,
                   CAST(coalesce(pc.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs
            FROM sd_sizes s LEFT JOIN sd_per_cluster pc ON pc.cid = s.cid
            ORDER BY centroid_id
        """,
        "multimodal_bytes": """
            SELECT doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS digest
            FROM documents
        """,
        "json_props_stats": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)),
                         3) AS avg_k
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "explode_token_positions": """
            WITH tok AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            )
            SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
            FROM tok,
                 LATERAL unnest(range(1, least(len(toks), 5) + 1)) AS t(i)
            ORDER BY doc_id, pos
        """,
        "unpivot_lineitem_metrics": """
            WITH long AS (
                SELECT l_returnflag, 'l_quantity' AS metric,
                       l_quantity AS val FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_extendedprice', l_extendedprice
                FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
            )
            SELECT l_returnflag, metric,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(avg(val), 4) AS avg_val,
                   round(max(val), 4) AS max_val
            FROM long
            GROUP BY l_returnflag, metric
            ORDER BY l_returnflag, metric
        """,
        "user_event_gaps": """
            WITH g AS (
                SELECT user_id,
                       lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                       - epoch_us(ts) AS gap_us
                FROM events
            )
            SELECT user_id,
                   CAST(count(gap_us) AS BIGINT) AS n_gaps,
                   round(avg(gap_us) / 1e6, 3) AS avg_gap_s,
                   round(max(gap_us) / 1e6, 3) AS max_gap_s
            FROM g
            GROUP BY user_id
            ORDER BY user_id
        """,
        "acctbal_quartiles": """
            WITH q AS (
                SELECT c_mktsegment, c_acctbal,
                       CAST(ntile(4) OVER w AS INT) AS quartile,
                       percent_rank() OVER w AS pr
                FROM customer
                WINDOW w AS (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey)
            )
            SELECT c_mktsegment, quartile,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   round(min(c_acctbal), 2) AS min_bal,
                   round(max(c_acctbal), 2) AS max_bal,
                   round(max(pr), 4) AS max_pr
            FROM q
            GROUP BY c_mktsegment, quartile
            ORDER BY c_mktsegment, quartile
        """,
        "grouping_sets_revenue": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_priority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())
            ORDER BY g_status, g_priority,
                     o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        "string_funcs_part": """
            SELECT p_partkey,
                   concat_ws('/', p_brand, p_type) AS brand_type,
                   lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_code,
                   translate(lower(p_name), 'aeiou', '_____') AS devoweled,
                   CAST(levenshtein(lower(p_name), 'steel') AS INT)
                       AS lev_steel,
                   substring(p_name, 1, 8) AS name_prefix
            FROM part
            WHERE p_partkey <= 100
            ORDER BY p_partkey
        """,
        "date_arith_orders": """
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                       AS month,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(min(date_diff('day', DATE '1995-01-01',
                                      CAST(o_orderdate AS DATE))) AS INT)
                       AS min_days_since,
                   CAST(max(date_diff('day', DATE '1995-01-01',
                                      CAST(o_orderdate AS DATE))) AS INT)
                       AS max_days_since,
                   round(avg(isodow(CAST(o_orderdate AS DATE))), 3)
                       AS avg_isodow,
                   round(avg(date_diff('day', CAST(o_orderdate AS DATE),
                                       last_day(CAST(o_orderdate AS DATE)))),
                         3) AS avg_days_to_end
            FROM orders
            GROUP BY 1
            ORDER BY 1
        """,
        "decontam_docs": """
            SELECT doc_id FROM documents
            WHERE md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                  NOT IN (
                SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                FROM documents WHERE doc_id % 50 = 0
            )
            ORDER BY doc_id
        """,
        # decontam_shuffle: the 1.2M synthetic blocklist entries match
        # no corpus fingerprint by construction, so the exclusion
        # semantics — and therefore the oracle — are decontam_docs';
        # the gate exists to drive the SHUFFLE route of the same
        # operator.
        "decontam_shuffle": """
            SELECT doc_id FROM documents
            WHERE md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                  NOT IN (
                SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                FROM documents WHERE doc_id % 50 = 0
            )
            ORDER BY doc_id
        """,
        "group_quota_cap": """
            SELECT o_orderkey, o_custkey FROM (
                SELECT o_orderkey, o_custkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey)
                           AS rn
                FROM orders
            ) WHERE rn <= 5
            ORDER BY o_orderkey
        """,
        # same cap semantics at a rarely-hit quota — drives the
        # two-phase (broadcast anti-join + over-quota-only window)
        # strategy route on the Spark side
        "group_quota_cap_sparse": """
            SELECT o_orderkey, o_custkey FROM (
                SELECT o_orderkey, o_custkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey)
                           AS rn
                FROM orders
            ) WHERE rn <= 12
            ORDER BY o_orderkey
        """,
        # chunk i covers 1-based token positions
        # [i*stride+1, i*stride+max]; DuckDB list slicing is 1-based
        # inclusive, matching Spark's slice(arr, start, length)
        "chunk_documents": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), c AS (
                SELECT doc_id, toks,
                       greatest(CAST(ceil((len(toks) - 8) / 24.0) AS INT), 1)
                           AS nc
                FROM t
            ), g AS (
                SELECT doc_id, toks,
                       unnest(generate_series(0, nc - 1)) AS chunk_id
                FROM c
            )
            SELECT doc_id,
                   CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(
                       toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' '
                   ) AS chunk_text,
                   CAST(least(32, len(toks) - chunk_id * 24) AS INT)
                       AS n_tokens
            FROM g
            ORDER BY doc_id, chunk_id
        """,
        "span_dup_detect": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, CAST(u.p AS INTEGER) AS pos,
                       array_to_string(toks[u.p + 1 : u.p + 13], ' ') AS win
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 12)) AS p) u
                WHERE len(toks) >= 13
            ), c AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY win) AS cnt
                FROM s
            ), d AS (
                SELECT doc_id, pos FROM c WHERE cnt >= 2
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > lag(pos) OVER w + 13 THEN 1
                            ELSE 0 END AS brk
                FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), g AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS isl
                FROM b
            )
            SELECT doc_id,
                   CAST(min(pos) AS INTEGER) AS span_start,
                   CAST(max(pos) + 13 AS INTEGER) AS span_end,
                   count(*) AS n_sites
            FROM g GROUP BY doc_id, isl
            ORDER BY doc_id, span_start
        """,
        "span_dup_stats": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, CAST(u.p AS INTEGER) AS pos,
                       array_to_string(toks[u.p + 1 : u.p + 13], ' ') AS win
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 12)) AS p) u
                WHERE len(toks) >= 13
            ), c AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY win) AS cnt
                FROM s
            ), d AS (
                SELECT doc_id, pos FROM c WHERE cnt >= 2
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > lag(pos) OVER w + 13 THEN 1
                            ELSE 0 END AS brk
                FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), g AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS isl
                FROM b
            ), sp AS (
                SELECT doc_id, min(pos) AS st, max(pos) + 13 AS en
                FROM g GROUP BY doc_id, isl
            ), cov AS (
                SELECT doc_id, sum(en - st) AS dup_tokens
                FROM sp GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(len(t.toks) AS INTEGER) AS n_tokens,
                   CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   coalesce(cov.dup_tokens, 0) / greatest(len(t.toks), 1)
                       AS dup_frac
            FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
            ORDER BY t.doc_id
        """,
        "span_strip": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, CAST(u.p AS INTEGER) AS pos,
                       array_to_string(toks[u.p + 1 : u.p + 13], ' ') AS win
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 12)) AS p) u
                WHERE len(toks) >= 13
            ), c AS (
                SELECT doc_id, pos, cnt,
                       row_number() OVER (PARTITION BY win
                                          ORDER BY doc_id, pos) AS rn
                FROM (SELECT *, count(*) OVER (PARTITION BY win) AS cnt
                      FROM s)
            ), r AS (
                SELECT doc_id, pos FROM c WHERE cnt >= 2 AND rn > 1
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > lag(pos) OVER w + 13 THEN 1
                            ELSE 0 END AS brk
                FROM r WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), g AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS isl
                FROM b
            ), sp AS (
                SELECT doc_id, min(pos) AS st, max(pos) + 13 AS en
                FROM g GROUP BY doc_id, isl
            ), tok AS (
                SELECT doc_id, CAST(u.i AS INTEGER) AS i,
                       toks[u.i + 1] AS tok
                FROM t, LATERAL (SELECT unnest(range(len(toks))) AS i) u
            ), kept AS (
                SELECT k.doc_id, k.i, k.tok
                FROM tok k
                WHERE NOT EXISTS (
                    SELECT 1 FROM sp
                    WHERE sp.doc_id = k.doc_id
                      AND sp.st <= k.i AND k.i < sp.en
                )
            ), agg AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY i) AS text_clean,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   coalesce(agg.text_clean, '') AS text_clean,
                   CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS INTEGER)
                       AS n_removed
            FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            ORDER BY t.doc_id
        """,
        "bigram_lm_ppl": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), ref AS (
                SELECT * FROM t WHERE doc_id % 7 = 3
            ), uni AS (
                SELECT w, count(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w
            ), v AS (
                SELECT count(*) + 1 AS vs FROM uni
            ), bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM (SELECT toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                      FROM ref,
                           LATERAL (SELECT unnest(range(len(toks) - 1))
                                    AS i) u
                      WHERE len(toks) >= 2)
                GROUP BY w1, w2
            ), db AS (
                SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) u
                WHERE len(toks) >= 2
            ), sc AS (
                SELECT db.doc_id,
                       log2((coalesce(bi.c12, 0) + 0.1)
                            / (coalesce(uni.c1, 0) + 0.1 * v.vs)) AS lp
                FROM db
                LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
                LEFT JOIN uni ON db.w1 = uni.w
                CROSS JOIN v
            ), agg AS (
                SELECT doc_id, count(*) AS n_bigrams,
                       round(avg(-lp), 4) AS xent_bits
                FROM sc GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   agg.xent_bits,
                   round(pow(2.0, agg.xent_bits), 4) AS ppl
            FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            ORDER BY t.doc_id
        """,
        # bigram_lm_ppl_column: the bigram_lm_ppl model CTEs, projected
        # to (doc_id, ppl) — the column route's output shape.
        "bigram_lm_ppl_column": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), ref AS (
                SELECT * FROM t WHERE doc_id % 7 = 3
            ), uni AS (
                SELECT w, count(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w
            ), v AS (
                SELECT count(*) + 1 AS vs FROM uni
            ), bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM (SELECT toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                      FROM ref,
                           LATERAL (SELECT unnest(range(len(toks) - 1))
                                    AS i) u
                      WHERE len(toks) >= 2)
                GROUP BY w1, w2
            ), db AS (
                SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) u
                WHERE len(toks) >= 2
            ), sc AS (
                SELECT db.doc_id,
                       log2((coalesce(bi.c12, 0) + 0.1)
                            / (coalesce(uni.c1, 0) + 0.1 * v.vs)) AS lp
                FROM db
                LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
                LEFT JOIN uni ON db.w1 = uni.w
                CROSS JOIN v
            ), agg AS (
                SELECT doc_id, round(avg(-lp), 4) AS xent_bits
                FROM sc GROUP BY doc_id
            )
            SELECT t.doc_id,
                   round(pow(2.0, agg.xent_bits), 4) AS ppl
            FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            ORDER BY t.doc_id
        """,
        "ppl_pruned": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), ref AS (
                SELECT * FROM t WHERE doc_id % 7 = 3
            ), uni AS (
                SELECT w, count(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w
            ), v AS (
                SELECT count(*) + 1 AS vs FROM uni
            ), bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM (SELECT toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                      FROM ref,
                           LATERAL (SELECT unnest(range(len(toks) - 1))
                                    AS i) u
                      WHERE len(toks) >= 2)
                GROUP BY w1, w2
                HAVING count(*) >= 2
            ), db AS (
                SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) u
                WHERE len(toks) >= 2
            ), sc AS (
                SELECT db.doc_id,
                       log2((coalesce(bi.c12, 0) + 0.1)
                            / (coalesce(uni.c1, 0) + 0.1 * v.vs)) AS lp
                FROM db
                LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
                LEFT JOIN uni ON db.w1 = uni.w
                CROSS JOIN v
            ), agg AS (
                SELECT doc_id, count(*) AS n_bigrams,
                       round(avg(-lp), 4) AS xent_bits
                FROM sc GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   agg.xent_bits,
                   round(pow(2.0, agg.xent_bits), 4) AS ppl
            FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            ORDER BY t.doc_id
        """,
        "ppl_cms_bound": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), ref AS (
                SELECT * FROM t WHERE doc_id % 7 = 3
            ), uni AS (
                SELECT w, count(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w
            ), v AS (
                SELECT count(*) + 1 AS vs FROM uni
            ), bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM (SELECT toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                      FROM ref,
                           LATERAL (SELECT unnest(range(len(toks) - 1))
                                    AS i) u
                      WHERE len(toks) >= 2)
                GROUP BY w1, w2
            ), db AS (
                SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) u
                WHERE len(toks) >= 2
            ), sc AS (
                SELECT db.doc_id,
                       log2((coalesce(bi.c12, 0) + 0.1)
                            / (coalesce(uni.c1, 0) + 0.1 * v.vs)) AS lp
                FROM db
                LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
                LEFT JOIN uni ON db.w1 = uni.w
                CROSS JOIN v
            ), agg AS (
                SELECT doc_id, count(*) AS n_bigrams,
                       round(avg(-lp), 4) AS xent_bits
                FROM sc GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   round(pow(2.0, agg.xent_bits), 4) AS ppl,
                   TRUE AS cms_le_exact
            FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            ORDER BY t.doc_id
        """,
        "span_strip_incremental": """
            WITH t AS (
                SELECT doc_id, (doc_id % 5 = 0) AS is_new,
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, is_new, CAST(u.p AS INTEGER) AS pos,
                       array_to_string(toks[u.p + 1 : u.p + 13], ' ') AS win
                FROM t, LATERAL (SELECT unnest(range(len(toks) - 12)) AS p) u
                WHERE len(toks) >= 13
            ), c AS (
                SELECT doc_id, pos, is_new,
                       count(*) FILTER (WHERE NOT is_new)
                           OVER (PARTITION BY win) AS cnt_old,
                       count(*) FILTER (WHERE is_new)
                           OVER (PARTITION BY win) AS cnt_new,
                       row_number() OVER (PARTITION BY win, is_new
                                          ORDER BY doc_id, pos) AS rn
                FROM s
            ), r AS (
                SELECT doc_id, pos FROM c
                WHERE is_new
                  AND (cnt_old >= 1 OR (cnt_new >= 2 AND rn > 1))
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > lag(pos) OVER w + 13 THEN 1
                            ELSE 0 END AS brk
                FROM r WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), g AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS isl
                FROM b
            ), sp AS (
                SELECT doc_id, min(pos) AS st, max(pos) + 13 AS en
                FROM g GROUP BY doc_id, isl
            ), tok AS (
                SELECT doc_id, CAST(u.i AS INTEGER) AS i,
                       toks[u.i + 1] AS tok
                FROM t, LATERAL (SELECT unnest(range(len(toks))) AS i) u
                WHERE is_new
            ), kept AS (
                SELECT k.doc_id, k.i, k.tok
                FROM tok k
                WHERE NOT EXISTS (
                    SELECT 1 FROM sp
                    WHERE sp.doc_id = k.doc_id
                      AND sp.st <= k.i AND k.i < sp.en
                )
            ), agg AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY i) AS text_clean,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   coalesce(agg.text_clean, '') AS text_clean,
                   CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS INTEGER)
                       AS n_removed
            FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
            WHERE t.is_new
            ORDER BY t.doc_id
        """,
        "hash_split": """
            WITH b AS (
                SELECT doc_id,
                       ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
                FROM documents
            )
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS min_id,
                   max(doc_id) AS max_id
            FROM b
            GROUP BY 1
            ORDER BY 1
        """,
        "weighted_mix": """
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN 'web'
                            ELSE 'books' END AS source,
                       ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
                FROM documents
            )
            SELECT doc_id, source FROM s
            WHERE (source = 'web' AND bucket < 50)
               OR (source = 'books' AND bucket < 25)
            ORDER BY doc_id
        """,
        "repetition_stats": r"""
            WITH l AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i + 1])) AS g
                FROM l
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            top AS (
                SELECT doc_id,
                       CAST(max(c) AS BIGINT) AS top2_count,
                       CAST(sum(c) AS BIGINT) AS total_2grams
                FROM gc GROUP BY 1
            )
            SELECT l.doc_id,
                   round(CASE WHEN len(toks) > 0
                         THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                    / len(toks)
                         ELSE 0.0 END, 4) AS dup_word_frac,
                   coalesce(top.top2_count, 0) AS top2_count,
                   coalesce(top.total_2grams, 0) AS total_2grams
            FROM l LEFT JOIN top ON l.doc_id = top.doc_id
            ORDER BY l.doc_id
        """,
        # top_3gram_stats: the repetition_stats gram CTEs with
        # 3-token windows.
        "top_3gram_stats": r"""
            WITH l AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1]
                                || ' ' || toks[i + 2])) AS g
                FROM l
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            top AS (
                SELECT doc_id,
                       CAST(max(c) AS BIGINT) AS top3_count,
                       CAST(sum(c) AS BIGINT) AS total_3grams
                FROM gc GROUP BY 1
            )
            SELECT l.doc_id,
                   coalesce(top.top3_count, 0) AS top3_count,
                   coalesce(top.total_3grams, 0) AS total_3grams
            FROM l LEFT JOIN top ON l.doc_id = top.doc_id
            ORDER BY l.doc_id
        """,
        # segment_repetition: Gopher dup-line stats over the staged
        # duplicated-prefix text (same injection as the Spark gate).
        "segment_repetition": """
            WITH t AS (
                SELECT doc_id,
                       substr(text, 1, 80) || chr(10)
                       || substr(text, 1, 80) || chr(10)
                       || substr(text, 81) AS txt
                FROM documents
            ), l AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(string_split(txt, chr(10)),
                                          s -> trim(s)),
                           s -> s <> '') AS segs
                FROM t
            ), c AS (
                SELECT doc_id,
                       len(segs) AS n,
                       len(list_distinct(segs)) AS nd,
                       coalesce(list_sum(
                           list_transform(segs, s -> length(s))), 0)
                           AS chars,
                       coalesce(list_sum(
                           list_transform(list_distinct(segs),
                                          s -> length(s))), 0)
                           AS fchars
                FROM l
            )
            SELECT doc_id,
                   round(CASE WHEN n > 0
                         THEN 1.0 - CAST(nd AS DOUBLE) / n
                         ELSE 0.0 END, 4) AS dup_seg_frac,
                   round(CASE WHEN chars > 0
                         THEN CAST(chars - fchars AS DOUBLE) / chars
                         ELSE 0.0 END, 4) AS dup_seg_char_frac,
                   CAST(n AS BIGINT) AS n_segments
            FROM c
            ORDER BY doc_id
        """,
        # repetition_2gram_column: the repetition_stats gram CTEs,
        # projected to (doc_id, top2_count, total_2grams) — the column
        # route's output shape (no dup_word_frac).
        "repetition_2gram_column": r"""
            WITH l AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i + 1])) AS g
                FROM l
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            top AS (
                SELECT doc_id,
                       CAST(max(c) AS BIGINT) AS top2_count,
                       CAST(sum(c) AS BIGINT) AS total_2grams
                FROM gc GROUP BY 1
            )
            SELECT l.doc_id,
                   coalesce(top.top2_count, 0) AS top2_count,
                   coalesce(top.total_2grams, 0) AS total_2grams
            FROM l LEFT JOIN top ON l.doc_id = top.doc_id
            ORDER BY l.doc_id
        """,
        # embedding_covariance: every (i, j) entry of the population
        # covariance from the unnested column — d=64 in the test
        # corpus (the Spark side infers d; the oracle pins it).
        "embedding_covariance": """
            WITH idx AS (
                SELECT CAST(unnest(range(64)) AS INT) AS i
            ), pos AS (
                SELECT e.vec_id, i.i, e.embedding[i.i + 1] AS v
                FROM embeddings e, idx i
            ), co AS (
                SELECT a.i AS i, b.i AS j, avg(a.v * b.v) AS exy
                FROM pos a JOIN pos b USING (vec_id)
                GROUP BY 1, 2
            ), m AS (
                SELECT i, avg(v) AS mu FROM pos GROUP BY 1
            )
            SELECT co.i, co.j,
                   round(co.exy - ma.mu * mb.mu, 6) + 0.0 AS cov
            FROM co
            JOIN m ma ON co.i = ma.i
            JOIN m mb ON co.j = mb.i
            ORDER BY co.i, co.j
        """,
        # embedding_pca_invariants: the SQL-computable number is the
        # covariance trace (total variance); the booleans are the
        # deterministic fit contract (the hll_bounds pattern).
        "embedding_pca_invariants": """
            WITH idx AS (
                SELECT CAST(unnest(range(64)) AS INT) AS i
            ), pos AS (
                SELECT e.vec_id, i.i, e.embedding[i.i + 1] AS v
                FROM embeddings e, idx i
            )
            SELECT round(sum(var), 6) AS total_var,
                   TRUE AS orthonormal_ok,
                   TRUE AS eigvals_descending,
                   TRUE AS explained_le_total,
                   TRUE AS sign_pinned
            FROM (
                SELECT avg(v * v) - avg(v) * avg(v) AS var
                FROM pos GROUP BY i
            )
        """,
        "pii_scrub": r"""
            WITH t AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id
                            || '@example.com or 10.0.' || (doc_id % 256)
                            || '.1 tel +48 600-700-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                           AS txt
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(txt,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                       AS BIGINT) AS n_ip,
                   CAST(len(regexp_extract_all(txt,
                       '\+\d{2} \d{3}-\d{3}-\d{3}'))
                       AS BIGINT) AS n_phone,
                   md5(regexp_replace(regexp_replace(regexp_replace(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                       '[IP]', 'g'),
                       '\+\d{2} \d{3}-\d{3}-\d{3}',
                       '[PHONE]', 'g')) AS redacted_md5
            FROM t
            ORDER BY doc_id
        """,
        "seq_packing": r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       ((doc_id * 2654435761) % 4294967296) % 32 AS bucket,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE CAST(len(string_split_regex(trim(text),
                                                             '\s+')) AS BIGINT)
                       END AS n_tokens
                FROM documents
            ),
            ord AS (
                SELECT *, row_number() OVER (PARTITION BY bucket
                                             ORDER BY doc_id) AS rn
                FROM toks
            ),
            packed AS (
                SELECT doc_id, bucket, rn, n_tokens,
                       CAST(0 AS BIGINT) AS pack_id, n_tokens AS cum
                FROM ord WHERE rn = 1
                UNION ALL
                SELECT o.doc_id, o.bucket, o.rn, o.n_tokens,
                       CASE WHEN p.cum + o.n_tokens > 512
                            THEN p.pack_id + 1 ELSE p.pack_id END,
                       CASE WHEN p.cum + o.n_tokens > 512
                            THEN o.n_tokens ELSE p.cum + o.n_tokens END
                FROM packed p
                JOIN ord o ON o.bucket = p.bucket AND o.rn = p.rn + 1
            )
            SELECT doc_id, bucket, n_tokens, pack_id
            FROM packed ORDER BY doc_id
        """,
        "global_index": """
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT)
                       AS idx
            FROM documents
            ORDER BY doc_id
        """,
        "corpus_shuffle": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
                   ) - 1 AS BIGINT) AS idx
            FROM documents
            ORDER BY doc_id
        """,
        "gopher_stats": f"""
            WITH {_GOPHER_SIGNALS_CTE}
            SELECT * FROM gsig ORDER BY doc_id
        """,
        "gopher_filter": f"""
            WITH {_GOPHER_SIGNALS_CTE}
            SELECT doc_id FROM gsig
            WHERE word_count BETWEEN 5 AND 100000
              AND mean_word_len BETWEEN 1.0 AND 10.0
              AND symbol_word_ratio <= 0.1
              AND alpha_word_frac >= 0.8
              AND n_stopwords >= 2
              AND bullet_line_frac <= 0.9
              AND ellipsis_line_frac <= 0.3
            ORDER BY doc_id
        """,
        "cms_heavy_hitters": r"""
            -- exact top-20 term counts; the CMS invariants are
            -- deterministic under the fixed sketch seed, asserted as
            -- literals (the minhash_recall contract-gate pattern)
            WITH ctok AS (
                SELECT unnest(regexp_split_to_array(
                           trim(lower(text)), '\s+')) AS term
                FROM documents
                WHERE coalesce(trim(text), '') <> ''
            ),
            ccnt AS (SELECT term, count(*) AS c FROM ctok GROUP BY term)
            SELECT term, CAST(c AS BIGINT) AS exact_cnt,
                   TRUE AS lower_ok, TRUE AS within_upper
            FROM ccnt
            ORDER BY exact_cnt DESC, term
            LIMIT 20
        """,
        "table_diff_docs": """
            WITH v1 AS (SELECT doc_id, text FROM documents),
            v2 AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text
                FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10)
            )
            SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
                   CASE WHEN v1.doc_id IS NULL THEN 'added'
                        WHEN v2.doc_id IS NULL THEN 'removed'
                        WHEN v1.text IS NOT DISTINCT FROM v2.text
                             THEN 'unchanged'
                        ELSE 'changed' END AS change
            FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
            ORDER BY doc_id
        """,
        "skew_orders": """
            WITH c AS (
                SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows
                FROM orders GROUP BY 1
            ),
            t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM orders)
            SELECT o_custkey, n_rows,
                   round(n_rows / t.total, 6) AS share
            FROM c, t
            ORDER BY n_rows DESC, o_custkey ASC
            LIMIT 10
        """,
        "validate_orders": """
            WITH agg AS (
                SELECT
                    CAST(sum(CASE WHEN coalesce(o_totalprice > 0, FALSE)
                             THEN 0 ELSE 1 END) AS BIGINT) AS positive_price,
                    CAST(sum(CASE WHEN o_orderkey IS NOT NULL
                             THEN 0 ELSE 1 END) AS BIGINT) AS key_not_null,
                    CAST(sum(CASE WHEN coalesce(
                                 o_orderstatus IN ('F', 'O', 'P'), FALSE)
                             THEN 0 ELSE 1 END) AS BIGINT) AS status_known,
                    CAST(sum(CASE WHEN coalesce(
                                 regexp_matches(o_orderpriority, '^[1-5]-'),
                                 FALSE)
                             THEN 0 ELSE 1 END) AS BIGINT)
                        AS priority_prefixed,
                    CAST(count(*) AS BIGINT) AS n_rows
                FROM orders
            )
            SELECT 'key_not_null' AS rule, key_not_null AS n_violations,
                   n_rows FROM agg
            UNION ALL
            SELECT 'positive_price', positive_price, n_rows FROM agg
            UNION ALL
            SELECT 'priority_prefixed', priority_prefixed, n_rows FROM agg
            UNION ALL
            SELECT 'status_known', status_known, n_rows FROM agg
            ORDER BY rule
        """,
        # SimHash groups on the md5 audit hash (q_simhash_groups):
        # DuckDB reproduces the full Charikar pipeline — 2-token
        # distinct shingles, first-8-bytes-of-md5 base hash, per-bit
        # strict majority — then groups and comma-joins sorted ids.
        # HUGEINT accumulates the unsigned fingerprint; the final CASE
        # folds it to the two's-complement BIGINT Spark's long carries.
        "simhash_groups": f"""
            WITH {_SIMHASH_MD5_CTE}
            SELECT simhash,
                   count(*) AS n_docs,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id) AS ids
            FROM sfp
            GROUP BY simhash
            ORDER BY simhash
        """,
        # simhash_neardup on the md5 audit arm: banding recall is
        # pigeonhole-EXACT (4 bands, hamming <= 3), so the banded
        # engine result must equal this O(n^2) hamming join — fine at
        # oracle scale, and exactly why the gate is now hash-checked
        # instead of rows-only.
        "simhash_neardup": f"""
            WITH {_SIMHASH_MD5_CTE}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash))
                        AS INTEGER) AS hamming
            FROM sfp a JOIN sfp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY id_a, id_b
        """,
        # user_count_hll / value_quantiles_approx: the ESTIMATES of
        # Spark's HLL++ / Greenwald-Khanna sketches are
        # implementation-defined — intentionally rows-only; their
        # error contracts are the oracle-backed hll_bounds /
        # approx_quantile_bounds gates.
    }
    # minhash_neardup on the md5 audit arm: full pipeline replay —
    # signatures = min over shingles of (a_i*h + b_i) mod 2^64 under
    # the engine's seeded permutation constants (embedded below as
    # scheme literals — parameters, not data), candidates = banded
    # 4-value slice equality, then the ngram_jaccard verify CTE shape.
    # HUGEINT bound: a < 2^63 and h < 2^64 keep a*h + b < 2^127 - 1.
    out["minhash_neardup"] = f"""
        WITH tok AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM documents
        ),
        shs AS (
            SELECT DISTINCT doc_id,
                   array_to_string(toks[i : i + 2], ' ') AS shingle
            FROM tok,
                 LATERAL unnest(range(1, greatest(len(toks) - 2, 1) + 1))
                     AS t(i)
        ),
        hh AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 16)) AS UBIGINT)
                       AS h
            FROM shs
        ),
        perm(i, a, b) AS (VALUES {_MINHASH_PERM_VALUES}),
        sigs AS (
            SELECT doc_id, i,
                   min(CAST((CAST(a AS HUGEINT) * h + b)
                            % 18446744073709551616 AS UBIGINT)) AS m
            FROM hh CROSS JOIN perm GROUP BY doc_id, i
        ),
        bnd AS (
            SELECT doc_id, i // 4 AS band_idx,
                   string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS key
            FROM sigs GROUP BY doc_id, i // 4
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM bnd x JOIN bnd y
              ON x.band_idx = y.band_idx AND x.key = y.key
             AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_common
            FROM cand c
            JOIN shs p ON p.doc_id = c.id_a
            JOIN shs q ON q.doc_id = c.id_b AND q.shingle = p.shingle
            GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b,
               round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        ORDER BY id_a, id_b
    """
    # IVF top-k (both the unindexed and the partition-pruned-index
    # routes return the same rows): centroids = 16 smallest ids,
    # cosine assignment and probe with id tie-breaks, rank by
    # 6-dp-rounded sim then neighbor id — fully deterministic, and
    # similarity.cosine is bit-compatible with DuckDB's
    # list_cosine_similarity (the _SEMDEDUP_CTE precedent).
    _ivf_sql = """
        WITH cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        iassign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               c.cvec) DESC,
                               c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS query_id,
                   CAST(embedding AS DOUBLE[]) AS q_vec
            FROM embeddings WHERE vec_id < 5
        ),
        probe AS (
            SELECT query_id, q_vec, cid FROM (
                SELECT q.query_id, q.q_vec, c.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(
                               q.q_vec, c.cvec) DESC,
                               c.cid ASC) AS rn
                FROM q CROSS JOIN cent c
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), p.q_vec), 6)
                       AS cosine_sim
            FROM iassign a
            JOIN probe p ON p.cid = a.cid
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 10
        ORDER BY query_id, rank
    """
    out["embedding_topk_ivf"] = _ivf_sql
    out["embedding_topk_ivf_indexed"] = _ivf_sql
    pca_sql = _semdedup_pca_oracle()
    if pca_sql is not None:
        out["semdedup_pca_composed"] = pca_sql
    ivf_pca_sql = _ivf_pca_oracle()
    if ivf_pca_sql is not None:
        out["ivf_pca_composed"] = ivf_pca_sql
    evr_sql = _pca_evr_oracle()
    if evr_sql is not None:
        out["pca_evr_bound"] = evr_sql
    out["multimodal_decode"] = _multimodal_decode_oracle()
    # the indexed strip equals the direct strip when the index covers
    # exactly this corpus — ONE oracle attests route equivalence (the
    # embedding_topk_ivf_indexed precedent)
    out["span_strip_indexed"] = out["span_strip"]
    return out
