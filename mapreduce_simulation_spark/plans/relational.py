"""Relational extensions over the star schema (SURVEY.md §2e / §7 step 4).

The reference has NO engine-level joins, windows, set ops, top-k, or scalar
function library (no join code anywhere in mapreduce/ — SURVEY.md §2e);
its model could only express them as user map/reduce programs. Our engine
declares them as first-class DataFrame plans and lets Catalyst pick physical
strategies (broadcast-hash for dims, sort-merge for fact-fact, AQE skew
splitting).

Determinism discipline for the DuckDB-oracle gate: monetary/quantity SUMs go
through decimal(18,2) accumulation (exact, order-independent) and are cast
back to double at the end; AVGs are computed as decimal-sum / count. Plain
double summation would make the hash comparison flaky (float addition is not
associative across partitionings).

Scale notes are attached per query; the shared rules:
  - dim tables (region/nation/supplier/customer at TPC-H ratios) broadcast;
  - fact-fact joins shuffle on the join key — keys here are uniform
    (synthetic), and AQE skew-join covers real-world skew;
  - every aggregation is partial-before-exchange (Catalyst default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..tables import load_table
from ..operators.planmemo import memoized_plan


def _dec_sum(col, alias: str):
    """Exact decimal accumulation → double. Order-independent, so the value
    hash matches DuckDB regardless of partitioning/merge order."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def _money_units(col, scale: int):
    """A money double as a LONG in 1/scale units: rint(x · scale), raising
    USER_RAISED_EXCEPTION when x · scale is more than 0.25 from that
    integer (an off-grid value such as 0.125 at scale 100).

    Why it is exact: Spark's round(double) is HALF_UP applied to
    Double.toString(v), which lies within ulp(v)/2 of v; under the guard
    both land on the same integer (from 2^52 up, v is already one), so
    the long equals round(v), and hence the decimal(…, k) cast's unscaled
    value (parquet money doubles sit within ~1e-9 of the k-decimal grid:
    max |x·100 − rint| is 9.3e-10 over the sf0.1 lineitem). Unlike
    round, which runs BigDecimal.valueOf(d).setScale per row, rint, the
    subtraction and the guard are plain codegen double arithmetic. Nulls
    pass through as null; NaN and ±inf fail the guard.
    """
    v = col * scale
    r = F.rint(v)
    off_grid = F.raise_error(
        F.concat(
            F.lit(f"money value off the 1/{scale} grid: "), col.cast("string")
        )
    )
    return F.when(F.abs(v - r) > 0.25, off_grid).otherwise(r).cast("long")


def exact_money_sums(df, keys, sums, counts=()):
    """Grouped exact money sums via TWO-LEVEL aggregation: per-partition
    LONG partials (fast integer codegen path), merged in DECIMAL(38,0)
    (overflow-free), divided back to value units once, cast to double.

    ``sums``: (long_expr_in_scaled_units, scale_divisor, alias) triples;
    ``counts``: aliases for count(1) columns, summed from the partials.

    Bitwise-equal to the single-level decimal accumulation (both compute
    the identical integer total, then one exact division and one
    double-rounding), at ~2.6× the throughput: Spark's decimal sum
    promotes past the compact-long representation and pays BigDecimal
    per row, where the partial level here stays whole-stage-codegen long
    arithmetic. The grouping adds spark_partition_id() to the partial
    keys, so the first exchange carries |groups| × |partitions| partial
    rows and the second |groups| × shuffle-partitions — both tiny.

    SCALE BOUND (the reason the naive all-long sum is banned): a long
    partial overflows at 2^63 / max_term rows PER MAP PARTITION — e.g.
    ~7.7e7 lineitem rows for the Q1 charge term (max ~1.2e11 in 1e-6
    units), while maxPartitionBytes-sized splits hold ~1-2M rows; a 40×
    margin that holds at any corpus size because the bound is per split,
    not per dataset. The decimal merge level is what makes the GLOBAL
    total overflow-free. Both preconditions are checked at runtime, not
    assumed: session.py pins spark.sql.ansi.enabled, so a per-split long
    partial that does overflow raises ARITHMETIC_OVERFLOW instead of
    wrapping, and _money_units raises on a value off the money grid
    instead of rounding it.
    """
    pid = F.spark_partition_id().alias("_pid")
    partials = [
        F.sum(expr).alias(f"_ps{i}") for i, (expr, _, _) in enumerate(sums)
    ]
    if counts:
        partials.append(F.count(F.lit(1)).alias("_pc"))
    part = df.groupBy(*keys, pid).agg(*partials)
    finals = [
        (F.sum(F.col(f"_ps{i}").cast("decimal(38,0)")) / F.lit(div))
        .cast("double")
        .alias(alias)
        for i, (_, div, alias) in enumerate(sums)
    ]
    finals += [F.sum("_pc").cast("long").alias(a) for a in counts]
    return part.groupBy(*keys).agg(*finals)


@memoized_plan
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate with a date predicate.

    The shipdate filter is pushed to the parquet scan (PushedFilters), and
    the 4-way grouped aggregate runs partial/final. At 100 TB this is scan
    bandwidth-bound — exactly what you want.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Integer money units (see _money_units): qty and price in hundredths,
    # disc_price = cents · (100 − disc%) in 1e-4 units, charge = that
    # · (100 + tax%) in 1e-6 units — each term exactly the decimal cast's
    # unscaled value, summed two-level (long partials, decimal merge;
    # see exact_money_sums for the bitwise-equality and overflow bounds).
    # Measured at sf0.1: 1.56 s → 0.60 s vs the single-level decimal agg.
    q100 = _money_units(F.col("l_quantity"), 100)
    cents = _money_units(F.col("l_extendedprice"), 100)
    dpct = _money_units(F.col("l_discount"), 100)
    tpct = _money_units(F.col("l_tax"), 100)
    disc4 = cents * (100 - dpct)
    charge6 = disc4 * (100 + tpct)
    return (
        exact_money_sums(
            li.where(
                F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
            ),
            ["l_returnflag", "l_linestatus"],
            [
                (q100, 100, "sum_qty"),
                (cents, 100, "sum_base_price"),
                (disc4, 10_000, "sum_disc_price"),
                (charge6, 1_000_000, "sum_charge"),
            ],
            counts=("count_order",),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@memoized_plan
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ fact ⋈ dims with grouped revenue.

    lineitem⋈orders shuffles on orderkey (both large); customer, nation,
    region are broadcast — explicitly hinted, though they're under the
    autoBroadcastJoinThreshold anyway. Aggregation after the join is
    partial-before-exchange on n_name (25 values → tiny shuffle).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # revenue = cents · (100 − disc%) in 1e-4 units — the two-level
    # long-partial/decimal-merge money sum (see exact_money_sums).
    rev4 = _money_units(F.col("l_extendedprice"), 100) * (
        100 - _money_units(F.col("l_discount"), 100)
    )
    return (
        exact_money_sums(
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(broadcast(region), nation.n_regionkey == region.r_regionkey),
            ["r_name", "n_name"],
            [(rev4, 10_000, "revenue")],
            counts=("n_items",),
        )
        .orderBy("r_name", "n_name")
    )


@memoized_plan
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (ABSENT in reference → orderBy().limit(k)).

    Spark plans TakeOrderedAndProject: per-partition top-k then a k-sized
    merge on the driver — O(k) memory, no global sort. Tie-broken on
    o_orderkey for determinism.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers with at least one open ('O') order. Semi joins
    shuffle only the key column of the probe side and short-circuit on first
    match — cheaper than join+distinct."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    open_orders = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@memoized_plan
def left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + grouped count, keeping order-less customers with 0.

    Aggregation is pushed BELOW the join: orders partial-aggregate to one
    row per customer key before any join, so the shuffle moves |distinct
    custkeys| rows instead of every order (measured: 86 KiB / 15k records
    shuffled with join-then-aggregate vs ~2 KiB / 1k records this way at
    sf0.1 — at 100 TB that is the difference between shuffling the fact
    table and shuffling the key space). Catalyst does not do this rewrite
    itself (it changes the aggregate's input multiplicity), so it is
    expressed directly."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("order_cnt"),
    )


@memoized_plan
def window_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (ABSENT in reference): top-3 customers by account
    balance per nation via dense_rank. One shuffle on the partition key;
    rank tie-break on c_custkey keeps it deterministic."""
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rk")
    )


def running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregate: running order count per customer over
    time. Frame = unbounded-preceding..current on (custkey, date, key)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("orders_so_far"),
    )


def set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT (ABSENT in reference): custkeys that placed a
    high-priority order but are not in the BUILDING segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return urgent.exceptAll(building).distinct()


def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date functions + agg: revenue trend by order month."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            _dec_sum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("yr", "mo")
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (ABSENT in reference): revenue by
    (year, status) with year and grand totals."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup(F.year("o_orderdate").alias("yr"), F.col("o_orderstatus"))
        .agg(_dec_sum("o_totalprice", "revenue"))
        .orderBy(F.col("yr").asc_nulls_first(), F.col("o_orderstatus").asc_nulls_first())
    )


def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: supplier enriched with nation name.
    No shuffle at all — the 25-row dim ships to every task."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@memoized_plan
def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch windowed event aggregation: per-day, per-type counts and value
    sums (the Structured Streaming twin lives in streaming/events.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value", "sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("day", "event_type")
    )


@memoized_plan
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gap detection (30-min inactivity): lag + running
    sum of session-start flags per user. Two stacked windows, one shuffle
    on user_id."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond precision on both sides (oracle uses epoch_us) — casting
    # to whole seconds would round differently across engines at boundaries.
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(by_user)
    with_flag = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = with_flag.withColumn(
        "session_id", F.sum("new_session").over(by_user)
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 undelivered orders by revenue for one market
    segment — filter → 3-way join → aggregate → top-k in a single plan.
    Physical: customer filter broadcasts into orders, lineitem joins on the
    shuffled order key, revenue partial-aggregates before the exchange, and
    the top-10 is TakeOrderedAndProject (per-partition k, O(k) driver
    merge) — no global sort."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp_ntz")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    from pyspark.sql.functions import broadcast as _bc

    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bc(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis over the event stream: for each user, the
    first `view`, the first `click` strictly after that view, and the
    first `purchase` strictly after that click — plus the furthest stage
    reached. The sequencing constraint (each stage must follow the
    previous one in time) is what makes this more than three conditional
    mins; it is the standard product-analytics funnel.

    Scale: ONE keyed shuffle. All three stage timestamps are
    whole-partition window mins stacked over the same user_id partitioning
    (each stage's predicate references the previous stage's window
    result), and the final collapse is a groupBy on that same key, so
    Catalyst plans a single hash exchange for the entire query (plus the
    declared ORDER BY's range exchange — asserted in
    tests/test_plan_shapes.py). Timestamps flow as epoch microseconds
    (exact integers on both engines)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id")
    ev = ev.withColumn(
        "view_us",
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w),
    )
    ev = ev.withColumn(
        "click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("us") > F.col("view_us")),
                F.col("us"),
            )
        ).over(w),
    )
    ev = ev.withColumn(
        "purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") > F.col("click_us")),
                F.col("us"),
            )
        ).over(w),
    )
    stage = (
        F.when(F.col("purchase_us").isNotNull(), "purchase")
        .when(F.col("click_us").isNotNull(), "click")
        .when(F.col("view_us").isNotNull(), "view")
        .otherwise("none")
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.min("view_us").alias("view_us"),
            F.min("click_us").alias("click_us"),
            F.min("purchase_us").alias("purchase_us"),
        )
        .select("user_id", "view_us", "click_us", "purchase_us",
                stage.alias("stage"))
        .orderBy("user_id")
    )


FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
              OVER (PARTITION BY user_id) AS view_us
  FROM e
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND us > view_us THEN us END)
              OVER (PARTITION BY user_id) AS click_us
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > click_us
                     THEN us END)
              OVER (PARTITION BY user_id) AS purchase_us
  FROM s2
)
SELECT user_id,
       min(view_us) AS view_us,
       min(click_us) AS click_us,
       min(purchase_us) AS purchase_us,
       CASE WHEN min(purchase_us) IS NOT NULL THEN 'purchase'
            WHEN min(click_us) IS NOT NULL THEN 'click'
            WHEN min(view_us) IS NOT NULL THEN 'view'
            ELSE 'none' END AS stage
FROM s3
GROUP BY user_id
ORDER BY user_id
"""


# The two trading nations for the volume-shipping query (TPC-H Q7 shape).
VOLUME_NATIONS = ("NATION_3", "NATION_7")


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two specific nations, by
    supplier nation × customer nation × ship year — the six-table join
    whose disjunctive nation predicate stresses join ordering.

    Scale: both nation dims broadcast WITH their name filter already
    applied (Catalyst pushes the IN before the broadcast), so the
    supplier and customer sides are pre-reduced to the two nations before
    the fact joins; lineitem⋈orders stays the only fact-fact shuffle,
    same as revenue_by_nation. The OR pairing is checked after the cheap
    broadcast joins, not as a join condition, keeping every join an
    equi-join."""
    n1, n2 = VOLUME_NATIONS
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nations = nation.where(F.col("n_name").isin(n1, n2))
    supp_n = supp.join(
        broadcast(nations.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust_n = cust.join(
        broadcast(nations.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(cust_n), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("integer").alias("l_year"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(22,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


VOLUME_SHIPPING_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{VOLUME_NATIONS[0]}' AND n2.n_name = '{VOLUME_NATIONS[1]}')
   OR (n1.n_name = '{VOLUME_NATIONS[1]}' AND n2.n_name = '{VOLUME_NATIONS[0]}')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""
