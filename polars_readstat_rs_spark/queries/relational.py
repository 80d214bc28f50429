"""Relational operator suite (SURVEY.md §2.6 / §7 step 8).

The reference (jrothbaum/polars_readstat_rs) delegates all relational
processing to its host engine (Polars LazyFrame, README.md:135-137); in
this rebuild the host engine is Spark, so these queries declare the
relational surface a reference user gets "for free" and verify it
against DuckDB. Every query is expressed with the DataFrame API so
Catalyst owns pushdown/join-strategy selection; broadcast hints mark the
dimension tables that must never shuffle at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..tables import load_table
from .registry import EVENTS_US, register
from .tpch import _dec_sum_double, _dec_to_double

DEC = "decimal(12,2)"
# Narrow decimal widths keep Spark's Decimal in its compact-long fast
# path (precision <= 18 for every multiply, and for plain-column SUM
# buffers at p+10 <= 18): ~15% faster aggregation than uniform (12,2)
# on the q01 shape, measured. Values are identical — arithmetic stays
# exact at any width that fits, and the oracle's DECIMAL(12,2) SQL
# computes the same exact rationals. Domain contract (TPC-H value
# bounds, ANSI mode casts fail LOUDLY if ever violated):
#   MONEY8 < 10^6  — l_extendedprice (<= ~110k), l_quantity (<= 50),
#                    events.value (<= ~500)
#   RATE3  < 10    — l_discount, l_tax (both <= 0.1)
MONEY8 = "decimal(8,2)"
RATE3 = "decimal(3,2)"


def _dec(c: str):  # exact money arithmetic, unbounded-domain fallback
    return F.col(c).cast(DEC)


def _money(c: str):  # bounded money/quantity: compact-long decimal ops
    return F.col(c).cast(MONEY8)


def _rate(c: str):  # bounded rates: compact-long decimal ops
    return F.col(c).cast(RATE3)


def _one():  # lazy: F.lit needs an active SparkContext
    return F.lit(1).cast(RATE3)


# --------------------------------------------------------------------------
# q01 — TPC-H Q1 pricing summary: wide hash aggregate, map-side partial agg.
# At scale: 2-column group key => tiny shuffle after partial aggregation.
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Integer-cents two-level aggregation (r9), per-row work minimized
    # (r14): the hot 60M-row level-1 stage now evaluates exactly ONE
    # arithmetic expression per row — price cents. Level 1 groups by the
    # RAW double discount/tax (exact 2-dp doubles with a <= 11 x 9
    # domain, so the partial agg still reduces to ~99 rows per
    # (flag, status) pair; distinct bit patterns would only add cells,
    # which level 2 re-merges) and sums l_quantity as a double —
    # TPC-H quantities are integral, and sums of integers are exact in
    # double below 2^53 regardless of add order, so no per-row
    # round/cast is needed. Level 2 (~400 rows) converts the cell keys
    # to integer cents and reconstructs the exact decimal sums, where
    # Int128 decimal math is free, distributing the (1-d)(1+t) products
    # over the per-(d,t) subtotals — decimal arithmetic is distributive,
    # so the result is bit-identical to the direct per-row decimal
    # formulation (verified at sf10: collected outputs of this shape
    # and the r9 per-row-cents shape compare equal tuple-for-tuple;
    # an interleaved sf10 A/B measured 2.15 -> 1.61 s at 16m splits,
    # 1.85 -> 1.35 s at 64m, DuckDB warm 0.48 s; KNOB_Q01_AB_r14.json).
    # Scale bounds: a level-1 price-cents long sum overflows at 9.2e18
    # cents (~$92 quadrillion per (flag,status,d,t) cell); a per-cell
    # quantity sum loses exactness at 2^53 (~9e15 units) — both beyond
    # any TPC-H SF.
    li = load_table(spark, sf_dir, "lineitem")

    d20 = "decimal(20,0)"
    g1 = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", "l_discount", "l_tax")
        .agg(
            F.sum("l_quantity").alias("sqd"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sp"),
            F.count("*").alias("c"),
        )
    )
    # cell keys -> exact integer cents; sqd*100 is exact while < 2^53
    sq = F.round(F.col("sqd") * 100).cast("long").cast(d20)
    sp = F.col("sp").cast(d20)
    dc = F.round(F.col("l_discount") * 100).cast("long").cast("decimal(3,0)")
    tc = F.round(F.col("l_tax") * 100).cast("long").cast("decimal(3,0)")
    c100 = F.lit(100).cast("decimal(3,0)")
    cnt = F.col("c").cast(d20)
    # double reconstruction ORDER matters once an exact integer sum N
    # exceeds 2^53 (first hit at the sf1 sweep, r12: one sum_charge
    # cell differed in the last ulp): DuckDB's CAST(decimal AS DOUBLE)
    # computes round(N) / 10^scale (two roundings, exact power-of-ten
    # divisor), while dividing the DECIMAL first and casting the exact
    # quotient is a SINGLE rounding — off by one ulp exactly when
    # round(N) crosses a halfway point. Mirror DuckDB: cast the exact
    # integer-unit sum to double FIRST, then divide by the exact
    # double divisor. For N < 2^53 the two orders agree bit-for-bit,
    # so the small-SF gates are unchanged.
    sum_qty_d = F.sum(sq).cast("double") / F.lit(100.0)
    sum_price_d = F.sum(sp).cast("double") / F.lit(100.0)
    sum_disc_d = F.sum(dc * cnt).cast("double") / F.lit(100.0)
    return g1.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty_d.alias("sum_qty"),
        sum_price_d.alias("sum_base_price"),
        (F.sum(sp * (c100 - dc)).cast("double") / F.lit(10_000.0)).alias("sum_disc_price"),
        (F.sum(sp * (c100 - dc) * (c100 + tc)).cast("double") / F.lit(1_000_000.0)).alias("sum_charge"),
        (sum_qty_d / F.sum("c")).alias("avg_qty"),
        (sum_price_d / F.sum("c")).alias("avg_price"),
        (sum_disc_d / F.sum("c")).alias("avg_disc"),
        F.sum("c").alias("count_order"),
    )


# --------------------------------------------------------------------------
# q02 — projection + filter (the reference's P1 pushdown surface, now done
# by Catalyst: filter and 4-column ReadSchema reach the parquet scan).
@register(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")


# --------------------------------------------------------------------------
# q03 — TPC-H Q3 shipping priority: 3-way join; customer/orders co-partition
# on the join keys, lineitem joins on l_orderkey (largest shuffle).
@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      CAST(o_orderdate AS DATE) AS orderdate, count(*) AS n_lines
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1996-06-30'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp")
    )
    # integer-cents revenue (same exactness argument as q01): per-row
    # price_cents*(100-disc_cents) <= 1.1e9 and a group is ONE order
    # (<= 7 lineitems), so the long sum never overflows at any SF; the
    # single decimal division per group reconstructs the exact 4-dp
    # rational the oracle's decimal sum produces.
    rev_u4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    # lineitem-rooted join order (see q05): the filtered cust/orders sides
    # hash-build, the big lineitem side probes.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(
            # cast-then-divide (see q01's reconstruction-order note)
            (F.sum(rev_u4).cast("double") / F.lit(10_000.0)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .select("l_orderkey", "revenue", "orderdate", "n_lines")
    )


# --------------------------------------------------------------------------
# q04 — EXISTS / left-semi join (orders with any heavy lineitem).
@register(
    "q04_semi_join_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q04_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    heavy = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------------
# q05 — TPC-H Q5-ish 6-way join. region/nation/supplier are broadcast so the
# only shuffle is customer⋈orders⋈lineitem on their keys.
@register(
    "q05_nation_revenue",
    oracle="""
    SELECT n_name,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    price, disc = _money("l_extendedprice"), _rate("l_discount")
    # Derived semi-filter pruning (r11, measured 7.37 -> 3.91 s at sf10,
    # outputs identical): the region predicate implies three filters the
    # optimizer cannot derive across the equi-join chain —
    #   s_nationkey IN eligible  (suppliers in ASIA/EUROPE nations)
    #   c_nationkey IN eligible  (customers must share the supplier's
    #                             nation, so ineligible ones never match)
    #   l_suppkey   IN eligible-supplier keys, o_custkey IN
    #                             eligible-customer keys (PK semi-joins)
    # Pushing them cuts ~60% of lineitem/orders BEFORE the big shuffle
    # joins — the manual form of the runtime bloom-filter join pruning a
    # cluster's optimizer injects. The nation-eligibility semis broadcast
    # a <=25-row set at any scale; the key-set semis auto-broadcast here
    # (100k/600k keys at sf10) and become shuffle/bloom semi joins under
    # a cluster's AQE when the key sets outgrow the broadcast threshold.
    elig = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    supp_e = supp.join(
        F.broadcast(elig), supp.s_nationkey == F.col("n_nationkey"), "left_semi"
    )
    cust_e = cust.join(
        F.broadcast(elig), cust.c_nationkey == F.col("n_nationkey"), "left_semi"
    )
    sk = supp_e.select(F.col("s_suppkey").alias("_sk"))
    ck = cust_e.select(F.col("c_custkey").alias("_ck"))
    li_e = li.join(sk, li.l_suppkey == F.col("_sk"), "left_semi")
    ord_e = orders.join(ck, orders.o_custkey == F.col("_ck"), "left_semi")
    # lineitem is the join ROOT (probe side): every other table hash-builds
    # against it, so the biggest table is never the build/broadcast side.
    # (The cust-first ordering made Catalyst broadcast-build LINEITEM —
    # a 600k-entry single-threaded hash build locally, and exactly the
    # plan that dies at 100 TB.)
    return (
        li_e.join(ord_e, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_e, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(supp_e),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        # two-level integer-cents revenue (q01's trick adapted to an
        # unbounded group): level 1 sums long cents per (nation, disc) —
        # <= 25 x 11 cells, each bounded by total_revenue/275 so the long
        # stays far from 9.2e18 at any realistic SF — level 2 distributes
        # (100-d) over the per-disc subtotals in exact decimal.
        .groupBy("n_name", F.round(F.col("l_discount") * 100).cast("long").alias("_dc"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("_sp"))
        .groupBy("n_name")
        .agg(
            # cast-then-divide (see q01's reconstruction-order note)
            (
                F.sum(
                    F.col("_sp").cast("decimal(20,0)")
                    * (F.lit(100) - F.col("_dc")).cast("decimal(3,0)")
                ).cast("double")
                / F.lit(10_000.0)
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# q06 — TPC-H Q6 scalar aggregate (fully pushed-down scan + single agg).
@register(
    "q06_revenue_forecast",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _dec_sum_double(_money("l_extendedprice") * _rate("l_discount"), 4).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# q07 — NOT EXISTS / left-anti join.
@register(
    "q07_anti_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# q08 — semi join + broadcast dimension decode (value-label-shaped join).
@register(
    "q08_semi_join_broadcast",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY n_name
    """,
)
def q08_semi_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# q09 — DISTINCT (shuffle dedup on the full key).
@register(
    "q09_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q09_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# --------------------------------------------------------------------------
# q10 — exact COUNT(DISTINCT) per group (expands to two-phase agg in Spark).
@register(
    "q10_count_distinct",
    oracle="""
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q10_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_cust"), F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------------
# q11 — top-k per group via row_number window (deterministic tiebreak).
@register(
    "q11_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def q11_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


# --------------------------------------------------------------------------
# q12 — window functions over the events stream table: lag + running sum.
# Running sum accumulates in DECIMAL so both engines agree bitwise.
@register(
    "q12_window_running",
    oracle=f"""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           lag(value) OVER w AS prev_value,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_value,
           CAST(row_number() OVER w AS INT) AS rn
    FROM {EVENTS_US} e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q12_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.lag("value").over(w).alias("prev_value"),
        F.sum(_money("value")).over(wrun).cast("double").alias("running_value"),
        F.row_number().over(w).alias("rn"),
    )


# --------------------------------------------------------------------------
# q13 — set operations (UNION/INTERSECT/EXCEPT, all distinct semantics).
@register(
    "q13_set_ops",
    oracle="""
    WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
         has_ord AS (SELECT DISTINCT o_custkey AS k FROM orders)
    SELECT 'both' AS tag, k FROM (SELECT k FROM building INTERSECT SELECT k FROM has_ord)
    UNION ALL
    SELECT 'building_only' AS tag, k FROM (SELECT k FROM building EXCEPT SELECT k FROM has_ord)
    UNION ALL
    SELECT 'all_union' AS tag, k FROM (SELECT k FROM building UNION SELECT k FROM has_ord)
    """,
)
def q13_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    building = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    has_ord = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    both = building.intersect(has_ord).select(F.lit("both").alias("tag"), "k")
    only = building.subtract(has_ord).select(F.lit("building_only").alias("tag"), "k")
    un = building.union(has_ord).distinct().select(F.lit("all_union").alias("tag"), "k")
    return both.unionAll(only).unionAll(un)


# --------------------------------------------------------------------------
# q14 — ROLLUP hierarchy aggregate.
@register(
    "q14_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum(_dec("o_totalprice")).cast("double").alias("total"))
    )


# --------------------------------------------------------------------------
# q15 — CUBE aggregate.
@register(
    "q15_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum(_money("l_quantity")).cast("double").alias("sum_qty"))
    )


# --------------------------------------------------------------------------
# q16 — GROUPING SETS with grouping_id disambiguation.
@register(
    "q16_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_q16_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority
        FROM _q16_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# q17 — date arithmetic incl. the reference's epoch conversions (SURVEY §1.2
# F3): SAS/Stata day epoch 1960-01-01, SPSS second epoch 1582-10-14
# (shift 12_219_379_200 s, /root/reference/src/spss/data.rs:17).
@register(
    "q17_date_arith",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
      CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
      CAST(quarter(o_orderdate) AS INT) AS q,
      CAST(dayofyear(o_orderdate) AS INT) AS doy,
      CAST(date_diff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE)) AS INT) AS stata_days,
      epoch_ms(o_orderdate) // 1000 + 12219379200 AS spss_seconds,
      CAST(o_orderdate AS DATE) + 30 AS plus_30,
      last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    """,
)
def q17_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        od.alias("od"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.datediff(od, F.lit("1960-01-01").cast("date")).alias("stata_days"),
        # o_orderdate is TIMESTAMP_NTZ; cast to TIMESTAMP (identity at UTC)
        (F.expr("unix_millis(cast(o_orderdate as timestamp)) div 1000") + F.lit(12219379200)).alias(
            "spss_seconds"
        ),
        F.date_add(od, 30).alias("plus_30"),
        F.last_day(od).alias("month_end"),
    )


# --------------------------------------------------------------------------
# q18 — string functions (trim/case/substr/regexp/split — F4/F5 analogues).
@register(
    "q18_string_funcs",
    oracle="""
    SELECT c_custkey,
      upper(trim(c_name)) AS uname,
      CAST(length(c_name) AS INT) AS name_len,
      substr(c_name, 1, 8) AS prefix,
      regexp_extract(c_name, '([0-9]+)', 1) AS digits,
      lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
      CAST(len(string_split(c_name, '#')) AS INT) AS n_parts,
      CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'MACHINERY' THEN 'M'
           ELSE lower(c_mktsegment) END AS seg_code
    FROM customer
    """,
)
def q18_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper(F.trim(F.col("c_name"))).alias("uname"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.size(F.split("c_name", "#")).alias("n_parts"),
        F.when(F.col("c_mktsegment") == "BUILDING", "B")
        .when(F.col("c_mktsegment") == "MACHINERY", "M")
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg_code"),
    )


# --------------------------------------------------------------------------
# q19 — value-label decode (reference P5, src/stata/data.rs:1010-1067):
# labeled values via broadcast map join; unlabeled pass through as the
# stringified number (partial-label semantics).
@register(
    "q19_value_label_decode",
    oracle="""
    SELECT coalesce(lbl, CAST(l_linenumber AS VARCHAR)) AS line_label, count(*) AS n
    FROM lineitem
    LEFT JOIN (VALUES (1, 'first'), (2, 'second'), (3, 'third')) labels(k, lbl)
      ON l_linenumber = k
    GROUP BY 1
    """,
)
def q19_value_label_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    labels = spark.createDataFrame([(1, "first"), (2, "second"), (3, "third")], ["k", "lbl"])
    return (
        li.join(F.broadcast(labels), li.l_linenumber == labels.k, "left")
        .select(F.coalesce(F.col("lbl"), F.col("l_linenumber").cast("string")).alias("line_label"))
        .groupBy("line_label")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# q20 — missing-value semantics (reference P6/P8): masked value + merged
# informative-null mode (coalesce(cast(value as string), indicator), the
# exact expression the reference builds at src/lib.rs:322-354).
@register(
    "q20_informative_nulls",
    oracle="""
    SELECT o_orderstatus,
      count(*) AS n,
      count(*) - count(CASE WHEN o_orderstatus <> 'P' THEN o_totalprice END) AS n_missing,
      CAST(sum(CASE WHEN o_orderstatus <> 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_present,
      min(coalesce(CAST(CAST(CASE WHEN o_orderstatus <> 'P' THEN o_totalprice END AS DECIMAL(12,2)) AS VARCHAR), '.p')) AS min_merged
    FROM orders GROUP BY o_orderstatus
    """,
)
def q20_informative_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    value = F.when(F.col("o_orderstatus") != "P", F.col("o_totalprice"))
    merged = F.coalesce(value.cast(DEC).cast("string"), F.lit(".p"))
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count(value)).alias("n_missing"),
        F.sum(value.cast(DEC)).cast("double").alias("sum_present"),
        F.min(merged).alias("min_merged"),
    )


# --------------------------------------------------------------------------
# q21 — FULL OUTER join of two aggregates.
@register(
    "q21_full_outer",
    oracle="""
    SELECT coalesce(c.k, s.k) AS nationkey, c.n_cust, s.n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.k = s.k
    """,
)
def q21_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.k == s.k, "full_outer").select(
        F.coalesce(c.k, s.k).alias("nationkey"), "n_cust", "n_supp"
    )


# --------------------------------------------------------------------------
# q22 — as-of join (custom operator — Spark has no native one). Implemented
# scale-out as union + partitioned last_value window: one shuffle on
# user_id, no per-group driver loop; DuckDB verifies with its native
# ASOF JOIN. Semantics: latest signup with signup.ts <= event.ts per user.
@register(
    "q22_asof_join",
    oracle=f"""
    SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, epoch_ms(s.sts) AS signup_ms
    FROM {EVENTS_US} e
    ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS sts
                    FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.sts
    """,
)
def q22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp").alias("signup_ts"),
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.lit(None).cast("long").alias("event_id"),
        "ts",
        F.lit(0).alias("is_event"),
        F.col("ts").alias("signup_ts"),
    )
    # tie rule: a signup at exactly event.ts sorts first (is_event asc), so
    # last_value() picks it up — matches DuckDB's inclusive `>=`.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        left.unionByName(right)
        .withColumn("asof_signup", F.last("signup_ts", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.unix_millis("asof_signup").alias("signup_ms"),
        )
    )


# --------------------------------------------------------------------------
# q23 — sessionization: 30-minute inactivity gap splits sessions; classic
# lag + cumulative-sum window (one shuffle on user_id).
@register(
    "q23_sessionization",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
        CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000 THEN 1
             WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
             ELSE 0 END AS new_sess
      FROM {EVENTS_US} e
    )
    SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events,
           epoch_ms(max(ts)) - epoch_ms(min(ts)) AS span_ms
    FROM marked GROUP BY user_id
    """,
)
def q23_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    new_sess = F.when(prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > 1800000), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("span_ms"),
        )
    )


# --------------------------------------------------------------------------
# q24 — tumbling-window aggregation (the batch shape of the Structured
# Streaming windowed agg in streaming/; F.window is epoch-aligned so the
# oracle floors epoch_ms to the 6h bucket).
@register(
    "q24_windowed_agg",
    oracle=f"""
    SELECT epoch_ms(ts) - epoch_ms(ts) % 21600000 AS window_start_ms, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM {EVENTS_US} e
    GROUP BY 1, 2
    """,
)
def q24_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Tumbling-window agg WITHOUT the per-row window struct: F.window
    # materializes a (start, end) struct for every input row, and at the
    # sf10 checkpoint that expression was ~80% of the query's wall
    # (0.55 of 0.64 s vs a 0.12 s scan+count). The grouped output only
    # needs the bucket START, which for an epoch-aligned tumbling window
    # is exact integer math: start_us = us - floorMod(us, slide_us) —
    # bit-identical to TimeWindow's own bucketing (same floorMod), in
    # whole-stage codegen long arithmetic.
    slide_us = 6 * 3600 * 1_000_000
    us = F.unix_micros(F.col("ts"))
    start_us = us - F.pmod(us, F.lit(slide_us))
    return (
        ev.groupBy(start_us.alias("_w_us"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # integer-cents sum (the q01 pattern): long cents keep the
            # 10M-row agg in codegen long arithmetic, one exact decimal
            # division per group reconstructs the same value the
            # per-row decimal(12,2) sum produces (distributivity —
            # verified tuple-for-tuple at sf10; 0.72 -> 0.54 s A/B).
            # cast-then-divide (see q01's reconstruction-order note)
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0)
            )
            .alias("total_value"),
        )
        .select(
            F.expr("_w_us div 1000").alias("window_start_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# q25 — exact median / percentile + min/max per group.
@register(
    "q25_median",
    oracle="""
    SELECT l_returnflag,
      CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
      min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q25_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q26 — type narrowing stats (reference P7 `compress_df`,
# src/stata/compress.rs:82-202): min/max/integrality scan that drives the
# downcast decision, using the reference's Stata-safe bounds
# (src/stata/compress.rs:5-19: byte<=100, int<=32740, long<=2147483620).
@register(
    "q26_type_narrowing",
    oracle="""
    WITH stats AS (
      SELECT 'l_quantity' AS col_name, min(l_quantity) AS vmin, max(l_quantity) AS vmax,
             CAST(sum(CASE WHEN l_quantity <> floor(l_quantity) THEN 1 ELSE 0 END) AS BIGINT) = 0 AS all_int
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', min(l_extendedprice), max(l_extendedprice),
             CAST(sum(CASE WHEN l_extendedprice <> floor(l_extendedprice) THEN 1 ELSE 0 END) AS BIGINT) = 0
      FROM lineitem
      UNION ALL
      SELECT 'l_linenumber', min(CAST(l_linenumber AS DOUBLE)), max(CAST(l_linenumber AS DOUBLE)),
             CAST(sum(CASE WHEN l_linenumber <> floor(l_linenumber) THEN 1 ELSE 0 END) AS BIGINT) = 0
      FROM lineitem
    )
    SELECT col_name, vmin, vmax, all_int,
      CASE WHEN NOT all_int THEN 'double'
           WHEN vmin >= 0 AND vmax <= 1 THEN 'boolean'
           WHEN vmin >= -127 AND vmax <= 100 THEN 'int8'
           WHEN vmin >= -32767 AND vmax <= 32740 THEN 'int16'
           WHEN vmin >= -2147483647 AND vmax <= 2147483620 THEN 'int32'
           ELSE 'double' END AS narrowed_type
    FROM stats
    """,
)
def q26_type_narrowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.narrow import narrowing_stats

    li = load_table(spark, sf_dir, "lineitem")
    return narrowing_stats(li, ["l_quantity", "l_extendedprice", "l_linenumber"])


# --------------------------------------------------------------------------
# q37 — full compress-rule parity (reference src/stata/compress.rs:82-225):
# all-midnight Datetime -> Date, numeric String -> narrowed numeric,
# non-numeric String stays, all-null -> Boolean, 0/1 -> Boolean, and
# beyond-int32 integers -> double (the reference has no int64 tier).
@register(
    "q37_narrow_full_rules",
    oracle="""
    WITH src AS (
      SELECT CAST(l_linenumber AS VARCHAR) AS lin_str, l_returnflag AS flag_str,
             l_shipdate AS ship, CAST(NULL AS DOUBLE) AS all_null,
             CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END AS is_first,
             l_orderkey * 10000000000 AS big
      FROM lineitem),
    stats AS (
      SELECT 'lin_str' AS col_name, min(TRY_CAST(lin_str AS DOUBLE)) AS vmin,
             max(TRY_CAST(lin_str AS DOUBLE)) AS vmax,
             CAST(sum(CASE WHEN TRY_CAST(lin_str AS DOUBLE) <> floor(TRY_CAST(lin_str AS DOUBLE)) THEN 1 ELSE 0 END) AS BIGINT) = 0 AS all_int,
             'string' AS kind, bool_and(TRY_CAST(lin_str AS DOUBLE) IS NOT NULL OR lin_str IS NULL OR trim(lin_str) = '') AS ok,
             count(TRY_CAST(lin_str AS DOUBLE)) AS nn, count(*) AS n
      FROM src
      UNION ALL
      SELECT 'flag_str', min(TRY_CAST(flag_str AS DOUBLE)), max(TRY_CAST(flag_str AS DOUBLE)),
             CAST(sum(CASE WHEN TRY_CAST(flag_str AS DOUBLE) <> floor(TRY_CAST(flag_str AS DOUBLE)) THEN 1 ELSE 0 END) AS BIGINT) = 0,
             'string', bool_and(TRY_CAST(flag_str AS DOUBLE) IS NOT NULL OR flag_str IS NULL OR trim(flag_str) = ''),
             count(TRY_CAST(flag_str AS DOUBLE)), count(*)
      FROM src
      UNION ALL
      SELECT 'ship', NULL, NULL,
             CAST(sum(CASE WHEN date_trunc('day', ship) <> ship THEN 1 ELSE 0 END) AS BIGINT) = 0,
             'timestamp', TRUE, count(ship), count(*)
      FROM src
      UNION ALL
      SELECT 'all_null', min(all_null), max(all_null),
             CAST(sum(CASE WHEN all_null <> floor(all_null) THEN 1 ELSE 0 END) AS BIGINT) = 0,
             'numeric', TRUE, count(all_null), count(*)
      FROM src
      UNION ALL
      SELECT 'is_first', min(CAST(is_first AS DOUBLE)), max(CAST(is_first AS DOUBLE)),
             CAST(sum(CASE WHEN is_first <> floor(is_first) THEN 1 ELSE 0 END) AS BIGINT) = 0,
             'numeric', TRUE, count(is_first), count(*)
      FROM src
      UNION ALL
      SELECT 'big', min(CAST(big AS DOUBLE)), max(CAST(big AS DOUBLE)),
             CAST(sum(CASE WHEN big <> floor(big) THEN 1 ELSE 0 END) AS BIGINT) = 0,
             'numeric', TRUE, count(big), count(*)
      FROM src)
    SELECT col_name, vmin, vmax, all_int,
      CASE WHEN kind = 'timestamp' THEN (CASE WHEN all_int THEN 'date' ELSE 'timestamp' END)
           WHEN kind = 'string' AND NOT ok THEN 'string'
           WHEN n > 0 AND nn = 0 THEN 'boolean'
           WHEN NOT all_int THEN 'double'
           WHEN vmin >= 0 AND vmax <= 1 THEN 'boolean'
           WHEN vmin >= -127 AND vmax <= 100 THEN 'int8'
           WHEN vmin >= -32767 AND vmax <= 32740 THEN 'int16'
           WHEN vmin >= -2147483647 AND vmax <= 2147483620 THEN 'int32'
           ELSE 'double' END AS narrowed_type
    FROM stats
    """,
)
def q37_narrow_full_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.narrow import narrowing_stats

    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_linenumber").cast("string").alias("lin_str"),
        F.col("l_returnflag").alias("flag_str"),
        F.col("l_shipdate").alias("ship"),
        F.lit(None).cast("double").alias("all_null"),
        F.when(F.col("l_linenumber") == 1, 1).otherwise(0).alias("is_first"),
        (F.col("l_orderkey").cast("long") * 10000000000).alias("big"),
    )
    return narrowing_stats(src)
