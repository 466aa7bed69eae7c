"""Relational surface, part 2: outer joins, rollup/cube, correlated
subqueries, pivot, and the temporal join family (as-of, range).

Continues SURVEY.md §2 beyond-parity relational coverage (the reference
has no outer joins, grouping sets, or temporal joins — §2.3/§2.4 note
the gaps explicitly). Every query here is duckdb-oracle checked.

Scale notes: as-of join is the union+window formulation (single shuffle
on the key, no join fan-out — the standard at-scale as-of algorithm,
cf. Flink/QuestDB/kdb temporal joins); range join is an equi-join on the
entity key with a band filter (at 100 TB you'd additionally bucket by
coarse time so the band filter prunes buckets); rollup/cube are one
shuffle with grouping-set expansion map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..operators.temporal import asof_join
from .registry import (
    checkpoint_release,
    DEC,
    QuerySpec,
    davg,
    dsum,
    register,
    sql_davg,
    sql_dsum,
    sql_trunc6,
    trunc6,
)


def _q(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags))
        return fn

    return deco


# --------------------------------------------------------------------------
# TPC-H Q13 shape: LEFT OUTER join + two-level aggregation (order-count
# distribution). The outer join keeps order-less customers (count 0).
@_q(
    "q13_cust_order_counts",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) cc
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_cust_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# ROLLUP — hierarchical subtotals region → nation → grand total.
# NULL grouping markers coalesced to 'ALL' identically in both engines.
@_q(
    "q_rollup_region_nation",
    f"""
    SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
           {sql_dsum('c_acctbal')} AS total_bal, COUNT(*) AS n_custs
    FROM customer JOIN nation ON n_nationkey = c_nationkey
                  JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region, nation
    """,
)
def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    return (
        c.rollup("r_name", "n_name")
        .agg(dsum(F.col("c_acctbal")).alias("total_bal"), F.count(F.lit(1)).alias("n_custs"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "total_bal",
            "n_custs",
        )
        .orderBy("region", "nation")
    )


# --------------------------------------------------------------------------
# CUBE — all grouping combinations of (status, priority).
@_q(
    "q_cube_status_priority",
    f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("total"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


# --------------------------------------------------------------------------
# TPC-H Q14 shape: conditional aggregation (promo revenue share).
@_q(
    "q14_promo_revenue",
    f"""
    SELECT {sql_trunc6(
        "100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(25,6))) AS DOUBLE)"
        " / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)"
    )} AS promo_share,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            trunc6(F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q17 shape: per-group average subquery feeding a filter
# (small-quantity orders). Spark: groupBy avg + broadcast join back —
# no correlated-subquery re-execution, one pass each.
@_q(
    "q17_small_qty_revenue",
    f"""
    WITH pa AS (
      SELECT l_partkey AS pk, {sql_davg('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_trunc6(f"{sql_dsum('l_extendedprice')} / 7.0")} AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN pa ON pk = l_partkey
    WHERE p_brand = 'Brand#11' AND l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(davg(F.col("l_quantity")).alias("avg_qty"))
    brand = t["part"].filter(F.col("p_brand") == "Brand#11")
    return (
        li.join(brand, F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            trunc6(dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING on a big aggregation, join back to dims, top-k.
@_q(
    "q18_large_orders",
    f"""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity')} AS total_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                JOIN customer ON c_custkey = o_custkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING {sql_dsum('l_quantity')} > 140
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # aggregate lineitem FIRST (map-side combine on l_orderkey), filter to
    # the rare big orders, then join the small survivor set to dims —
    # at scale this is the difference between shuffling 100 TB and ~MBs.
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 140)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# TPC-H Q19 shape: OR-of-ANDs predicate pushed into one scan+join.
@_q(
    "q19_or_predicates",
    f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    j = t["lineitem"].join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# TPC-H Q22 shape: scalar subquery threshold + anti join (rich customers
# with no orders).
@_q(
    "q22_idle_rich_customers",
    f"""
    WITH avg_bal AS (
      SELECT {sql_davg('c_acctbal')} AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_custs,
           {sql_dsum('c_acctbal')} AS total_bal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(davg(F.col("c_acctbal")).alias("ab"))
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(t["orders"].select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_custs"), dsum(F.col("c_acctbal")).alias("total_bal"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral trade volume between nation pairs by year.
@_q(
    "q07_nation_trade_pairs",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation sn ON sn.n_nationkey = s_nationkey
                  JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE sn.n_name IN ('NATION_0', 'NATION_1') AND cn.n_name IN ('NATION_0', 'NATION_1')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q07_nation_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    nations = ("NATION_0", "NATION_1")
    sn = t["nation"].select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    cn = t["nation"].select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    supp = t["supplier"].join(F.broadcast(sn), F.col("sk") == F.col("s_nationkey")).filter(
        F.col("supp_nation").isin(*nations)
    )
    cust = t["customer"].join(F.broadcast(cn), F.col("ck") == F.col("c_nationkey")).filter(
        F.col("cust_nation").isin(*nations)
    )
    return (
        t["lineitem"]
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# TPC-H Q9 shape: profit by supplier nation and year (5-table join;
# revenue minus a part-cost proxy since there is no partsupp table).
@_q(
    "q09_profit_by_nation_year",
    f"""
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount) - 0.01 * p_retailprice * l_quantity')} AS profit
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                  JOIN part ON p_partkey = l_partkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%green%' OR p_type = 'PROMO'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY nation, o_year
    """,
)
def q09_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(F.col("p_name").like("%green%") | (F.col("p_type") == "PROMO"))
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.01 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        t["lineitem"]
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(dsum(profit).alias("profit"))
        .orderBy("nation", "o_year")
    )


# --------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier(s) by revenue = scalar-subquery max.
@_q(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey AS sk, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, {sql_trunc6('total_rev')} AS total_rev
    FROM supplier JOIN rev ON sk = s_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name", trunc6(F.col("total_rev")).alias("total_rev"))
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# correlated scalar subquery — parts above their brand's average price.
# Spark: window avg (one shuffle) instead of subquery re-execution.
@_q(
    "q_corr_above_brand_avg",
    f"""
    WITH b AS (
      SELECT p_brand AS bb, {sql_davg('p_retailprice')} AS brand_avg FROM part GROUP BY p_brand
    )
    SELECT p_brand, COUNT(*) AS n_above,
           {sql_trunc6(f"{sql_dsum('p_retailprice')} - COUNT(*) * MAX(brand_avg)")} AS total_excess
    FROM part JOIN b ON bb = p_brand
    WHERE p_retailprice > brand_avg
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_corr_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("p_brand")
    # window-avg formulation: the exact decimal sum/count per brand is
    # computed alongside the rows (one shuffle on p_brand, no join).
    p = t["part"].withColumn(
        "brand_avg",
        F.sum(F.col("p_retailprice").cast("decimal(25,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
    )
    return (
        p.filter(F.col("p_retailprice") > F.col("brand_avg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            # sum(price) - n*avg, all-double after the exact decimal sum:
            # summing per-row (price - avg) doubles through decimal casts
            # hits engine-specific rounding of the cast at 1e-6 ties
            trunc6(
                dsum(F.col("p_retailprice")) - F.count(F.lit(1)) * F.max("brand_avg")
            ).alias("total_excess"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# manual pivot — status × priority counts as one row per status
# (conditional aggregation; the relational PIVOT).
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@_q(
    "q_pivot_status_priority",
    f"""
    SELECT o_orderstatus AS status,
           {', '.join(f'''SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS p{i}''' for i, p in enumerate(_PRIORITIES))}
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def q_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            *[
                F.sum((F.col("o_orderpriority") == p).cast("bigint")).alias(f"p{i}")
                for i, p in enumerate(_PRIORITIES)
            ]
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# AS-OF join — for each 'error' event, the most recent prior-or-equal
# 'click' by the same user. Spark side: union+window (operators/
# temporal.asof_join — one shuffle on user_id, no join fan-out).
# Oracle: duckdb native ASOF LEFT JOIN. Output aggregated per user.
@_q(
    "q_asof_click_before_error",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
    ), c AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), m AS (
      SELECT e.user_id, e.ts, c.ts AS click_ts
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
    )
    SELECT user_id,
           COUNT(*) AS n_errors,
           COUNT(click_ts) AS n_matched,
           CAST(COALESCE(SUM(epoch_us(ts) - epoch_us(click_ts)), 0) AS BIGINT) AS total_gap_us
    FROM m GROUP BY user_id ORDER BY user_id
    """,
)
def q_asof_click_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    m = asof_join(errors, clicks, on="user_id", left_ts="ts", right_ts="ts", suffix="_click")
    # harness parquet stores ts as TIMESTAMP_NTZ; unix_micros requires
    # TIMESTAMP — cast is value-stable because the session TZ is pinned UTC.
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("ts_click").cast("timestamp")
    )
    return (
        m.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.count("ts_click").alias("n_matched"),
            F.coalesce(F.sum(gap), F.lit(0)).alias("total_gap_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# range (band) join — views within 5 minutes after each error, per user.
# Equi-join on the entity key + time-band filter; at scale, bucket both
# sides by coarse time so the band prunes buckets (partition pruning).
@_q(
    "q_range_views_after_error",
    """
    SELECT e.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT e.event_id) AS n_errors_with_view
    FROM events e JOIN events v
      ON v.user_id = e.user_id
     AND v.ts > e.ts AND v.ts <= e.ts + INTERVAL 5 MINUTE
    WHERE e.event_type = 'error' AND v.event_type = 'view'
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
)
def q_range_views_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"), F.col("ts").alias("ets"), F.col("event_id").alias("eid")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    return (
        e.join(
            v,
            (F.col("vu") == F.col("eu"))
            & (F.col("vts") > F.col("ets"))
            & (F.col("vts") <= F.col("ets") + F.expr("INTERVAL 5 MINUTES")),
        )
        .groupBy(F.col("eu").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("eid").alias("n_errors_with_view"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# TPC-H Q2 shape: min-within-group + semi join back (cheapest supplier
# per part, via lineitem since there is no partsupp table).
@_q(
    "q02_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT pk, MIN(unit_cost) AS min_cost FROM costs GROUP BY pk
    )
    SELECT s_nationkey, COUNT(*) AS n_best_pairs
    FROM costs JOIN best ON costs.pk = best.pk AND costs.unit_cost = best.min_cost
               JOIN supplier ON s_suppkey = costs.sk
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    costs = (
        t["lineitem"]
        .filter(F.col("l_quantity") > 0)
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    # window-min avoids the second shuffle of a groupBy+join-back: one
    # shuffle on pk computes both the per-pair min and the per-part min
    w = Window.partitionBy("pk")
    best = costs.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(t["supplier"], F.col("s_suppkey") == F.col("sk"))
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_best_pairs"))
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# NULL semantics — NULLIF-produced nulls through aggregates, COALESCE,
# and null-safe counting. (Engine row order is irrelevant to the gate's
# hash; what must agree is the NULL arithmetic itself.)
@_q(
    "q_null_semantics",
    """
    WITH n AS (
      SELECT NULLIF(o_orderstatus, 'P') AS st,
             NULLIF(o_totalprice, 0.0) AS price,
             CASE WHEN o_orderpriority = '5-LOW' THEN NULL ELSE o_custkey END AS ck
      FROM orders
    )
    SELECT COALESCE(st, '«null»') AS status,
           COUNT(*) AS n_rows,
           COUNT(ck) AS n_ck_notnull,
           COUNT(*) - COUNT(ck) AS n_ck_null,
           COUNT(DISTINCT ck) AS n_ck_distinct
    FROM n GROUP BY st ORDER BY status
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    n = o.select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("st"),
        F.when(F.col("o_orderpriority") == "5-LOW", F.lit(None)).otherwise(F.col("o_custkey")).alias("ck"),
    )
    return (
        n.groupBy("st")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("ck").alias("n_ck_notnull"),
            (F.count(F.lit(1)) - F.count("ck")).alias("n_ck_null"),
            F.countDistinct("ck").alias("n_ck_distinct"),
        )
        .select(F.coalesce(F.col("st"), F.lit("«null»")).alias("status"), "n_rows", "n_ck_notnull", "n_ck_null", "n_ck_distinct")
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# string-function surface — substr/upper/replace/concat/lpad/length over
# customer names (ASCII-deterministic in both engines).
@_q(
    "q_string_funcs",
    """
    WITH s AS (
      SELECT UPPER(SUBSTR(c_name, 1, 8)) AS pfx,
             REPLACE(c_name, 'Customer', 'C') AS short_name,
             LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
             LENGTH(c_name) AS name_len,
             CONCAT(c_mktsegment, '/', CAST(c_nationkey AS VARCHAR)) AS seg_nation
      FROM customer
    )
    SELECT pfx, COUNT(*) AS n,
           MIN(padded) AS min_padded,
           MAX(seg_nation) AS max_seg_nation,
           CAST(SUM(name_len) AS BIGINT) AS total_len,
           MIN(short_name) AS min_short
    FROM s GROUP BY pfx ORDER BY pfx
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    s = c.select(
        F.upper(F.substring("c_name", 1, 8)).alias("pfx"),
        F.regexp_replace("c_name", "Customer", "C").alias("short_name"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("/", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
    )
    return (
        s.groupBy("pfx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("padded").alias("min_padded"),
            F.max("seg_nation").alias("max_seg_nation"),
            F.sum("name_len").alias("total_len"),
            F.min("short_name").alias("min_short"),
        )
        .orderBy("pfx")
    )


# --------------------------------------------------------------------------
# datetime-function surface — extract/trunc/diff arithmetic on orders.
@_q(
    "q_datetime_funcs",
    """
    WITH d AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             EXTRACT(month FROM o_orderdate) AS mo,
             EXTRACT(day FROM o_orderdate) AS dy,
             CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
             datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since
      FROM orders
    )
    SELECT yr, COUNT(*) AS n,
           COUNT(DISTINCT mo) AS n_months,
           COUNT(DISTINCT qtr) AS n_quarters,
           CAST(MIN(days_since) AS BIGINT) AS min_days,
           CAST(MAX(days_since) AS BIGINT) AS max_days,
           CAST(SUM(dy) AS BIGINT) AS sum_days
    FROM d GROUP BY yr ORDER BY yr
    """,
)
def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    d = o.select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dy"),
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("qtr"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
    )
    return (
        d.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("mo").alias("n_months"),
            F.countDistinct("qtr").alias("n_quarters"),
            F.min("days_since").cast("bigint").alias("min_days"),
            F.max("days_since").cast("bigint").alias("max_days"),
            F.sum("dy").alias("sum_days"),
        )
        .orderBy("yr")
    )


# --------------------------------------------------------------------------
# TPC-H Q8 shape: market share — conditional share of a group within a
# larger aggregate, per year.
@_q(
    "q08_market_share",
    f"""
    WITH rev AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CASE WHEN n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS target_rev,
             l_extendedprice * (1 - l_discount) AS total_rev
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON n_nationkey = s_nationkey
    )
    SELECT yr,
           {sql_trunc6(f"{sql_dsum('target_rev')} / {sql_dsum('total_rev')}")} AS mkt_share,
           COUNT(*) AS n_items
    FROM rev GROUP BY yr ORDER BY yr
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
    )
    target = F.when(F.col("n_name") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (
        j.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            trunc6(dsum(target) / dsum(rev)).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("yr")
    )


# --------------------------------------------------------------------------
# sliding-frame window — 4-row moving sum + lag delta per customer
# (ROWS BETWEEN frames; exact decimal arithmetic inside the frame).
@_q(
    "q_window_moving_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
           CAST(COALESCE(o_totalprice - LAG(o_totalprice)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0)
                AS DOUBLE) AS delta_prev
    FROM orders
    WHERE o_custkey % 20 = 0
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_custkey") % 20 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-3, 0)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(wf).cast("double").alias("moving_sum"),
            F.coalesce(
                F.col("o_totalprice") - F.lag("o_totalprice").over(w), F.lit(0.0)
            ).cast("double").alias("delta_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# deterministic hash sampling — the cross-engine-reproducible form of
# TABLESAMPLE (rand()-based samples are engine-specific; a hash of the
# key is stable everywhere, and at scale Catalyst pushes nothing but a
# cheap md5+filter into the scan).
from ..functions.hashing import md5_long, md5_long_sql  # noqa: E402


@_q(
    "q_hash_sample",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_sampled,
           {sql_dsum('o_totalprice')} AS sampled_spend
    FROM orders
    WHERE {md5_long_sql("CAST(o_orderkey AS VARCHAR)")} % 100 < 5
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.filter(md5_long(F.col("o_orderkey").cast("string")) % 100 < 5)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"), dsum(F.col("o_totalprice")).alias("sampled_spend"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# time-spine gap fill — generate the full hour spine per event_type and
# left-join observed counts so silent hours appear as zeros (the
# resample/interpolate pattern every time-series pipeline needs).
@_q(
    "q_hourly_gap_fill",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM events
    ), spine AS (
      SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), obs AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type,
           COUNT(*) AS n_hours,
           CAST(SUM(CASE WHEN obs.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_silent_hours,
           CAST(SUM(COALESCE(obs.n, 0)) AS BIGINT) AS n_events,
           CAST(MAX(COALESCE(obs.n, 0)) AS BIGINT) AS max_per_hour
    FROM spine s CROSS JOIN types t
    LEFT JOIN obs ON obs.hour = s.hour AND obs.event_type = t.event_type
    GROUP BY t.event_type ORDER BY t.event_type
    """,
)
def q_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    obs = (
        ev.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    full = spine.crossJoin(types).join(
        obs.withColumnRenamed("event_type", "ot").withColumnRenamed("hour", "oh"),
        (F.col("oh") == F.col("hour")) & (F.col("ot") == F.col("event_type")),
        "left",
    )
    return (
        full.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.col("n").isNull().cast("int")).cast("bigint").alias("n_silent_hours"),
            F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("n_events"),
            F.max(F.coalesce(F.col("n"), F.lit(0))).alias("max_per_hour"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# data profiling — the ANALYZE-style per-column stats pass (null count,
# distinct count, min/max) every warehouse runs before planning.
@_q(
    "q_profile_lineitem",
    """
    SELECT 'l_quantity' AS col, COUNT(*) AS n, COUNT(l_quantity) AS n_notnull,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v, CAST(MAX(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(l_discount), COUNT(DISTINCT l_discount),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_orderkey', COUNT(*), COUNT(l_orderkey), COUNT(DISTINCT l_orderkey),
           CAST(MIN(l_orderkey) AS DOUBLE), CAST(MAX(l_orderkey) AS DOUBLE)
    FROM lineitem
    ORDER BY col
    """,
)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]

    def prof(c: str):
        return li.agg(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.count(c).alias("n_notnull"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("double").alias("min_v"),
            F.max(c).cast("double").alias("max_v"),
        )

    out = prof("l_quantity")
    for c in ("l_discount", "l_orderkey"):
        out = out.unionByName(prof(c))
    return out.orderBy("col")


# --------------------------------------------------------------------------
# quantile binning — NTILE discretization + per-bin stats.
@_q(
    "q_ntile_spend_quartiles",
    f"""
    WITH b AS (
      SELECT o_totalprice, NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT quartile, COUNT(*) AS n,
           {sql_trunc6('MIN(o_totalprice)')} AS lo,
           {sql_trunc6('MAX(o_totalprice)')} AS hi
    FROM b GROUP BY quartile ORDER BY quartile
    """,
)
def q_ntile_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.orderBy("o_totalprice", "o_orderkey")
    b = o.select("o_totalprice", F.ntile(4).over(w).alias("quartile"))
    return (
        b.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            trunc6(F.min("o_totalprice")).alias("lo"),
            trunc6(F.max("o_totalprice")).alias("hi"),
        )
        .orderBy("quartile")
    )


# --------------------------------------------------------------------------
# Pearson correlation from exact decimal moments — engine-native corr()
# accumulates in engine-specific order; the moment formula is
# order-independent and bit-identical in both engines.
@_q(
    "q_corr_price_qty",
    f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             {sql_dsum('l_quantity')} AS sx, {sql_dsum('l_extendedprice')} AS sy,
             {sql_dsum('l_quantity * l_quantity')} AS sxx,
             {sql_dsum('l_extendedprice * l_extendedprice')} AS syy,
             {sql_dsum('l_quantity * l_extendedprice')} AS sxy
      FROM lineitem
    )
    SELECT n,
           {sql_trunc6('(n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))')} AS corr_qty_price
    FROM m
    """,
)
def q_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_quantity")).alias("sx"),
        dsum(F.col("l_extendedprice")).alias("sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        dsum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("n", trunc6(corr).alias("corr_qty_price"))


# --------------------------------------------------------------------------
# null-safe equality join — <=> (IS NOT DISTINCT FROM): null keys match
# each other, unlike plain = which drops them.
@_q(
    "q_null_safe_join",
    """
    WITH a AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, COUNT(*) AS na
      FROM orders GROUP BY NULLIF(o_orderstatus, 'P')
    ), b AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
      FROM orders GROUP BY NULLIF(o_orderstatus, 'P')
    )
    SELECT COALESCE(a.k, '«null»') AS k, na, FLOOR(total * 1000000.0) / 1000000.0 AS total
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    k = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    a = o.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("na"))
    b = o.groupBy(k.alias("kb")).agg(dsum(F.col("o_totalprice")).alias("total"))
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("kb")))
        .select(F.coalesce(F.col("k"), F.lit("«null»")).alias("k"), "na", trunc6(F.col("total")).alias("total"))
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# TPC-H Q16 shape: distinct supplier variety per part attribute, via
# the lineitem bridge (no partsupp table in this schema).
@_q(
    "q16_supplier_variety",
    """
    SELECT p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_type, p_size
    ORDER BY supplier_cnt DESC, p_type, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#45") & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# array aggregation + ops — ordered collect, slice, membership; arrays
# serialized to strings so the cross-engine hash sees identical cells.
@_q(
    "q_array_ops",
    """
    WITH a AS (
      SELECT o_custkey,
             list(o_orderkey ORDER BY o_orderdate, o_orderkey) AS orders_arr
      FROM orders WHERE o_custkey % 50 = 0
      GROUP BY o_custkey
    )
    SELECT o_custkey,
           len(orders_arr) AS n_orders,
           array_to_string(orders_arr[1:3], ',') AS first3,
           CASE WHEN list_contains(orders_arr, o_custkey * 10) THEN 1 ELSE 0 END AS has_marker
    FROM a ORDER BY o_custkey
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_custkey") % 50 == 0)
    a = o.groupBy("o_custkey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("o_orderdate", "o_orderkey"))),
            lambda s: s["o_orderkey"],
        ).alias("orders_arr")
    )
    return a.select(
        "o_custkey",
        F.size("orders_arr").alias("n_orders"),
        F.array_join(F.slice("orders_arr", 1, 3), ",").alias("first3"),
        F.array_contains("orders_arr", F.col("o_custkey") * 10).cast("int").alias("has_marker"),
    ).orderBy("o_custkey")


# --------------------------------------------------------------------------
# FULL OUTER join — nations present on the customer side, the supplier
# side, both, or neither side's filtered subset.
@_q(
    "q_full_outer_nation_presence",
    """
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_rich_cust
      FROM customer WHERE c_acctbal > 7000 GROUP BY c_nationkey
    ), s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_rich_supp
      FROM supplier WHERE s_acctbal > 7000 GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_rich_cust, 0) AS n_rich_cust,
           COALESCE(n_rich_supp, 0) AS n_rich_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def q_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = (
        t["customer"].filter(F.col("c_acctbal") > 7000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    s = (
        t["supplier"].filter(F.col("s_acctbal") > 7000)
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return (
        c.join(s, F.col("nk") == F.col("snk"), "full_outer")
        .select(
            F.coalesce(F.col("nk"), F.col("snk")).alias("nationkey"),
            F.coalesce(F.col("n_rich_cust"), F.lit(0)).alias("n_rich_cust"),
            F.coalesce(F.col("n_rich_supp"), F.lit(0)).alias("n_rich_supp"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# EXCEPT set op — completes the set-operator family (UNION/INTERSECT
# elsewhere).
@_q(
    "q_except_nations",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
      WHERE c_acctbal > 9000
    EXCEPT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
      WHERE s_acctbal > 9000
    ORDER BY n_name
    """,
)
def q_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cn = (
        t["customer"].filter(F.col("c_acctbal") > 9000)
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    sn = (
        t["supplier"].filter(F.col("s_acctbal") > 9000)
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    # subtract = EXCEPT (set) semantics; exceptAll would be bag
    # difference and keep nations merely having MORE customers
    return cn.subtract(sn).orderBy("n_name")


# --------------------------------------------------------------------------
# fixed-width histogram — deterministic binning (the exact-histogram
# sketch; width_bucket/floor arithmetic identical in both engines).
@_q(
    "q_price_histogram",
    """
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key
    FROM orders
    GROUP BY CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT)
    ORDER BY bin
    """,
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("o_orderkey").cast("bigint").alias("first_key"))
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# TPC-H Q21 shape (adapted, no receipt dates): orders served by ≥2
# distinct suppliers with at least one from the target nation —
# multi-correlation via one aggregation instead of EXISTS/NOT EXISTS
# re-execution.
@_q(
    "q21_multi_supplier_orders",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supps,
             MAX(CASE WHEN n_name = 'NATION_1' THEN 1 ELSE 0 END) AS has_target
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON n_nationkey = s_nationkey
      GROUP BY l_orderkey
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM per_order JOIN orders ON o_orderkey = l_orderkey
    WHERE n_supps >= 2 AND has_target = 1
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q21_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    sn = t["supplier"].join(
        F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey")
    )
    per_order = (
        t["lineitem"]
        .join(sn, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_orderkey")
        .agg(
            # size(collect_set) = COUNT(DISTINCT ...) in ONE aggregation
            # pass — countDistinct plans an Expand + second shuffle-agg;
            # the set stays bounded by suppliers-per-order (tiny)
            F.size(F.collect_set("l_suppkey")).alias("n_supps"),
            F.max((F.col("n_name") == "NATION_1").cast("int")).alias("has_target"),
        )
        .filter((F.col("n_supps") >= 2) & (F.col("has_target") == 1))
    )
    return (
        per_order.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# TPC-H Q11 shape (adapted — the harness has no partsupp table): value
# of each part shipped by a target nation's suppliers, keeping parts
# whose value exceeds a fraction of the nation total. The distinctive
# shape is the scalar-subquery threshold: a global aggregate feeding a
# per-group HAVING. At scale the global total is a 1-row broadcast —
# one shuffle for the per-part agg, zero for the threshold join.
# Keeps parts above 1.5× the average part value. Determinism: sums are
# exact DECIMAL (order-independent); the single decimal→double
# conversion per value is identical in both engines, and the IEEE
# compare of identical doubles matches (1.5 is exactly representable).
@_q(
    "q11_important_parts",
    """
    WITH nation_parts AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS dval
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT partkey, CAST(dval AS DOUBLE) AS value
    FROM nation_parts
    WHERE CAST(dval AS DOUBLE) * (SELECT COUNT(*) FROM nation_parts)
          > 1.5 * (SELECT CAST(SUM(dval) AS DOUBLE) FROM nation_parts)
    ORDER BY value DESC, partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    sn = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .filter(F.col("n_name") == "NATION_1")
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        .join(sn, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias(
                "dval"
            )
        )
    )
    # threshold via a global window over the ALREADY-AGGREGATED relation
    # (#parts rows, not #lineitems) — one scan of the fact table, versus
    # the naive agg-twice formulation that re-reads lineitem for the
    # total. The unpartitioned window collapses only the small agg.
    w = Window.partitionBy()
    return (
        per_part.withColumn("total", F.sum("dval").over(w).cast("double"))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("dval").cast("double") * F.col("n") > 1.5 * F.col("total"))
        .select("partkey", F.col("dval").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "partkey")
    )


# --------------------------------------------------------------------------
# TPC-H Q12 shape (adapted — no l_shipmode/receiptdate): late-shipment
# priority mix. Line items shipped >60 days after order date, grouped
# by line status, counting high- vs low-priority orders — the classic
# conditional-aggregation-after-join shape.
@_q(
    "q12_late_shipment_priority",
    """
    SELECT l_linestatus AS linestatus,
           SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("linestatus")
    )


# --------------------------------------------------------------------------
# TPC-H Q20 shape (adapted — no partsupp): suppliers who shipped an
# above-average quantity of a name-matched part family, listed with
# their nation. The distinctive shape is the IN-subquery (semi-join)
# whose inner query is itself an aggregation with a global-average
# threshold. Supplier-side tables are tiny → everything after the one
# lineitem agg is broadcast.
@_q(
    "q20_excess_suppliers",
    """
    WITH sp AS (
      SELECT l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
      GROUP BY l_suppkey
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM sp
      WHERE CAST(qty AS DOUBLE) * (SELECT COUNT(*) FROM sp)
            > (SELECT CAST(SUM(qty) AS DOUBLE) FROM sp)
    )
    ORDER BY s_name
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    widget_parts = t["part"].filter(F.col("p_name").like("%widget%")).select("p_partkey")
    sp = (
        t["lineitem"]
        .join(widget_parts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
    )
    # same single-pass threshold trick as q11: window over the tiny
    # per-supplier aggregate instead of re-scanning lineitem for totals
    w = Window.partitionBy()
    excess = (
        sp.withColumn("total", F.sum("qty").over(w).cast("double"))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("qty").cast("double") * F.col("n") > F.col("total"))
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# explicit GROUPING SETS (beyond rollup/cube): two independent
# aggregation lattices in ONE pass — (status, priority) detail and
# (priority-only) margin, with GROUPING() disambiguating the null.
# Spark expands grouping sets map-side into a single Expand + one
# shuffle — strictly cheaper than a UNION ALL of separate groupBys,
# which would scan orders twice.
@_q(
    "q_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, '«all»') AS status,
           o_orderpriority AS priority,
           GROUPING(o_orderstatus) AS is_margin,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority))
    ORDER BY priority, is_margin, status
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").alias("is_margin"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("«all»")).alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "is_margin",
            "n",
            "revenue",
        )
        .orderBy("priority", "is_margin", "status")
    )


# --------------------------------------------------------------------------
# value-window functions: first/last/nth order value and relative rank
# position per customer's order history — the remaining window surface
# (frame-dependent value functions + distribution functions) beyond the
# row_number/lag/sum windows elsewhere. One shuffle on o_custkey; every
# window shares the same partitioning so Spark plans a single Window
# operator chain without re-exchange.
@_q(
    "q_window_value_funcs",
    """
    WITH w AS (
      SELECT o_custkey,
             o_orderkey,
             FIRST_VALUE(o_totalprice) OVER pw AS first_price,
             NTH_VALUE(o_totalprice, 2) OVER pw AS second_price,
             LAST_VALUE(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
             FLOOR(PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) * 1000000.0)
               / 1000000.0 AS pr,
             FLOOR(CUME_DIST() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) * 1000000.0)
               / 1000000.0 AS cd
      FROM orders
      WINDOW pw AS (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, first_price, second_price, last_price, pr, cd
    FROM w WHERE o_custkey % 100 = 7
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    grow = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rankw = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_totalprice").over(grow).alias("first_price"),
            F.nth_value("o_totalprice", 2).over(grow).alias("second_price"),
            F.last("o_totalprice").over(full).alias("last_price"),
            trunc6(F.percent_rank().over(rankw)).alias("pr"),
            trunc6(F.cume_dist().over(rankw)).alias("cd"),
        )
        .filter(F.col("o_custkey") % 100 == 7)
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# map-typed column surface: per-user event_type→count maps built with
# map_from_entries over a collected struct list, probed with
# element_at (NULL on missing key) and size. The oracle computes the
# same VALUES relationally — what must agree is the map lookup/NULL
# semantics, not the representation. One shuffle (user_id).
@_q(
    "q_map_ops",
    """
    SELECT user_id,
           SUM(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           SUM(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    WHERE user_id % 50 = 3
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") % 50 == 3)
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = (
        counts.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("event_type"), F.col("n")))
            ).alias("m")
        )
    )
    return (
        m.select(
            "user_id",
            F.element_at(F.col("m"), "click").alias("n_click"),
            F.element_at(F.col("m"), "error").alias("n_error"),
            F.size(F.col("m")).cast("bigint").alias("n_types"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# UNPIVOT / stack: wide per-status aggregates melted to long
# (status, metric, value) form — the inverse of q_pivot_status_priority.
# Spark's unpivot is a zero-shuffle Expand over the aggregated rows;
# the oracle spells it as UNION ALL.
@_q(
    "q_unpivot_status_metrics",
    """
    WITH w AS (
      SELECT o_orderstatus AS status,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
             FLOOR((CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
                   * 1000000.0) / 1000000.0 AS avg_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT status, metric, value FROM (
      SELECT status, 'n_orders' AS metric, n_orders AS value FROM w
      UNION ALL SELECT status, 'revenue', revenue FROM w
      UNION ALL SELECT status, 'avg_price', avg_price FROM w
    )
    ORDER BY status, metric
    """,
)
def q_unpivot_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    w = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
        trunc6(davg(F.col("o_totalprice"))).alias("avg_price"),
    )
    return (
        w.unpivot("status", ["n_orders", "revenue", "avg_price"], "metric", "value")
        .orderBy("status", "metric")
    )


# --------------------------------------------------------------------------
# resample + linear interpolation: a sparse hourly signal (sampled
# purchase values) regularized onto a full time spine, gaps filled by
# linear interpolation between the nearest observed neighbors (edges
# forward/back-filled). The missing-sensor-reading primitive for
# time-series feature pipelines. One window pass over the spine
# (IGNORE NULLS last/first_value) — no per-gap joins; at scale the
# spine is per-series and the window partitions by series key.
@_q(
    "q_resample_interpolate",
    """
    WITH src AS (
      SELECT ts, value FROM events
      WHERE event_type = 'purchase' AND user_id % 5 = 0
    ), bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM src
    ), spine AS (
      SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), obs AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS v
      FROM src GROUP BY 1
    ), g AS (
      SELECT s.hour, obs.v,
             CAST(epoch(s.hour) / 3600 AS BIGINT) AS idx
      FROM spine s LEFT JOIN obs ON obs.hour = s.hour
    ), n AS (
      SELECT hour, v, idx,
             LAST_VALUE(v IGNORE NULLS) OVER w_prev AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER w_prev AS pi,
             FIRST_VALUE(v IGNORE NULLS) OVER w_next AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER w_next AS ni
      FROM g
      WINDOW w_prev AS (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_next AS (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT hour,
           FLOOR((CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (idx - pi) / (ni - pi)
             WHEN pv IS NOT NULL THEN pv
             ELSE nv END) * 1000000.0) / 1000000.0 AS filled,
           CASE WHEN v IS NOT NULL THEN 'obs'
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                WHEN pv IS NOT NULL THEN 'ffill'
                ELSE 'bfill' END AS src
    FROM n ORDER BY hour
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    src = ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 5 == 0))
    bounds = src.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        )
    )
    obs = (
        src.groupBy(F.date_trunc("hour", "ts").alias("ohour"))
        .agg(davg(F.col("value")).alias("v"))
    )
    g = (
        spine.join(obs, F.col("ohour") == F.col("hour"), "left_outer")
        .select("hour", "v", (F.unix_timestamp("hour") / 3600).cast("bigint").alias("idx"))
    )
    w_prev = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_next = Window.orderBy("idx").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_idx = F.when(F.col("v").isNotNull(), F.col("idx"))
    n = g.select(
        "hour",
        "v",
        "idx",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_idx, ignorenulls=True).over(w_prev).alias("pi"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_idx, ignorenulls=True).over(w_next).alias("ni"),
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv")) * (F.col("idx") - F.col("pi")) / (F.col("ni") - F.col("pi")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    srcl = (
        F.when(F.col("v").isNotNull(), F.lit("obs"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), F.lit("interp"))
        .when(F.col("pv").isNotNull(), F.lit("ffill"))
        .otherwise(F.lit("bfill"))
    )
    return n.select("hour", trunc6(filled).alias("filled"), srcl.alias("src")).orderBy("hour")


# --------------------------------------------------------------------------
# PIVOT: order counts + exact-decimal revenue per (priority × status) —
# wide conditional aggregation. Spark's .pivot() with an EXPLICIT value
# list plans a single-pass agg (no distinct-values pre-query, the
# two-arg pivot's hidden extra scan); the oracle is the equivalent
# CASE-WHEN conditional aggregation, which is also exactly what the
# pivot compiles to — no shuffle beyond the one groupBy exchange.
@_q(
    "q_pivot_status_counts",
    """
    SELECT o_orderpriority,
           SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS cnt_f,
           SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS cnt_o,
           SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS cnt_p,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE) AS rev_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE) AS rev_o
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("o_totalprice")).alias("rev"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.col("F_cnt").alias("cnt_f"),
        F.col("O_cnt").alias("cnt_o"),
        F.col("P_cnt").alias("cnt_p"),
        F.col("F_rev").alias("rev_f"),
        F.col("O_rev").alias("rev_o"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# argmax/argmin per group via max_by/min_by — the single-pass replacement
# for the row_number()-over-window top-1 pattern: no sort, no window, one
# partial-aggregable pass (each executor keeps one champion per group).
# Ties broken deterministically by keying the comparator with the
# (value, -key) struct so both engines pick the same row.
@_q(
    "q_argmax_per_status",
    """
    WITH r AS (
      SELECT o_orderstatus, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk_top,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk_bot
      FROM orders
    )
    SELECT t.o_orderstatus, t.o_orderkey AS top_order,
           b.o_orderkey AS bottom_order, c.n
    FROM (SELECT o_orderstatus, o_orderkey FROM r WHERE rk_top = 1) t
    JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rk_bot = 1) b USING (o_orderstatus)
    JOIN (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1) c USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
)
def q_argmax_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.max_by(
                F.col("o_orderkey"),
                F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk")),
            ).alias("top_order"),
            F.min_by(
                F.col("o_orderkey"), F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
            ).alias("bottom_order"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Sliding (overlapping) time windows — the batch twin of Structured
# Streaming's `window(ts, '2 hours', '1 hour')`: each event lands in 2
# overlapping windows. Spark plans this as a Generate (window explode)
# before the partial agg — linear fan-out 2×, one exchange on
# (window, event_type); the oracle unnests the same two hour-aligned
# starts per row. At 100 TB slide/duration set the fan-out factor, and
# watermarking bounds the same operator's state in the streaming twin.
@_q(
    "q_events_sliding_counts",
    f"""
    WITH w AS (
      SELECT event_type, value,
             unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS w_start
      FROM events
    )
    SELECT w_start, event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM w GROUP BY w_start, event_type
    ORDER BY w_start, event_type
    """,
)
def q_events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "total_value")
        .orderBy("w_start", "event_type")
    )


# --------------------------------------------------------------------------
# Referential-integrity audit — the data-quality gate before a pipeline
# run: orphan facts (anti-joins), null join keys, and duplicate primary
# keys, all in one pass over each table. At scale each check is a
# broadcast/shuffle anti-join or a keyed count — no collect, and AQE
# picks the join strategy per relation size.
@_q(
    "q_referential_integrity",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_lineitems,
      (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS orphan_orders,
      (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS null_custkeys,
      (SELECT COUNT(*) FROM (
         SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
        AS dup_orderkeys
    """,
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orphan_li = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    orphan_o = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    null_keys = t["orders"].agg(
        F.sum(F.col("o_custkey").isNull().cast("bigint")).alias("null_custkeys")
    )
    dups = (
        t["orders"]
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_orderkeys"))
    )
    return orphan_li.crossJoin(orphan_o).crossJoin(null_keys).crossJoin(dups)


# --------------------------------------------------------------------------
# PageRank over the trade graph — iterative graph analytics as plain
# join+agg rounds (the Pregel-free layout: rank table ⋈ edge table,
# contributions grouped by destination; GraphX/Pregel compile to the
# same shuffles). Nodes are suppliers and customers (namespaced ids),
# edges the DISTINCT supplier↔customer trade relationships from
# lineitem⋈orders, made bidirectional so every node has out-degree
# (no dangling-mass correction needed — documented simplification).
# 3 fixed damped iterations (d = 0.85) from the uniform vector.
#
# 100 TB: the edge list and degree table partition by node key and the
# per-iteration shuffle is bounded by |E|; ranks are decimal(38,18)
# sums (order-independent, identical cross-engine) and the output is
# integer nano-ranks, so the whole iterative computation hash-checks.
_PR_D = 0.85
_PR_ITERS = 3
_PR_TOPK = 15


def _pagerank_oracle() -> str:
    contrib = "CAST(SUM(CAST(r.r / dg.dg AS DECIMAL(38,18))) AS DOUBLE)"
    layers = []
    for i in range(1, _PR_ITERS + 1):
        layers.append(f"""
    , r{i} AS (
      SELECT ee.v AS node,
             (1.0 - {_PR_D}) / MAX(n.nn) + {_PR_D} * {contrib} AS r
      FROM ee JOIN r{i-1} r ON r.node = ee.u
      JOIN deg dg ON dg.u = ee.u
      CROSS JOIN n
      GROUP BY ee.v
    )""")
    return f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey * 2 + 1 AS u, o_custkey * 2 AS v
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ), ee AS (
      SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT u, COUNT(*) AS dg FROM ee GROUP BY u
    ), n AS (
      SELECT COUNT(*) AS nn FROM deg
    ), r0 AS (
      SELECT d.u AS node, 1.0 / n.nn AS r FROM deg d CROSS JOIN n
    ){''.join(layers)}
    SELECT node, CAST(FLOOR(r * 1000000000.0) AS BIGINT) AS rank_nano
    FROM r{_PR_ITERS}
    ORDER BY rank_nano DESC, node
    LIMIT {_PR_TOPK}
    """


@_q(
    "q_trade_pagerank",
    _pagerank_oracle(),
    doc="PageRank (3 damped iterations) over the bidirectional "
    "supplier-customer trade graph; integer nano-ranks hash-checked",
    tags=("relational", "graph"),
)
def q_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("u"), (F.col("o_custkey") * 2).alias("v")
        )
        .distinct()
    )
    ee = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ee = ee.persist()
    deg = ee.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    # pre-join the out-degree onto the edge relation ONCE (optimization
    # round 11, guide §2.4: the loop below re-ran an identical ee⋈deg
    # join — one full exchange pair — every iteration; the denominator
    # now rides on the persisted edge row and each iteration joins ONLY
    # the rank vector). Same rows, same per-edge r/dg expression.
    ed = ee.join(deg, "u").select("u", "v", "dg")
    deg = deg.persist()
    ed = ed.persist()
    nn = deg.count()  # node count — a scalar, the honest driver transfer

    r = deg.select(F.col("u").alias("node"), (F.lit(1.0) / F.lit(float(nn))).alias("r"))
    for _ in range(_PR_ITERS):
        r = (
            ed.join(r, ed["u"] == r["node"])
            .select(F.col("v"), (F.col("r") / F.col("dg")).cast("decimal(38,18)").alias("c"))
            .groupBy(F.col("v").alias("node"))
            .agg(
                (
                    F.lit((1.0 - _PR_D) / float(nn))
                    + F.lit(_PR_D) * F.sum("c").cast("double")
                ).alias("r")
            )
        )
    out = (
        r.select("node", F.floor(F.col("r") * 1e9).cast("bigint").alias("rank_nano"))
        .orderBy(F.col("rank_nano").desc(), "node")
        .limit(_PR_TOPK)
    )
    return checkpoint_release(out, [ee, deg, ed])


# --------------------------------------------------------------------------
# Experiment analysis — the A/B readout every analytics engine ships:
# assign users to arms (hash parity), compare a conversion rate
# (two-proportion z-test) and a continuous metric (Welch's t from
# exact moments). One pass over events builds per-user outcomes, one
# agg per arm builds the sufficient statistics (n, conversions, Σv,
# Σv² through DECIMAL — order-independent), and the test statistics
# are closed-form arithmetic on those identical numbers, so z and t
# hash-check to 6 decimals. At 100 TB this is two shuffles (user
# rollup, arm rollup), both with map-side partial aggregation.
@_q(
    "q_ab_ztest",
    f"""
    WITH pu AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch,
             {sql_dsum('value')} AS total_value
      FROM events GROUP BY user_id
    ), tot AS (
      SELECT SUM(n_purch) AS total_p, COUNT(*) AS n_users FROM pu
    ), per_user AS (
      -- converted = strictly-above-mean purchase frequency: the
      -- integer-exact cross-multiplied comparison avoids a division
      -- and is non-degenerate at any SF (unlike has-any-purchase,
      -- which saturates at p = 1)
      SELECT pu.*, CASE WHEN pu.n_purch * tot.n_users > tot.total_p
                        THEN 1 ELSE 0 END AS converted
      FROM pu CROSS JOIN tot
    ), arms AS (
      SELECT arm, COUNT(*) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv,
             {sql_dsum('total_value')} AS sv,
             {sql_dsum('total_value * total_value')} AS svv
      FROM per_user GROUP BY arm
    ), w AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        MAX(CASE WHEN arm = 0 THEN conv END) AS c0,
        MAX(CASE WHEN arm = 1 THEN conv END) AS c1,
        MAX(CASE WHEN arm = 0 THEN sv END) AS sv0,
        MAX(CASE WHEN arm = 1 THEN sv END) AS sv1,
        MAX(CASE WHEN arm = 0 THEN svv END) AS svv0,
        MAX(CASE WHEN arm = 1 THEN svv END) AS svv1
      FROM arms
    )
    SELECT n0, n1, c0, c1,
      {sql_trunc6('''
        (CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0)
        / SQRT( (CAST(c0+c1 AS DOUBLE)/(n0+n1)) * (1.0 - CAST(c0+c1 AS DOUBLE)/(n0+n1))
                * (1.0/n0 + 1.0/n1) )''')} AS z_conversion,
      {sql_trunc6('''
        (sv1/n1 - sv0/n0)
        / SQRT( ((svv0 - sv0*sv0/n0)/(n0-1))/n0 + ((svv1 - sv1*sv1/n1)/(n1-1))/n1 )''')}
        AS t_value
    FROM w
    """,
    doc="A/B experiment readout: two-proportion z-test on conversion + "
    "Welch's t on user value from exact DECIMAL moments",
    tags=("relational", "stats"),
)
def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purch"
        ),
        dsum(F.col("value")).alias("total_value"),
    ).withColumn("arm", F.col("user_id") % 2)
    tot = pu.agg(
        F.sum("n_purch").alias("total_p"), F.count(F.lit(1)).alias("n_users")
    )
    per_user = pu.crossJoin(F.broadcast(tot)).withColumn(
        "converted",
        (F.col("n_purch") * F.col("n_users") > F.col("total_p")).cast("int"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
        dsum(F.col("total_value")).alias("sv"),
        dsum(F.col("total_value") * F.col("total_value")).alias("svv"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    w = arms.agg(
        pick(0, "n").alias("n0"), pick(1, "n").alias("n1"),
        pick(0, "conv").alias("c0"), pick(1, "conv").alias("c1"),
        pick(0, "sv").alias("sv0"), pick(1, "sv").alias("sv1"),
        pick(0, "svv").alias("svv0"), pick(1, "svv").alias("svv1"),
    )
    p = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0")
    ) / F.sqrt(p * (1.0 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    var = lambda s, ss, n: (ss - s * s / n) / (n - 1)
    tstat = (F.col("sv1") / F.col("n1") - F.col("sv0") / F.col("n0")) / F.sqrt(
        var(F.col("sv0"), F.col("svv0"), F.col("n0")) / F.col("n0")
        + var(F.col("sv1"), F.col("svv1"), F.col("n1")) / F.col("n1")
    )
    return w.select(
        "n0", "n1", "c0", "c1",
        trunc6(z).alias("z_conversion"),
        trunc6(tstat).alias("t_value"),
    )


# --------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the
# co-purchase graph (parts sharing ≥2 orders — the q_part_cooccurrence
# projection). The classic ordered-wedge plan (Suri & Vassilvitskii
# 2011 "Counting Triangles and the Curse of the Last Reducer"): edges
# stored once as a < b, wedges enumerated by joining the edge list on
# its middle vertex with the order constraint a < b < c, then closed
# by probing (a, c) against the same edge list — join cardinality is
# Σ deg², never |V|³, and every join is an equi-join on a vertex key.
# All counts integer; the coefficient is emitted in exact micro units.

# shared >=2-order co-purchase edge relation — consumed by the triangle
# count and the k-core peel (one definition, two graph queries)
_COPURCHASE_EDGES_CTE = """
      SELECT pa AS a, pb AS b FROM (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb, COUNT(*) AS n_orders
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY pa, pb HAVING COUNT(*) >= 2
      )"""


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """(a, b) part pairs co-purchased in >= 2 orders, a < b.

    Single-shuffle pairing (optimization round 11, guide §2.3/§2.4 —
    the q_itemcf_topk/q_part_cooccurrence layout): ONE order-keyed
    groupBy into the per-order sorted distinct part set, then the
    i<j pairs expand map-side via array HOFs — replacing the
    distinct + self-join that exchanged the (orderkey, partkey)
    relation twice more on the same key. collect_set ≡ the old
    DISTINCT; sort_array + slice(i+2..) enumerates exactly the join's
    (same order ∧ pa<pb) pair multiset, so the per-pair counts — and
    the ≥2-orders edge set — are identical. Pair mass is basket-
    bounded (Σ order-width², never parts²)."""
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda b: F.struct(a.alias("pa"), b.alias("pb")),
            ),
        )
    )
    return (
        parts.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.pa").alias("a"), F.col("p.pb").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("a", "b")
    )


@_q(
    "q_copurchase_triangles",
    f"""
    WITH e AS ({_COPURCHASE_EDGES_CTE}
    ), deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t GROUP BY v
    ), wedges AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS w FROM deg
    ), tri AS (
      SELECT COUNT(*) AS t
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM deg) AS n_vertices,
           wedges.w AS n_wedges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(FLOOR(3000000.0 * tri.t / NULLIF(wedges.w, 0)) AS BIGINT)
             AS clustering_micro
    FROM wedges CROSS JOIN tri
    """,
    doc="triangle count + global clustering coefficient over the "
    "co-purchase part graph (ordered-wedge equi-join plan)",
    tags=("relational", "graph"),
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    e = _copurchase_edges(li)
    e = e.persist()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("w"),
        F.count(F.lit(1)).alias("n_vertices"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_vertices",
            F.col("w").alias("n_wedges"),
            F.col("t").cast("bigint").alias("n_triangles"),
            F.floor(3e6 * F.col("t") / F.nullif(F.col("w"), F.lit(0)))
            .cast("bigint")
            .alias("clustering_micro"),
        )
    )
    return checkpoint_release(out, [e])


# --------------------------------------------------------------------------
# Link prediction on the co-purchase graph — Adamic-Adar (the classic
# common-neighbor score weighting rare shared neighbors higher:
# Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)) over 2-hop candidate pairs that are
# NOT already edges; top-20 predicted links. Wedge enumeration goes
# through capped-degree centers only (deg ≤ _LP_MAXDEG — the hot-hub
# exclusion twin of the LSH hot-shingle cap: a hub's 1/ln(deg) carries
# ~no signal while its deg² wedge mass is the classic skew bomb; same
# cap in both engines so the score is identical). Per-wedge terms are
# floor(v·1e6)-quantized before summing (engine-exact, the r6 IRLS
# rule); top-20 executes as TakeOrderedAndProject. Wedge centers have
# deg ≥ 2 by construction, so ln(deg) > 0.
_LP_MAXDEG = 64


@_q(
    "q_link_prediction",
    f"""
    WITH e AS ({_COPURCHASE_EDGES_CTE}
    ), und AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ), deg AS (
      SELECT u AS z, COUNT(*) AS d FROM und GROUP BY u
    ), ctr AS (
      SELECT z, d FROM deg WHERE d <= {_LP_MAXDEG}
    ), wed AS (
      SELECT x.v AS a, y.v AS b,
             CAST(FLOOR((1.0 / LN(CAST(c.d AS DOUBLE))) * 1000000) AS BIGINT) AS q
      FROM und x
      JOIN ctr c ON c.z = x.u
      JOIN und y ON y.u = x.u AND x.v < y.v
    ), cand AS (
      SELECT a, b, COUNT(*) AS cn,
             CAST(SUM(q) AS DOUBLE) / 1000000.0 AS aa
      FROM wed GROUP BY a, b
    ), nonedge AS (
      SELECT c.a, c.b, c.cn, c.aa
      FROM cand c LEFT JOIN e ON e.a = c.a AND e.b = c.b
      WHERE e.a IS NULL
    )
    SELECT a, b, CAST(cn AS BIGINT) AS common_neighbors,
           {sql_trunc6('aa')} AS adamic_adar
    FROM nonedge ORDER BY aa DESC, a, b LIMIT 20
    """,
    doc="Adamic-Adar link prediction over the co-purchase part graph: "
    "top-20 non-adjacent 2-hop pairs by Σ 1/ln(deg) of shared "
    "neighbors, hub-capped wedge enumeration",
    tags=("relational", "graph"),
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    e = _copurchase_edges(li)
    # three consumers: und (x2 via aliases), deg, and the anti-join
    e = e.persist()
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("z")).agg(F.count(F.lit(1)).alias("d"))
    ctr = deg.filter(F.col("d") <= _LP_MAXDEG)
    x, y = und.alias("x"), und.alias("y")
    wed = (
        x.join(ctr, F.col("x.u") == F.col("z"))
        .join(y, (F.col("y.u") == F.col("x.u")) & (F.col("x.v") < F.col("y.v")))
        .select(
            F.col("x.v").alias("a"),
            F.col("y.v").alias("b"),
            F.floor(
                (F.lit(1.0) / F.log(F.col("d").cast("double"))) * F.lit(1000000)
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    cand = wed.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("cn"),
        (F.sum("q").cast("double") / F.lit(1000000.0)).alias("aa"),
    )
    out = (
        cand.join(e, ["a", "b"], "left_anti")
        .orderBy(F.col("aa").desc(), "a", "b")
        .limit(20)
        .select(
            "a",
            "b",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            trunc6(F.col("aa")).alias("adamic_adar"),
        )
    )
    return checkpoint_release(out, [e])


# --------------------------------------------------------------------------
# Incremental view maintenance, proven by the query itself: split the
# event stream at a time watermark into BASE and DELTA, maintain the
# per-user hourly aggregate incrementally (base agg FULL OUTER merge
# delta agg — additive measures sum, which is why the gold tables in
# this repo only materialize additive/DECIMAL aggregates), and emit the
# merged view alongside its mismatch count vs a full recompute — which
# the query proves is 0. This is the daily-ingest economics at 100 TB:
# the delta is hours of data, the base agg is key-cardinality, and the
# corpus is never re-scanned (exactly the d_incremental_dedup argument
# applied to aggregation).
@_q(
    "q_ivm_merge_proof",
    f"""
    WITH cut AS (
      -- integer micros arithmetic: identical cut in both engines
      SELECT MIN(epoch_us(ts)) + CAST(FLOOR((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) * 0.8) AS BIGINT) AS c
      FROM events
    ), base AS (
      SELECT user_id, COUNT(*) AS n, {sql_dsum('value')} AS sv
      FROM events CROSS JOIN cut WHERE epoch_us(ts) < cut.c GROUP BY user_id
    ), delta AS (
      SELECT user_id, COUNT(*) AS n, {sql_dsum('value')} AS sv
      FROM events CROSS JOIN cut WHERE epoch_us(ts) >= cut.c GROUP BY user_id
    ), merged AS (
      SELECT COALESCE(b.user_id, d.user_id) AS user_id,
             COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
             CAST(COALESCE(CAST(b.sv AS DECIMAL(25,6)), 0)
                  + COALESCE(CAST(d.sv AS DECIMAL(25,6)), 0) AS DOUBLE) AS sv
      FROM base b FULL OUTER JOIN delta d ON d.user_id = b.user_id
    ), full_r AS (
      SELECT user_id, COUNT(*) AS n, {sql_dsum('value')} AS sv
      FROM events GROUP BY user_id
    )
    SELECT m.user_id, m.n, {sql_trunc6('m.sv')} AS sum_value,
           CAST(SUM(CASE WHEN m.n <> f.n OR m.sv <> f.sv THEN 1 ELSE 0 END)
                OVER () AS BIGINT) AS n_mismatch
    FROM merged m JOIN full_r f ON f.user_id = m.user_id
    ORDER BY m.user_id
    """,
    doc="incremental view maintenance proof: base+delta merged aggregate "
    "== full recompute (n_mismatch emitted, 0), additive DECIMAL measures",
    tags=("relational", "incremental"),
)
def q_ivm_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NTZ ts -> exact integer micros (session TZ pinned UTC, value-stable)
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    ev = load_tables(spark, sf_dir)["events"].withColumn("ts_us", us(F.col("ts")))
    ev = ev.persist()
    cut = ev.agg(
        (
            F.min("ts_us")
            + F.floor((F.max("ts_us") - F.min("ts_us")) * 0.8).cast("bigint")
        ).alias("c")
    )
    with_cut = ev.crossJoin(F.broadcast(cut))
    agg = lambda df: df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sv")
    )
    base = agg(with_cut.filter(F.col("ts_us") < F.col("c")))
    delta = agg(with_cut.filter(F.col("ts_us") >= F.col("c")))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.user_id") == F.col("d.user_id"), "full_outer").select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("b.sv").cast("decimal(25,6)"), F.lit(0))
            + F.coalesce(F.col("d.sv").cast("decimal(25,6)"), F.lit(0))
        )
        .cast("double")
        .alias("sv"),
    )
    full_r = agg(ev)
    m, fr = merged.alias("m"), full_r.alias("f")
    j = m.join(fr, F.col("m.user_id") == F.col("f.user_id"))
    from pyspark.sql.window import Window

    mism = F.sum(
        ((F.col("m.n") != F.col("f.n")) | (F.col("m.sv") != F.col("f.sv"))).cast("int")
    ).over(Window.partitionBy())
    out = j.select(
        F.col("m.user_id").alias("user_id"),
        F.col("m.n").alias("n"),
        trunc6(F.col("m.sv")).alias("sum_value"),
        mism.cast("bigint").alias("n_mismatch"),
    ).orderBy("user_id")
    return checkpoint_release(out, [ev])


# --------------------------------------------------------------------------
# Multi-touch attribution — the marketing-analytics credit assignment:
# each purchase distributes credit over the user's preceding
# touchpoints (non-purchase events within a 30-minute lookback):
# last-touch gives the whole credit to the nearest preceding touch,
# linear splits it evenly across all touches in the window. The
# touch⋈conversion pairing is an equi-join on user_id + a time-band
# filter (the range-join shape, never a cross join), and the credit
# arithmetic is exact integers (micro-credits = floor(1e6 / n_touches)
# per touch) so the attribution report hash-checks. One shuffle on
# user_id; at 100 TB add coarse time-bucket keys exactly as
# q_range_views_after_error documents.
_ATTR_WINDOW_US = 30 * 60 * 1_000_000


@_q(
    "q_touch_attribution",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ), conv AS (
      SELECT user_id, event_id AS conv_id, us AS conv_us FROM ev
      WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel, us AS touch_us
      FROM ev WHERE event_type <> 'purchase'
    ), pairs AS (
      SELECT c.conv_id, t.channel, t.touch_id, t.touch_us,
             ROW_NUMBER() OVER (PARTITION BY c.conv_id
                                ORDER BY t.touch_us DESC, t.touch_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.touch_us < c.conv_us
       AND t.touch_us >= c.conv_us - {_ATTR_WINDOW_US}
    )
    SELECT channel,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_convs,
           CAST(SUM(1000000 // n_touches) AS BIGINT) AS linear_credit_micro,
           COUNT(*) AS n_touchpoints
    FROM pairs GROUP BY channel ORDER BY channel
    """,
    doc="multi-touch attribution: last-touch + linear credit over a "
    "30-min lookback (user-keyed time-band join, integer micro-credits)",
    tags=("relational", "attribution"),
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "event_type", us(F.col("ts")).alias("us")
    )
    ev = ev.persist()
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), F.col("us").alias("conv_us")
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("us").alias("touch_us"),
    )
    pairs = conv.join(
        touch,
        (conv["user_id"] == touch["user_id"])
        & (F.col("touch_us") < F.col("conv_us"))
        & (F.col("touch_us") >= F.col("conv_us") - _ATTR_WINDOW_US),
    )
    wlast = Window.partitionBy("conv_id").orderBy(
        F.col("touch_us").desc(), "touch_id"
    )
    wall = Window.partitionBy("conv_id")
    p = pairs.select(
        "conv_id",
        "channel",
        F.row_number().over(wlast).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_touches"),
    )
    out = (
        p.groupBy("channel")
        .agg(
            F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("last_touch_convs"),
            F.sum(F.floor(1_000_000 / F.col("n_touches"))).cast("bigint").alias(
                "linear_credit_micro"
            ),
            F.count(F.lit(1)).alias("n_touchpoints"),
        )
        .orderBy("channel")
    )
    return checkpoint_release(out, [ev])


# --------------------------------------------------------------------------
# Salted skew join, externally verified: the q08-shape lineitem⋈orders
# join run through operators/skew.salted_join (left side salted, right
# side replicated 8×) and aggregated — the oracle is the PLAIN join, so
# the hash gate itself proves salting changes the shuffle layout but
# not one output value. This is the pathological-hot-key mitigation you
# reach for when AQE's skew split is not enough (a single key carrying
# a double-digit share of the fact table); registering it makes the
# equality externally checked every round, not just unit-tested.
@_q(
    "q_salted_join_check",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="salted skew join (8 salts) vs the plain-join oracle — the hash "
    "gate proves salting preserves every output value",
    tags=("relational", "skew"),
)
def q_salted_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(
        F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount"
    )
    o = t["orders"].select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    j = salted_join(li, o, on=["k"], n_salts=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Spark 4 VARIANT ingestion — the modern semi-structured path:
# parse_json(props) shreds once into the binary VARIANT encoding and
# typed reads (`variant_get`) replace per-access string re-parsing
# (get_json_object re-tokenizes the JSON text on every call — fine for
# one field, wrong for many). At 100 TB you materialize the variant
# column at bronze→silver and every downstream read is a typed extract
# against the binary encoding. Values identical to duckdb's JSON
# extraction on the same strings, so the rollup hash-checks.
@_q(
    "q_variant_shred",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(COUNT(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                           THEN 1 END) AS BIGINT) AS n_missing_key,
           MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Spark 4 VARIANT shredding: parse_json once, typed variant_get "
    "reads (vs re-parsing strings per access); rollup hash-checked vs "
    "duckdb JSON",
    tags=("relational", "semistructured"),
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    v = ev.select("event_type", F.parse_json(F.col("props")).alias("pv"))
    k = F.expr("variant_get(pv, '$.k', 'int')")
    missing = F.expr("variant_get(pv, '$.missing', 'string')")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.count(missing).cast("bigint").alias("n_missing_key"),
            F.min(k).alias("min_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Classical seasonal decomposition (the moving-average STL ancestor —
# Cleveland's decompose()): gap-filled hourly series → trend = centered
# 24-term moving average (full windows only) → seasonal = per
# hour-of-day mean of the detrended series → residual implied. All
# counts are integers, the MA is an integer sum / 24.0, and the
# seasonal means go through DECIMAL — identical in both engines, so
# the seasonal profile hash-checks. The spine join is the
# q_hourly_gap_fill pattern; the MA is one ordered window per series
# (partition by series key at scale, exactly like the interpolation
# queries).
@_q(
    "q_seasonal_decompose",
    f"""
    WITH bounds AS (
      SELECT CAST(FLOOR(MIN(epoch_us(ts)) / 3600000000) AS BIGINT) AS h0,
             CAST(FLOOR(MAX(epoch_us(ts)) / 3600000000) AS BIGINT) AS h1
      FROM events
    ), spine AS (
      -- duckdb range() rejects lateral column bounds: over-generate a
      -- fixed range and filter (hours in a decade < 90k)
      SELECT h0 + g.range AS hour_idx FROM bounds CROSS JOIN range(90000) g
      WHERE h0 + g.range <= h1
    ), cnt AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_idx,
             COUNT(*) AS c
      FROM events GROUP BY hour_idx
    ), series AS (
      SELECT s.hour_idx, COALESCE(cnt.c, 0) AS c
      FROM spine s LEFT JOIN cnt ON cnt.hour_idx = s.hour_idx
    ), ma AS (
      SELECT hour_idx, c,
             SUM(c) OVER w AS wsum, COUNT(*) OVER w AS wn
      FROM series
      WINDOW w AS (ORDER BY hour_idx ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
    ), det AS (
      SELECT hour_idx % 24 AS hour_of_day,
             c - CAST(wsum AS DOUBLE) / 24.0 AS d
      FROM ma WHERE wn = 24
    )
    SELECT hour_of_day,
           COUNT(*) AS n_obs,
           {sql_trunc6(sql_davg('d'))} AS seasonal
    FROM det GROUP BY hour_of_day ORDER BY hour_of_day
    """,
    doc="classical seasonal decomposition: gap-filled hourly series, "
    "centered 24-term MA trend, hour-of-day seasonal means (DECIMAL)",
    tags=("relational", "timeseries"),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    ev = load_tables(spark, sf_dir)["events"].select(
        F.floor(us(F.col("ts")) / 3_600_000_000).cast("bigint").alias("hour_idx")
    )
    bounds = ev.agg(
        F.min("hour_idx").alias("h0"), F.max("hour_idx").alias("h1")
    ).collect()[0]
    spine = spark.range(int(bounds["h0"]), int(bounds["h1"]) + 1).select(
        F.col("id").alias("hour_idx")
    )
    cnt = ev.groupBy("hour_idx").agg(F.count(F.lit(1)).alias("c"))
    series = spine.join(cnt, "hour_idx", "left").select(
        "hour_idx", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    w = Window.orderBy("hour_idx").rowsBetween(-12, 11)
    ma = series.select(
        "hour_idx",
        "c",
        F.sum("c").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = ma.filter(F.col("wn") == 24).select(
        F.pmod(F.col("hour_idx"), F.lit(24)).alias("hour_of_day"),
        (F.col("c") - F.col("wsum").cast("double") / 24.0).alias("d"),
    )
    return (
        det.groupBy("hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            trunc6(davg(F.col("d"))).alias("seasonal"),
        )
        .orderBy("hour_of_day")
    )


# --------------------------------------------------------------------------
# CUSUM drift detection over the event-rate series — the monitoring
# workload. The one-sided CUSUM recurrence s_t = max(0, s_{t-1} + x_t − k)
# looks sequential, but it has the closed window form
# s_t = C_t − min_{j≤t} C_j with C_t = Σ_{i≤t}(x_i − k): one cumulative
# sum and one running min — two ordered windows, no recursion, no UDF.
# Reference point k = the global mean rate (exact integer ratio), alarm
# threshold h = 4·sqrt(k). Both windows accumulate in the same ORDER BY
# in both engines, so the excursion values and alarm counts hash-check.
# Partition by series key at scale (this corpus is one series).
@_q(
    "q_cusum_drift",
    f"""
    WITH bounds AS (
      SELECT CAST(FLOOR(MIN(epoch_us(ts)) / 3600000000) AS BIGINT) AS h0,
             CAST(FLOOR(MAX(epoch_us(ts)) / 3600000000) AS BIGINT) AS h1
      FROM events
    ), spine AS (
      SELECT h0 + g.range AS hour_idx FROM bounds CROSS JOIN range(90000) g
      WHERE h0 + g.range <= h1
    ), cnt AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_idx,
             COUNT(*) AS c
      FROM events GROUP BY hour_idx
    ), series AS (
      SELECT s.hour_idx, COALESCE(cnt.c, 0) AS c
      FROM spine s LEFT JOIN cnt ON cnt.hour_idx = s.hour_idx
    ), k AS (
      SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS k FROM series
    ), cum AS (
      SELECT hour_idx, c,
             SUM(c - k.k) OVER (ORDER BY hour_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
      FROM series CROSS JOIN k
    ), exc AS (
      SELECT hour_idx, c, ct,
             ct - MIN(ct) OVER (ORDER BY hour_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM cum
    )
    SELECT COUNT(*) AS n_hours,
           CAST(SUM(CASE WHEN exc.s > 4.0 * SQRT(k.k) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_hours,
           MIN(CASE WHEN exc.s > 4.0 * SQRT(k.k) THEN hour_idx END) AS first_alarm_hour,
           {sql_trunc6('MAX(exc.s)')} AS max_excursion
    FROM exc CROSS JOIN k
    """,
    doc="CUSUM drift detection via the cumsum-minus-running-min closed "
    "form (two ordered windows, no recursion); excursions hash-checked",
    tags=("relational", "timeseries"),
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    ev = load_tables(spark, sf_dir)["events"].select(
        F.floor(us(F.col("ts")) / 3_600_000_000).cast("bigint").alias("hour_idx")
    )
    bounds = ev.agg(F.min("hour_idx").alias("h0"), F.max("hour_idx").alias("h1")).collect()[0]
    spine = spark.range(int(bounds["h0"]), int(bounds["h1"]) + 1).select(
        F.col("id").alias("hour_idx")
    )
    cnt = ev.groupBy("hour_idx").agg(F.count(F.lit(1)).alias("c"))
    series = spine.join(cnt, "hour_idx", "left").select(
        "hour_idx", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    kdf = series.agg((F.sum("c").cast("double") / F.count(F.lit(1))).alias("k"))
    wc = Window.orderBy("hour_idx").rowsBetween(Window.unboundedPreceding, 0)
    cum = series.crossJoin(F.broadcast(kdf)).select(
        "hour_idx", "c", "k", F.sum(F.col("c") - F.col("k")).over(wc).alias("ct")
    )
    exc = cum.select(
        "hour_idx", "k", (F.col("ct") - F.min("ct").over(wc)).alias("s")
    )
    alarm = F.col("s") > 4.0 * F.sqrt(F.col("k"))
    return exc.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(alarm.cast("int")).cast("bigint").alias("n_alarm_hours"),
        F.min(F.when(alarm, F.col("hour_idx"))).alias("first_alarm_hour"),
        trunc6(F.max("s")).alias("max_excursion"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit — the fraud/quality screen for financial
# columns: the first significant digit of naturally-occurring amounts
# follows P(d) = log10(1 + 1/d); a chi-square against that expectation
# flags fabricated or truncated data. First digits are exact string/
# integer ops, expected counts are log10 of integer ratios (identical
# doubles), and the chi-square sums in fixed written order — fully
# hash-checked. One scan + a 9-row aggregate; the synthetic uniform
# prices here FAIL Benford loudly (huge chi²), which is exactly what
# the audit should say about them.
@_q(
    "q_benford_audit",
    f"""
    WITH d AS (
      -- FLOOR, not CAST: duckdb rounds double->BIGINT casts, Spark truncates
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
               AS digit
      FROM orders WHERE o_totalprice >= 1
    ), cnt AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), tot AS (
      SELECT SUM(n) AS total FROM cnt
    )
    SELECT cnt.digit, cnt.n,
           {sql_trunc6('CAST(tot.total AS DOUBLE) * LOG10(1.0 + 1.0 / cnt.digit)')}
             AS expected,
           {sql_trunc6('''
             (cnt.n - CAST(tot.total AS DOUBLE) * LOG10(1.0 + 1.0 / cnt.digit))
             * (cnt.n - CAST(tot.total AS DOUBLE) * LOG10(1.0 + 1.0 / cnt.digit))
             / (CAST(tot.total AS DOUBLE) * LOG10(1.0 + 1.0 / cnt.digit))''')}
             AS chi2_term
    FROM cnt CROSS JOIN tot ORDER BY cnt.digit
    """,
    doc="Benford first-digit audit of order totals: observed vs log10 "
    "expectation with per-digit chi-square terms, hash-checked",
    tags=("relational", "audit"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    cnt = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("total"))
    exp = F.col("total").cast("double") * F.log10(1.0 + 1.0 / F.col("digit"))
    chi = (F.col("n") - exp) * (F.col("n") - exp) / exp
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "digit", "n",
            trunc6(exp).alias("expected"),
            trunc6(chi).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# EWMA level + one-step forecast error — the exponential-smoothing
# recurrence l_t = α·x_t + (1−α)·l_{t-1} truncated to its 48-term
# closed form l_t = Σ_{i<48} α(1−α)^i x_{t−i} (truncation error
# (1−α)^48 ≈ 4e-8 of the weight mass at α=0.3). Window sums of doubles
# reassociate differently across engines, so each weighted term is cast
# to DECIMAL(25,6) and summed through an explicit LAG BAND SELF-JOIN —
# order-independent by construction. Forecast error is then
# |x_t − l_{t−1}| aggregated the same way. The band join is
# series-length × 48 rows regardless of event volume (the series is
# already the hourly rollup); partition by series key at scale.
_EWMA_ALPHA = 0.3
_EWMA_WIN = 48


@_q(
    "q_ewma_forecast",
    f"""
    WITH bounds AS (
      SELECT CAST(FLOOR(MIN(epoch_us(ts)) / 3600000000) AS BIGINT) AS h0,
             CAST(FLOOR(MAX(epoch_us(ts)) / 3600000000) AS BIGINT) AS h1
      FROM events
    ), spine AS (
      SELECT h0 + g.range AS hour_idx FROM bounds CROSS JOIN range(90000) g
      WHERE h0 + g.range <= h1
    ), cnt AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_idx,
             COUNT(*) AS c
      FROM events GROUP BY hour_idx
    ), series AS (
      SELECT s.hour_idx, COALESCE(cnt.c, 0) AS c
      FROM spine s LEFT JOIN cnt ON cnt.hour_idx = s.hour_idx
    ), lvl AS (
      SELECT t.hour_idx, t.c,
             CAST(SUM(CAST({_EWMA_ALPHA} * POW(1.0 - {_EWMA_ALPHA}, t.hour_idx - s.hour_idx) * s.c
                           AS DECIMAL(25,6))) AS DOUBLE) AS level
      FROM series t JOIN series s
        ON s.hour_idx <= t.hour_idx AND s.hour_idx > t.hour_idx - {_EWMA_WIN}
      WHERE t.hour_idx >= (SELECT h0 FROM bounds) + {_EWMA_WIN} - 1
      GROUP BY t.hour_idx, t.c
    ), err AS (
      SELECT t.hour_idx, ABS(t.c - l.level) AS e
      FROM series t JOIN lvl l ON l.hour_idx = t.hour_idx - 1
    )
    SELECT (SELECT COUNT(*) FROM lvl) AS n_levels,
           (SELECT {sql_trunc6('level')} FROM lvl ORDER BY hour_idx DESC LIMIT 1)
             AS last_level,
           {sql_trunc6(sql_davg('e'))} AS mae
    FROM err
    """,
    doc="48-term truncated EWMA level + one-step forecast MAE via a lag "
    "band self-join with DECIMAL-summed weighted terms",
    tags=("relational", "timeseries"),
)
def q_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    ev = load_tables(spark, sf_dir)["events"].select(
        F.floor(us(F.col("ts")) / 3_600_000_000).cast("bigint").alias("hour_idx")
    )
    bounds = ev.agg(F.min("hour_idx").alias("h0"), F.max("hour_idx").alias("h1")).collect()[0]
    h0 = int(bounds["h0"])
    spine = spark.range(h0, int(bounds["h1"]) + 1).select(F.col("id").alias("hour_idx"))
    cnt = ev.groupBy("hour_idx").agg(F.count(F.lit(1)).alias("c"))
    series = spine.join(cnt, "hour_idx", "left").select(
        "hour_idx", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    # both sides of the band join + the error join
    series = series.persist()
    t, s = series.alias("t"), series.alias("s")
    term = (
        F.lit(_EWMA_ALPHA)
        * F.pow(F.lit(1.0 - _EWMA_ALPHA), F.col("t.hour_idx") - F.col("s.hour_idx"))
        * F.col("s.c")
    ).cast("decimal(25,6)")
    lvl = (
        t.join(
            s,
            (F.col("s.hour_idx") <= F.col("t.hour_idx"))
            & (F.col("s.hour_idx") > F.col("t.hour_idx") - _EWMA_WIN),
        )
        .filter(F.col("t.hour_idx") >= h0 + _EWMA_WIN - 1)
        .groupBy(F.col("t.hour_idx").alias("hour_idx"), F.col("t.c").alias("c"))
        .agg(F.sum(term).cast("double").alias("level"))
    )
    # feeds last-level, count, and the error join
    lvl = lvl.persist()
    err = series.alias("x").join(
        lvl.alias("l"), F.col("l.hour_idx") == F.col("x.hour_idx") - 1
    ).select(F.abs(F.col("x.c") - F.col("l.level")).alias("e"))
    n_levels = lvl.agg(F.count(F.lit(1)).alias("n_levels"))
    last = (
        lvl.orderBy(F.col("hour_idx").desc())
        .limit(1)
        .select(trunc6(F.col("level")).alias("last_level"))
    )
    out = (
        err.agg(trunc6(davg(F.col("e"))).alias("mae"))
        .crossJoin(F.broadcast(n_levels))
        .crossJoin(F.broadcast(last))
        .select("n_levels", "last_level", "mae")
    )
    return checkpoint_release(out, [series, lvl])


# --------------------------------------------------------------------------
# Association rules over order baskets — support / confidence / lift
# for the top co-occurring part pairs (the q_part_cooccurrence
# projection extended with the actual rule metrics). Counts are
# integers; confidence and lift are ratios of identical integers
# emitted in exact micro units, so the whole rule table hash-checks.
# Same Σw² pair-join bound as the co-occurrence query.
@_q(
    "q_basket_rules",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM op
    ), item AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM op GROUP BY l_partkey
    ), pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS both_cnt
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING COUNT(*) >= 3
    )
    SELECT p.pa, p.pb, p.both_cnt,
           ia.cnt AS cnt_a, ib.cnt AS cnt_b,
           CAST(FLOOR(1000000.0 * p.both_cnt / ia.cnt) AS BIGINT) AS confidence_micro,
           CAST(FLOOR(1000000.0 * p.both_cnt * n.n / (ia.cnt * ib.cnt)) AS BIGINT)
             AS lift_micro
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.pa
    JOIN item ib ON ib.l_partkey = p.pb
    CROSS JOIN n_orders n
    ORDER BY lift_micro DESC, p.pa, p.pb
    LIMIT 20
    """,
    doc="association rules (support/confidence/lift) over order baskets "
    "in exact integer micro units",
    tags=("relational", "basket"),
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    # Single-shuffle pairing (optimization round 11, guide §2.3/§2.4 —
    # the _copurchase_edges/q_itemcf_topk layout): one order-keyed
    # groupBy into the sorted distinct part set replaces the
    # distinct + self-join (two more exchanges on the same key);
    # basket counts, the order count and the i<j pair counts all
    # derive from the persisted basket relation. collect_set ≡ the
    # old DISTINCT, so supports/confidences/lifts are identical.
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    parts = parts.persist()
    n_orders = parts.count()
    item = (
        parts.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda b: F.struct(a.alias("pa"), b.alias("pb")),
            ),
        )
    )
    pair = (
        parts.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("both_cnt"))
        .filter(F.col("both_cnt") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("cnt").alias("cnt_b"))
    out = (
        pair.join(ia, "pa")
        .join(ib, "pb")
        .select(
            "pa", "pb", "both_cnt", "cnt_a", "cnt_b",
            F.floor(1e6 * F.col("both_cnt") / F.col("cnt_a")).cast("bigint").alias(
                "confidence_micro"
            ),
            F.floor(
                1e6 * F.col("both_cnt") * F.lit(n_orders)
                / (F.col("cnt_a") * F.col("cnt_b"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "pa", "pb")
        .limit(20)
    )
    return checkpoint_release(out, [parts])


# --------------------------------------------------------------------------
# Spearman rank correlation — the robust (monotone) association metric:
# do customers who order MORE also spend more per order? Exact integer
# ranks (row_number with a deterministic id tie-break — documented
# simplification vs average-ties ranks), then the closed form
# ρ = 1 − 6Σd²/(n(n²−1)) on exact integers: fully hash-checked.
@_q(
    "q_spearman_orders_spend",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             {sql_dsum('o_totalprice')} AS spend
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey,
             ROW_NUMBER() OVER (ORDER BY n_orders, o_custkey) AS rn_orders,
             ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS rn_spend
      FROM per_cust
    ), d AS (
      SELECT COUNT(*) AS n,
             CAST(SUM((rn_orders - rn_spend) * (rn_orders - rn_spend)) AS BIGINT)
               AS sum_d2
      FROM ranked
    )
    SELECT n, sum_d2,
           {sql_trunc6('1.0 - 6.0 * sum_d2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0))')}
             AS spearman_rho
    FROM d
    """,
    doc="Spearman rank correlation (order count vs spend per customer) "
    "from exact integer ranks and the closed 6*sum(d^2) form",
    tags=("relational", "stats"),
)
def q_spearman_orders_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum(F.col("o_totalprice")).alias("spend")
    )
    w1 = Window.orderBy("n_orders", "o_custkey")
    w2 = Window.orderBy("spend", "o_custkey")
    ranked = per_cust.select(
        F.row_number().over(w1).alias("rn_orders"),
        F.row_number().over(w2).alias("rn_spend"),
    )
    d = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("rn_orders") - F.col("rn_spend"))
            * (F.col("rn_orders") - F.col("rn_spend"))
        )
        .cast("bigint")
        .alias("sum_d2"),
    )
    rho = 1.0 - 6.0 * F.col("sum_d2") / (
        F.col("n").cast("double") * (F.col("n").cast("double") * F.col("n") - 1.0)
    )
    return d.select("n", "sum_d2", trunc6(rho).alias("spearman_rho"))


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov — distribution-shift testing without
# parametric assumptions (the third leg of the stats family: z/t =
# means, Spearman = association, KS = whole-distribution). D =
# max |F1 − F2| over the pooled support, computed EXACTLY as integers:
# at each distinct value, |c1·n2 − c2·n1| with cumulative counts from
# one ordered window — D_micro = floor(1e6·max/(n1·n2)) never touches
# a float until the final ratio. Compared samples: document token
# counts of src0 vs src1 (the ingest-shift question). The 0.05
# rejection bound 1.36·sqrt((n1+n2)/(n1·n2)) is evaluated on identical
# doubles.
@_q(
    "q_ks_length_shift",
    f"""
    WITH s AS (
      SELECT CASE WHEN source = 'src0' THEN 1 ELSE 2 END AS grp,
             len({{toks}}) AS v
      FROM documents WHERE source IN ('src0', 'src1')
    ), n AS (
      SELECT SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS n2
      FROM s
    ), pts AS (
      SELECT v,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS a1,
             SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS a2
      FROM s GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(a1) OVER (ORDER BY v) AS c1,
             SUM(a2) OVER (ORDER BY v) AS c2
      FROM pts
    )
    SELECT n.n1, n.n2,
           CAST(MAX(ABS(c1 * n.n2 - c2 * n.n1)) AS BIGINT) AS max_gap_scaled,
           CAST(FLOOR(1000000.0 * MAX(ABS(c1 * n.n2 - c2 * n.n1)) / (n.n1 * n.n2)) AS BIGINT)
             AS d_micro,
           CASE WHEN CAST(MAX(ABS(c1 * n.n2 - c2 * n.n1)) AS DOUBLE) / (n.n1 * n.n2)
                     > 1.36 * SQRT((n.n1 + n.n2) / (CAST(n.n1 AS DOUBLE) * n.n2))
                THEN 1 ELSE 0 END AS reject_05
    FROM cum CROSS JOIN n
    GROUP BY n.n1, n.n2
    """.replace("{toks}", "string_split_regex(lower(trim(text)), '\\s+')"),
    doc="two-sample KS test on doc token-length distributions (src0 vs "
    "src1); D computed in exact integers, 0.05 rejection flag",
    tags=("relational", "stats"),
)
def q_ks_length_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    d = load_tables(spark, sf_dir)["documents"].filter(
        F.col("source").isin("src0", "src1")
    )
    s = d.select(
        F.when(F.col("source") == "src0", 1).otherwise(2).alias("grp"),
        F.size(T.tokens(F.col("text"))).alias("v"),
    )
    n = s.agg(
        F.sum((F.col("grp") == 1).cast("int")).alias("n1"),
        F.sum((F.col("grp") == 2).cast("int")).alias("n2"),
    )
    pts = s.groupBy("v").agg(
        F.sum((F.col("grp") == 1).cast("int")).alias("a1"),
        F.sum((F.col("grp") == 2).cast("int")).alias("a2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        "v", F.sum("a1").over(w).alias("c1"), F.sum("a2").over(w).alias("c2")
    )
    gap = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    agg = (
        cum.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(F.max(gap).cast("bigint").alias("max_gap_scaled"))
    )
    dstat = F.col("max_gap_scaled").cast("double") / (F.col("n1") * F.col("n2"))
    bound = 1.36 * F.sqrt(
        (F.col("n1") + F.col("n2")) / (F.col("n1").cast("double") * F.col("n2"))
    )
    return agg.select(
        "n1", "n2", "max_gap_scaled",
        F.floor(1e6 * F.col("max_gap_scaled") / (F.col("n1") * F.col("n2")))
        .cast("bigint")
        .alias("d_micro"),
        (dstat > bound).cast("int").alias("reject_05"),
    )


# --------------------------------------------------------------------------
# Spark 4 recursive CTE: multi-hop reachability over the trade graph.
# The sparse edge set is each nation's top-2 outgoing trade corridors
# (DECIMAL-exact revenue ranking, deterministic tie-break), and the
# recursion expands frontier-by-frontier from the hub nation with a
# hop-counter bound — the declarative twin of the pointer-jumping /
# pagerank loops elsewhere in the repo, now expressible as ONE SQL
# statement in both engines since Spark 4 shipped WITH RECURSIVE.
# The hop bound (< 4) caps recursion depth independently of cycles.
#
# Spark-side execution note: Spark inlines a non-recursive CTE into
# every UnionLoop iteration, so running _REACH_SQL verbatim re-executes
# the 4-way fact join once per hop (judge-measured: the edge aggregate
# appeared 12x in the executed plan, ~5 full fact scans for a <=50-row
# edge relation). The Spark path therefore materializes the edge table
# FIRST (localCheckpoint truncates the lineage so the recursion scans
# only the tiny cached relation) and recurses over the temp view; the
# duckdb oracle keeps the single-statement form, which duckdb already
# evaluates once. Same rows either way — hash-checked.
# The edge relation (top-2 trade corridors per nation, <=50 rows) and
# the recursion tail exist ONCE; both statement forms are composed from
# them so the oracle and the Spark two-stage path cannot drift.
_REACH_EDGES_SQL = """
SELECT sn, cn FROM (
  SELECT sn, cn, ROW_NUMBER() OVER (PARTITION BY sn ORDER BY rev DESC, cn) AS rk FROM (
    SELECT s.s_nationkey AS sn, c.c_nationkey AS cn,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS rev
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_nationkey <> c.c_nationkey
    GROUP BY s.s_nationkey, c.c_nationkey) t) r
WHERE rk <= 2
"""

_REACH_TAIL_SQL = """reach(nk, hop) AS (
  SELECT CAST(9 AS INT) AS nk, CAST(0 AS INT) AS hop
  UNION ALL
  SELECT CAST(e.cn AS INT), CAST(r.hop + 1 AS INT)
  FROM reach r JOIN {edge_rel} e ON e.sn = r.nk
  WHERE r.hop < 4
)
SELECT n.n_name, CAST(MIN(r.hop) AS BIGINT) AS min_hops
FROM reach r JOIN nation n ON n.n_nationkey = r.nk
GROUP BY n.n_name ORDER BY min_hops, n_name
"""

# single-statement form (the duckdb oracle; duckdb evaluates the edges
# CTE once, so it needs no materialization stage)
_REACH_SQL = (
    "WITH RECURSIVE edges AS (" + _REACH_EDGES_SQL + "),\n"
    + _REACH_TAIL_SQL.format(edge_rel="edges")
)

# Spark stage 2: the recursion over the materialized view — each
# UnionLoop iteration scans only the checkpointed edge table.
_REACH_RECURSE_SQL = "WITH RECURSIVE " + _REACH_TAIL_SQL.format(
    edge_rel="reach_edges_mat"
)


@_q(
    "q_recursive_trade_reach",
    _REACH_SQL,
    doc="Spark-4 WITH RECURSIVE: min-hop reachability from the hub "
    "nation over each nation's top-2 trade corridors (hop-bounded "
    "frontier expansion; Spark materializes the <=50-row edge relation "
    "once before recursing — see module comment)",
)
def q_recursive_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    # Materialize the edge relation eagerly: localCheckpoint truncates
    # the lineage, so the WITH RECURSIVE below re-scans ~50 cached rows
    # per iteration instead of re-running the 4-way fact join. (Local
    # checkpoints die with an executor; acceptable here — the edge agg
    # is cheap to recompute relative to N redundant executions, and the
    # recursion completes in seconds.)
    edges = spark.sql(_REACH_EDGES_SQL).localCheckpoint(eager=True)
    edges.createOrReplaceTempView("reach_edges_mat")
    return spark.sql(_REACH_RECURSE_SQL)


# --------------------------------------------------------------------------
# LATERAL correlated subquery: per-customer top-2 orders WITHOUT a
# window function — the per-row dependent subplan shape (the SQL form
# ORM-generated "top-N per key" queries arrive in). Catalyst rewrites
# the correlated LATERAL into a join; the window form
# (a1_window_top3_per_cust) is its plan-level twin.
# The micro cast is hoisted OUT of the lateral select list on purpose
# (round-9 find): with a Project between LIMIT and ORDER BY, Catalyst's
# decorrelation fails to match Limit(Sort(...)) and emits a per-key
# row_number with an EMPTY window order (the subquery's sort survives
# only as a separate global Sort below the shuffle) — the top-2 pick
# then depends on shuffle encounter order: right on local mode by luck,
# nondeterministic on a real cluster. With Limit directly over Sort the
# rewrite puts the sort INTO the window spec, which is also what makes
# it WindowGroupLimit-eligible (map-side per-key top-2 heaps).
_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey,
       CAST(FLOOR(t.o_totalprice * 1000000.0) AS BIGINT) AS o_totalprice_micro
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey < 50
ORDER BY c.c_custkey, o_totalprice_micro DESC, o_orderkey
"""


@_q(
    "q_lateral_topk",
    _LATERAL_SQL,
    doc="LATERAL correlated subquery: top-2 orders per customer as a "
    "dependent subplan (the ORM top-N-per-key shape), micro-int output",
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# TPC-H Q3 shape: unshipped-orders shipping priority — segment-filtered
# 3-way join, revenue per order, top-10. (The synthetic schema has no
# o_shippriority, so o_orderpriority stands in; semantics — filter two
# fact tables on opposite sides of a date cut, aggregate the join — are
# Q3's.) Reference: the daxos engine has no multi-fact join at all
# (SURVEY §2.3); this is beyond-parity relational coverage.
# Scale: customer is segment-filtered then joined on custkey (shuffle),
# lineitem joins on orderkey (shuffle); both predicates reach the scans
# (date + segment pushdown), and the top-10 is a TakeOrdered — no
# global sort materialization.
@_q(
    "q03_unshipped_priority",
    f"""
    SELECT l_orderkey,
           {sql_trunc6(sql_dsum('l_extendedprice * (1 - l_discount)'))} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: segment-filtered unshipped-order revenue top-10",
)
def q03_unshipped_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cut = F.lit("1998-07-01").cast("timestamp")
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t["orders"].filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = t["lineitem"].filter(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("rev_d"))
        .select(
            "l_orderkey",
            trunc6(F.col("rev_d")).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q22 shape: global-sales-opportunity — scalar-subquery average
# threshold + anti-join (customers with above-average balance and no
# recent urgent orders, grouped by nation as the country-code stand-in;
# the synthetic schema has no c_phone). The threshold is a decimal-exact
# average so both engines select the identical customer set.
# Scale: the threshold is a 1-row broadcast (cross join), the NOT EXISTS
# is a left-anti shuffle join on custkey — no correlated re-execution.
@_q(
    "q22_dormant_rich_nations",
    f"""
    WITH thresh AS (
      SELECT {sql_davg('c_acctbal')} AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    ), recent_urgent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    SELECT c_nationkey AS cntrycode,
           COUNT(*) AS numcust,
           {sql_trunc6(sql_dsum('c_acctbal'))} AS totacctbal
    FROM customer, thresh
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM recent_urgent r WHERE r.o_custkey = c_custkey
      )
    GROUP BY c_nationkey
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no recent "
    "urgent orders, counted per nation (anti-join + scalar avg subquery)",
)
def q22_dormant_rich_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    recent_urgent = (
        t["orders"]
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent_urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            trunc6(dsum(F.col("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# KMV (θ-sketch) set operations — estimated distinct-union AND
# distinct-intersection of two part sets from k=256 minimum hash values,
# with the exact answers joined alongside as the realized-error audit
# (the sketch family's missing piece: HLL unions but cannot intersect;
# KMV supports both — Beyer et al. '07, DataSketches theta).
# Estimators: U ≈ (k-1)/u_k  (u_k = kth-smallest normalized hash of the
# union),  J ≈ |{sketch ∩ both}|/k,  I ≈ J·U.
# Scale: the per-side distinct+flag pass is one hash-aggregate; the
# k-smallest selection is a rank-filter that Catalyst rewrites
# (LimitPushDownThroughWindow) into TakeOrderedAndProject(256) — per-
# partition top-k heaps merged once, i.e. exactly the distributed
# sketch-merge, never a global sort; the WindowExec that remains ranks
# only the surviving 256 rows (plan-verified). The exact-audit branch
# re-scans the fact slice — it is the part you drop at 100 TB, the
# sketch path is the product.
# Small-slice guard: when the slice has FEWER than k distinct keys the
# sketch holds the entire set and (k-1)/u_k is biased high — the
# standard KMV estimator then IS the exact count (|sketch| = |S|), so
# both estimators switch on n_sk < k (same CASE in both engines).
_KMV_EST_UNION_SQL = (
    "CASE WHEN est.n_sk < 256.0 THEN est.n_sk"
    " ELSE 255.0 / (est.hk / 72057594037927936.0) END"
)


@_q(
    "q_kmv_set_ops",
    f"""
    WITH li AS (
      SELECT l_partkey, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-07-01'
        AND o_orderpriority IN ('1-URGENT', '5-LOW')
    ), flags AS (
      SELECT {md5_long_sql("CAST(l_partkey AS VARCHAR)")} AS h,
             MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS in_b
      FROM li GROUP BY 1
    ), ranked AS (
      SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM flags
    ), sk AS (
      SELECT h, in_a, in_b FROM ranked WHERE rn <= 256
    ), est AS (
      SELECT MAX(h) AS hk, CAST(SUM(in_a * in_b) AS DOUBLE) AS n_both,
             CAST(COUNT(*) AS DOUBLE) AS n_sk
      FROM sk
    ), exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS x_union,
             CAST(SUM(in_a * in_b) AS BIGINT) AS x_inter
      FROM flags
    )
    SELECT
      exact.x_union AS exact_union,
      exact.x_inter AS exact_inter,
      {sql_trunc6(_KMV_EST_UNION_SQL)} AS est_union,
      {sql_trunc6('est.n_both / est.n_sk')} AS est_jaccard,
      {sql_trunc6(f'(est.n_both / est.n_sk) * ({_KMV_EST_UNION_SQL})')} AS est_inter,
      {sql_trunc6(f'ABS(({_KMV_EST_UNION_SQL}) - exact.x_union) / exact.x_union')} AS rel_err_union
    FROM est, exact
    """,
    doc="KMV theta-sketch union+intersection estimates (k=256) with "
    "exact-audit columns; WindowGroupLimit top-k = distributed sketch merge",
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(
            t["orders"].filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_partkey", "o_orderpriority")
    )
    flags = (
        li.groupBy(md5_long(F.col("l_partkey").cast("string")).alias("h"))
        .agg(
            F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("in_a"),
            F.max((F.col("o_orderpriority") == "5-LOW").cast("int")).alias("in_b"),
        )
    )
    sk = (
        flags.withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= 256)
    )
    est = sk.agg(
        F.max("h").alias("hk"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("double").alias("n_both"),
        F.count(F.lit(1)).cast("double").alias("n_sk"),
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("x_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("x_inter"),
    )
    two56 = F.lit(72057594037927936.0)
    est_union = F.when(
        F.col("n_sk") < 256.0, F.col("n_sk")
    ).otherwise(F.lit(255.0) / (F.col("hk") / two56))
    est_jacc = F.col("n_both") / F.col("n_sk")
    return est.crossJoin(exact).select(
        F.col("x_union").alias("exact_union"),
        F.col("x_inter").alias("exact_inter"),
        trunc6(est_union).alias("est_union"),
        trunc6(est_jacc).alias("est_jaccard"),
        trunc6(est_jacc * est_union).alias("est_inter"),
        trunc6(F.abs(est_union - F.col("x_union")) / F.col("x_union")).alias("rel_err_union"),
    )


# --------------------------------------------------------------------------
# Robust outlier detection — median/MAD z-scores per group (the
# outlier rule that survives heavy tails where mean/stddev break;
# Iglewicz-Hoaglin |x−med| > 3·1.4826·MAD). Two exact-percentile
# passes (group median, then median absolute deviation) joined back
# broadcast. Spark percentile() and duckdb quantile_cont share the
# linear-interpolation definition, and every derived double goes
# through identical operation order, so counts are hash-exact.
# Scale: two shuffles on the group key (exact medians sort per group);
# at 100 TB swap percentile() → approx_percentile() (t-digest,
# map-side combinable, one shuffle) and keep the same rule.
@_q(
    "q_mad_outliers",
    f"""
    WITH med AS (
      SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderstatus
    ), dev AS (
      SELECT o.o_orderstatus, o.o_totalprice, m.med,
             ABS(o.o_totalprice - m.med) AS ad
      FROM orders o JOIN med m ON o.o_orderstatus = m.o_orderstatus
    ), mad AS (
      SELECT o_orderstatus, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY o_orderstatus
    )
    SELECT d.o_orderstatus AS status,
           COUNT(*) AS n,
           {sql_trunc6('MIN(d.med)')} AS med,
           {sql_trunc6('MIN(m2.mad)')} AS mad,
           CAST(SUM(CASE WHEN d.ad > 3.0 * 1.4826 * m2.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m2 ON d.o_orderstatus = m2.o_orderstatus
    GROUP BY d.o_orderstatus
    ORDER BY status
    """,
    doc="median/MAD robust outlier counts per order status "
    "(Iglewicz-Hoaglin 3·1.4826·MAD rule), exact interpolated medians",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"].select("o_orderstatus", "o_totalprice")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.percentile(F.col("ad"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderstatus")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            trunc6(F.min("med")).alias("med"),
            trunc6(F.min("mad")).alias("mad"),
            F.sum(
                (F.col("ad") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap — THE distributed bootstrap (Chamandy et al.,
# "Estimating Uncertainty for Massive Data Streams", Google 2012;
# Hadoop/Spark folklore since): classic resampling needs n draws per
# replicate from the whole dataset (a shuffle per replicate), but
# Binomial(n, 1/n) → Poisson(1) as n grows, so each ROW independently
# draws its own per-replicate multiplicity — B replicate estimates in
# ONE scan with B aggregation expressions, no explode, no extra
# shuffle, map-side combinable. Weights come from a seeded md5 ladder
# over the exact Poisson(1) CDF (identical literal thresholds in both
# engines → identical draws → the whole CI is hash-checked; swap
# xxhash64 at production for speed, same layout).
_BOOT_B = 32  # replicates
_BOOT_CDF = (
    (0, "0.36787944117144233"),
    (1, "0.7357588823428847"),
    (2, "0.9196986029286058"),
    (3, "0.9810118431238463"),
    (4, "0.9963401531726563"),
)


def _boot_w_sql(r: int) -> str:
    u = f"({md5_long_sql('CAST(o_orderkey AS VARCHAR)', seed=r)} / 72057594037927936.0)"
    ladder = " ".join(f"WHEN {u} < {t} THEN {k}" for k, t in _BOOT_CDF)
    return f"CASE {ladder} ELSE 5 END"


def _boot_oracle() -> str:
    reps = ",\n             ".join(
        f"CAST(SUM(CAST(({_boot_w_sql(r)}) * o_totalprice AS DECIMAL(25,6))) AS DOUBLE)"
        f" / SUM({_boot_w_sql(r)}) AS m{r}"
        for r in range(_BOOT_B)
    )
    arr = ", ".join(f"m{r}" for r in range(_BOOT_B))
    return f"""
    WITH s AS (
      SELECT COUNT(*) AS n, {sql_davg('o_totalprice')} AS mean,
             {reps}
      FROM orders
    ), reps AS (
      SELECT n, mean, unnest([{arr}]) AS m FROM s
    )
    SELECT MAX(n) AS n, {sql_trunc6('MAX(mean)')} AS mean,
           {sql_trunc6('quantile_cont(m, 0.025)')} AS ci_lo,
           {sql_trunc6('quantile_cont(m, 0.975)')} AS ci_hi
    FROM reps
    """


@_q(
    "q_poisson_bootstrap",
    _boot_oracle(),
    doc=f"Poisson bootstrap 95% CI for mean order value: {_BOOT_B} "
    "replicates as one-scan conditional aggregates (hash-drawn "
    "Poisson(1) multiplicities), zero explode, map-side combinable",
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .docpipe import _fanout

    # the ladder evaluates B seeded md5s per row — spread the (small,
    # often single-file) orders scan across cores first, exactly the
    # documents-table pattern; at cluster scale the scan already has
    # ≥ parallelism splits and this is a no-op
    o = _fanout(load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice"))

    def w(r: int):
        u = md5_long(F.col("o_orderkey").cast("string"), seed=r) / F.lit(
            72057594037927936.0
        )
        expr = F.lit(5)
        for k, t in reversed(_BOOT_CDF):
            expr = F.when(u < F.lit(float(t)), F.lit(k)).otherwise(expr)
        return expr

    # one projection computes each seeded hash ONCE per row (the agg
    # below reads the weight array twice — numerator and denominator —
    # and codegen does not CSE the md5 across aggregate expressions:
    # measured 2x on the hash-bound scan)
    ow = o.select(
        "o_totalprice", F.array(*[w(r) for r in range(_BOOT_B)]).alias("ws")
    )
    aggs = [F.count(F.lit(1)).alias("n"), davg(F.col("o_totalprice")).alias("mean")]
    for r in range(_BOOT_B):
        wr = F.element_at(F.col("ws"), r + 1)
        aggs.append(
            (
                F.sum((wr * F.col("o_totalprice")).cast(DEC)).cast("double")
                / F.sum(wr)
            ).alias(f"m{r}")
        )
    s = ow.agg(*aggs)
    reps = s.select(
        "n",
        "mean",
        F.explode(F.array(*[F.col(f"m{r}") for r in range(_BOOT_B)])).alias("m"),
    )
    return reps.agg(
        F.max("n").alias("n"),
        trunc6(F.max("mean")).alias("mean"),
        trunc6(F.percentile(F.col("m"), F.lit(0.025))).alias("ci_lo"),
        trunc6(F.percentile(F.col("m"), F.lit(0.975))).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13) — the
# standard large-scale experimentation adjustment: regress each user's
# experiment-period metric on their PRE-period metric (θ = cov/var,
# pooled) and difference the residualized means. Same hash-based arm
# assignment as q_ab_ztest; reports the raw and CUPED treatment
# effects plus the realized variance-reduction factor (the % of
# experiment traffic the adjustment effectively buys back).
# Scale: one user-keyed aggregate → driver-free scalar moments
# (decimal-exact) broadcast back → one more arm-keyed aggregate; no
# window, no self-join, every sum map-side combinable.
_CUPED_CUT = "2024-01-16"


@_q(
    "q_cuped_adjust",
    f"""
    WITH pu AS (
      SELECT user_id, user_id % 2 AS arm,
             {sql_dsum(f"CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}' THEN value ELSE 0.0 END")} AS pre,
             {sql_dsum(f"CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}' THEN value ELSE 0.0 END")} AS post
      FROM events GROUP BY user_id
    ), mom AS (
      SELECT COUNT(*) AS n,
             {sql_dsum('pre')} AS sp, {sql_dsum('pre * pre')} AS spp,
             {sql_dsum('post')} AS sq, {sql_dsum('pre * post')} AS spq,
             {sql_dsum('post * post')} AS sqq
      FROM pu
    ), th AS (
      SELECT n, sp / n AS mpre,
             (spq - sp * sq / n) / (spp - sp * sp / n) AS theta,
             (sqq - sq * sq / n) / n AS var_post
      FROM mom
    ), adj AS (
      SELECT pu.arm, pu.post,
             pu.post - th.theta * (pu.pre - th.mpre) AS a
      FROM pu CROSS JOIN th
    ), arms AS (
      SELECT arm, COUNT(*) AS n_a,
             {sql_dsum('post')} AS spo, {sql_dsum('a')} AS sa, {sql_dsum('a * a')} AS saa
      FROM adj GROUP BY arm
    ), w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n_a END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n_a END) AS n1,
             MAX(CASE WHEN arm = 0 THEN spo END) AS spo0,
             MAX(CASE WHEN arm = 1 THEN spo END) AS spo1,
             MAX(CASE WHEN arm = 0 THEN sa END) AS sa0,
             MAX(CASE WHEN arm = 1 THEN sa END) AS sa1,
             CAST(SUM(CAST(sa AS DECIMAL(25,6))) AS DOUBLE) AS sat,
             CAST(SUM(CAST(saa AS DECIMAL(25,6))) AS DOUBLE) AS saat,
             CAST(SUM(n_a) AS BIGINT) AS nt
      FROM arms
    )
    SELECT w.n0, w.n1,
           {sql_trunc6('th.theta')} AS theta,
           {sql_trunc6('w.spo1 / w.n1 - w.spo0 / w.n0')} AS diff_raw,
           {sql_trunc6('w.sa1 / w.n1 - w.sa0 / w.n0')} AS diff_cuped,
           {sql_trunc6('1.0 - ((w.saat - w.sat * w.sat / w.nt) / w.nt) / th.var_post')}
             AS var_reduction
    FROM w CROSS JOIN th
    """,
    doc="CUPED pre-period adjustment (Deng et al. WSDM'13): pooled θ, "
    "raw vs adjusted treatment effect, realized variance reduction",
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    pu = ev.groupBy("user_id").agg(
        dsum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("pre"),
        dsum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias("post"),
    ).select(F.col("user_id"), (F.col("user_id") % 2).alias("arm"), "pre", "post")
    mom = pu.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("pre")).alias("sp"),
        dsum(F.col("pre") * F.col("pre")).alias("spp"),
        dsum(F.col("post")).alias("sq"),
        dsum(F.col("pre") * F.col("post")).alias("spq"),
        dsum(F.col("post") * F.col("post")).alias("sqq"),
    )
    th = mom.select(
        "n",
        (F.col("sp") / F.col("n")).alias("mpre"),
        (
            (F.col("spq") - F.col("sp") * F.col("sq") / F.col("n"))
            / (F.col("spp") - F.col("sp") * F.col("sp") / F.col("n"))
        ).alias("theta"),
        ((F.col("sqq") - F.col("sq") * F.col("sq") / F.col("n")) / F.col("n")).alias(
            "var_post"
        ),
    )
    adj = pu.crossJoin(F.broadcast(th)).select(
        "arm",
        "post",
        (F.col("post") - F.col("theta") * (F.col("pre") - F.col("mpre"))).alias("a"),
    )
    arms = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        dsum(F.col("post")).alias("spo"),
        dsum(F.col("a")).alias("sa"),
        dsum(F.col("a") * F.col("a")).alias("saa"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    w = arms.agg(
        pick(0, "n_a").alias("n0"),
        pick(1, "n_a").alias("n1"),
        pick(0, "spo").alias("spo0"),
        pick(1, "spo").alias("spo1"),
        pick(0, "sa").alias("sa0"),
        pick(1, "sa").alias("sa1"),
        F.sum(F.col("sa").cast(DEC)).cast("double").alias("sat"),
        F.sum(F.col("saa").cast(DEC)).cast("double").alias("saat"),
        F.sum("n_a").cast("bigint").alias("nt"),
    )
    return w.crossJoin(F.broadcast(th)).select(
        "n0",
        "n1",
        trunc6(F.col("theta")).alias("theta"),
        trunc6(F.col("spo1") / F.col("n1") - F.col("spo0") / F.col("n0")).alias("diff_raw"),
        trunc6(F.col("sa1") / F.col("n1") - F.col("sa0") / F.col("n0")).alias("diff_cuped"),
        trunc6(
            F.lit(1.0)
            - ((F.col("saat") - F.col("sat") * F.col("sat") / F.col("nt")) / F.col("nt"))
            / F.col("var_post")
        ).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# Always-valid sequential monitoring — mixture SPRT (Robbins '70;
# Pekelis/Johari "always-valid p-values", Optimizely'15): the daily
# dashboard a long-running experiment is ACTUALLY read from, where
# peeking every day with a fixed-n z-test inflates false positives.
# For each experiment day d, the cumulative treatment−control sum S_d
# over n_d user-days gives the normal-mixture likelihood ratio
#   Λ_d = sqrt(σ²/(σ²+n_d τ²)) · exp(S_d² τ² / (2σ²(σ²+n_d τ²)))
# and the always-valid p-value p_d = min over d'≤d of 1/Λ_d' (running
# min via a cumulative window). σ² is the pooled per-user-day variance
# (decimal moments), τ² = σ² (unit-information mixture).
# Scale: one (day, arm) aggregate (map-side combinable), a 30-row
# cumulative window, scalar math — the fact scan happens once.
@_q(
    "q_msprt_monitor",
    f"""
    WITH ud AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             user_id % 2 AS arm,
             {sql_dsum('value')} AS v
      FROM events GROUP BY day, arm, user_id
    ), sig AS (
      SELECT COUNT(*) AS n, {sql_dsum('v')} AS s1, {sql_dsum('v * v')} AS s2 FROM ud
    ), daily AS (
      SELECT day,
             COUNT(*) AS n_d,
             {sql_dsum('CASE WHEN arm = 1 THEN v ELSE -v END')} AS d_d
      FROM ud GROUP BY day
    ), cum AS (
      SELECT day,
             SUM(n_d) OVER (ORDER BY day) AS n_c,
             CAST(SUM(CAST(d_d AS DECIMAL(25,6))) OVER (ORDER BY day) AS DOUBLE) AS s_c
      FROM daily
    ), lam AS (
      SELECT day, n_c, s_c, sig.s2 / sig.n - (sig.s1 / sig.n) * (sig.s1 / sig.n) AS var1
      FROM cum CROSS JOIN sig
    ), av AS (
      SELECT day, n_c, s_c,
             SQRT(var1 / (var1 + n_c * var1))
               * EXP(s_c * s_c * var1 / (2.0 * var1 * (var1 + n_c * var1))) AS lambda_d
      FROM lam
    )
    SELECT day, CAST(n_c AS BIGINT) AS n_c,
           {sql_trunc6('s_c')} AS cum_diff,
           {sql_trunc6('LN(lambda_d)')} AS log_lambda,
           {sql_trunc6('MIN(LEAST(1.0, 1.0 / lambda_d)) OVER (ORDER BY day)')} AS always_valid_p
    FROM av ORDER BY day
    """,
    doc="mixture-SPRT always-valid p-value per experiment day (Robbins/"
    "Johari): cumulative diff window + running-min inverse likelihood",
)
def q_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ud = (
        ev.groupBy(
            F.floor(us / 86_400_000_000).cast("bigint").alias("day"),
            (F.col("user_id") % 2).alias("arm"),
            "user_id",
        )
        .agg(dsum(F.col("value")).alias("v"))
    )
    sig = ud.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("v")).alias("s1"),
        dsum(F.col("v") * F.col("v")).alias("s2"),
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_d"),
        dsum(F.when(F.col("arm") == 1, F.col("v")).otherwise(-F.col("v"))).alias("d_d"),
    )
    wd = Window.orderBy("day")
    cum = daily.select(
        "day",
        F.sum("n_d").over(wd).alias("n_c"),
        F.sum(F.col("d_d").cast(DEC)).over(wd).cast("double").alias("s_c"),
    )
    lam = cum.crossJoin(F.broadcast(sig)).select(
        "day",
        "n_c",
        "s_c",
        (
            F.col("s2") / F.col("n")
            - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
        ).alias("var1"),
    )
    lambda_d = F.sqrt(
        F.col("var1") / (F.col("var1") + F.col("n_c") * F.col("var1"))
    ) * F.exp(
        F.col("s_c")
        * F.col("s_c")
        * F.col("var1")
        / (F.lit(2.0) * F.col("var1") * (F.col("var1") + F.col("n_c") * F.col("var1")))
    )
    av = lam.select("day", "n_c", "s_c", lambda_d.alias("lambda_d"))
    return av.select(
        "day",
        F.col("n_c").cast("bigint").alias("n_c"),
        trunc6(F.col("s_c")).alias("cum_diff"),
        trunc6(F.log(F.col("lambda_d"))).alias("log_lambda"),
        trunc6(
            F.min(F.least(F.lit(1.0), F.lit(1.0) / F.col("lambda_d"))).over(wd)
        ).alias("always_valid_p"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Split-conformal prediction interval (Vovk; Lei et al. JASA'18) — the
# distribution-free uncertainty wrapper a production scoring pipeline
# puts around ANY point model: fit on a train split, take the
# ⌈(n+1)(1−α)⌉-th smallest absolute calibration residual as the
# interval half-width q̂, and AUDIT the realized coverage on a held-out
# test split (the guarantee is ≥ 1−α regardless of the model). Model
# here is the closed-form 1-feature OLS (price ~ quantity) from exact
# decimal moments; splits are hash-disjoint. The calibration order
# statistic is exact (rank over the calibration residuals — at 100 TB
# swap to approx_percentile exactly as the MAD docstring notes; the
# conformal guarantee degrades gracefully with quantile error).
@_q(
    "q_conformal_interval",
    f"""
    WITH base AS (
      SELECT l_quantity AS x, l_extendedprice AS y,
             {md5_long_sql("CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)")} % 4 AS sp
      FROM lineitem
    ), mom AS (
      SELECT COUNT(*) AS n, {sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy,
             {sql_dsum('x * x')} AS sxx, {sql_dsum('x * y')} AS sxy
      FROM base WHERE sp <= 1
    ), fit AS (
      SELECT n AS n_train,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
             sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n) AS a
      FROM mom
    ), cal AS (
      SELECT ABS(y - (fit.a + fit.b * x)) AS r
      FROM base CROSS JOIN fit WHERE sp = 2
    ), caln AS (
      SELECT COUNT(*) AS n_cal FROM cal
    ), qhat AS (
      SELECT MAX(r) AS q, MAX(n_cal) AS n_cal FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn, caln.n_cal
        FROM cal CROSS JOIN caln)
      WHERE rn <= CAST(CEIL(0.9 * (n_cal + 1)) AS BIGINT)
    ), test AS (
      SELECT COUNT(*) AS n_test,
             CAST(SUM(CASE WHEN ABS(y - (fit.a + fit.b * x)) <= qhat.q
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
      FROM base CROSS JOIN fit CROSS JOIN qhat WHERE sp = 3
    )
    SELECT fit.n_train, qhat.n_cal, test.n_test,
           {sql_trunc6('fit.a')} AS a, {sql_trunc6('fit.b')} AS b,
           {sql_trunc6('qhat.q')} AS qhat,
           test.n_cov,
           {sql_trunc6('CAST(test.n_cov AS DOUBLE) / test.n_test')} AS coverage
    FROM fit CROSS JOIN qhat CROSS JOIN test
    """,
    doc="split-conformal interval (alpha=0.1) around a decimal-exact OLS: "
    "exact calibration order statistic, held-out realized-coverage audit",
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    base = li.select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        (
            md5_long(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("#"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % 4
        ).alias("sp"),
    )
    # four plan branches (train moments, calibration count,
    # calibration rank, test coverage) each re-ran the scan + the
    # per-row md5 split draw — persist so the hash pass happens once
    # (optimization round 11, guide §5 caching-for-reuse)
    base = base.persist()
    mom = base.filter(F.col("sp") <= 1).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b_expr = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    fit = mom.select(
        F.col("n").alias("n_train"),
        b_expr.alias("b"),
        (F.col("sy") / F.col("n") - b_expr * (F.col("sx") / F.col("n"))).alias("a"),
    )
    cal = (
        base.filter(F.col("sp") == 2)
        .crossJoin(F.broadcast(fit))
        .select(F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x"))).alias("r"))
    )
    caln = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    ranked = cal.crossJoin(F.broadcast(caln)).withColumn(
        "rn", F.row_number().over(Window.orderBy("r"))
    )
    qhat = ranked.filter(
        F.col("rn") <= F.ceil(F.lit(0.9) * (F.col("n_cal") + 1)).cast("bigint")
    ).agg(F.max("r").alias("q"), F.max("n_cal").alias("n_cal"))
    test = (
        base.filter(F.col("sp") == 3)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x")))
                    <= F.col("q")
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_cov"),
        )
    )
    out = (
        fit.crossJoin(qhat.select(F.col("q"), F.col("n_cal")))
        .crossJoin(test)
        .select(
            "n_train",
            "n_cal",
            "n_test",
            trunc6(F.col("a")).alias("a"),
            trunc6(F.col("b")).alias("b"),
            trunc6(F.col("q")).alias("qhat"),
            "n_cov",
            trunc6(F.col("n_cov").cast("double") / F.col("n_test")).alias("coverage"),
        )
    )
    return checkpoint_release(out, [base])


# --------------------------------------------------------------------------
# Experiment health pre-checks — sample-ratio mismatch + covariate
# balance (the two audits run BEFORE reading any treatment effect;
# cf. Fabijan et al. "Diagnosing Sample Ratio Mismatch", KDD'19):
#   SRM: χ² of arm counts vs the designed 50/50 split (1 dof;
#        flag at 3.84 = p<0.05) — the single most common corrupted-
#        experiment signal.
#   Balance: standardized mean difference (SMD) per pre-period
#        covariate; |SMD| > 0.1 is the conventional imbalance flag.
# One user-keyed aggregate → arm-keyed decimal moments → scalar math;
# every output is a deterministic double through identical expression
# text, no window, no join beyond the 2-row arm pivot.
@_q(
    "q_srm_balance",
    f"""
    WITH pu AS (
      SELECT user_id, user_id % 2 AS arm,
             {sql_dsum(f"CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}' THEN value ELSE 0.0 END")} AS pre_value,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}' THEN 1 ELSE 0 END) AS DOUBLE) AS pre_events
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT arm, COUNT(*) AS n,
             {sql_dsum('pre_value')} AS sv, {sql_dsum('pre_value * pre_value')} AS svv,
             {sql_dsum('pre_events')} AS se, {sql_dsum('pre_events * pre_events')} AS see
      FROM pu GROUP BY arm
    ), w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN sv END) AS sv0,
             MAX(CASE WHEN arm = 1 THEN sv END) AS sv1,
             MAX(CASE WHEN arm = 0 THEN svv END) AS svv0,
             MAX(CASE WHEN arm = 1 THEN svv END) AS svv1,
             MAX(CASE WHEN arm = 0 THEN se END) AS se0,
             MAX(CASE WHEN arm = 1 THEN se END) AS se1,
             MAX(CASE WHEN arm = 0 THEN see END) AS see0,
             MAX(CASE WHEN arm = 1 THEN see END) AS see1
      FROM arms
    )
    SELECT n0, n1,
           {sql_trunc6('CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)')} AS srm_chi2,
           CASE WHEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 3.841458820694124
                THEN 1 ELSE 0 END AS srm_flag,
           {sql_trunc6('(sv1 / n1 - sv0 / n0) / SQRT(((svv0 / n0 - (sv0 / n0) * (sv0 / n0)) + (svv1 / n1 - (sv1 / n1) * (sv1 / n1))) / 2.0)')}
             AS smd_pre_value,
           {sql_trunc6('(se1 / n1 - se0 / n0) / SQRT(((see0 / n0 - (se0 / n0) * (se0 / n0)) + (see1 / n1 - (se1 / n1) * (se1 / n1))) / 2.0)')}
             AS smd_pre_events
    FROM w
    """,
    doc="experiment pre-checks: sample-ratio-mismatch chi-square (1 dof, "
    "50/50 design) + standardized-mean-difference balance on two "
    "pre-period covariates",
)
def q_srm_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    pu = ev.groupBy("user_id").agg(
        dsum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("pre_value"),
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).cast("double").alias("pre_events"),
    ).select((F.col("user_id") % 2).alias("arm"), "pre_value", "pre_events")
    arms = pu.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("pre_value")).alias("sv"),
        dsum(F.col("pre_value") * F.col("pre_value")).alias("svv"),
        dsum(F.col("pre_events")).alias("se"),
        dsum(F.col("pre_events") * F.col("pre_events")).alias("see"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    w = arms.agg(
        *[
            pick(a, c).alias(f"{c}{a}")
            for c in ("n", "sv", "svv", "se", "see")
            for a in (0, 1)
        ]
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast("double") / (
        F.col("n0") + F.col("n1")
    )

    def smd(s0, s1, ss0, ss1):
        m0, m1 = F.col(s0) / F.col("n0"), F.col(s1) / F.col("n1")
        v0 = F.col(ss0) / F.col("n0") - m0 * m0
        v1 = F.col(ss1) / F.col("n1") - m1 * m1
        return (m1 - m0) / F.sqrt((v0 + v1) / F.lit(2.0))

    return w.select(
        "n0",
        "n1",
        trunc6(chi2).alias("srm_chi2"),
        F.when(chi2 > F.lit(3.841458820694124), 1).otherwise(0).alias("srm_flag"),
        trunc6(smd("sv0", "sv1", "svv0", "svv1")).alias("smd_pre_value"),
        trunc6(smd("se0", "se1", "see0", "see1")).alias("smd_pre_events"),
    )


# --------------------------------------------------------------------------
# Population Stability Index — the model-monitoring drift score every
# production scorecard tracks (credit-risk lineage; PSI = Σ (p−q)·
# ln(p/q) over fixed bins; >0.1 "shifting", >0.25 "shifted"). Here:
# order-value distribution, first half of the order history (baseline)
# vs second half (current), decile bins FROM THE BASELINE (fixed-bin
# discipline — recomputing bins on current data hides exactly the
# drift being measured). Laplace-smoothed bin shares keep ln finite.
# Scale: baseline deciles via exact percentile (approx_percentile at
# 100 TB — same swap note as MAD), then ONE scan bins both periods
# (conditional aggregation), 10-row output math.
_PSI_CUT = "1998-07-01"


@_q(
    "q_psi_drift",
    f"""
    WITH base AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderdate < TIMESTAMP '{_PSI_CUT}' THEN 0 ELSE 1 END AS period
      FROM orders
    ), edges AS (
      SELECT quantile_cont(x, 0.1) AS e1, quantile_cont(x, 0.2) AS e2,
             quantile_cont(x, 0.3) AS e3, quantile_cont(x, 0.4) AS e4,
             quantile_cont(x, 0.5) AS e5, quantile_cont(x, 0.6) AS e6,
             quantile_cont(x, 0.7) AS e7, quantile_cont(x, 0.8) AS e8,
             quantile_cont(x, 0.9) AS e9
      FROM base WHERE period = 0
    ), binned AS (
      SELECT period,
             CASE WHEN x < e1 THEN 0 WHEN x < e2 THEN 1 WHEN x < e3 THEN 2
                  WHEN x < e4 THEN 3 WHEN x < e5 THEN 4 WHEN x < e6 THEN 5
                  WHEN x < e7 THEN 6 WHEN x < e8 THEN 7 WHEN x < e9 THEN 8
                  ELSE 9 END AS bin
      FROM base CROSS JOIN edges
    ), counts AS (
      SELECT bin,
             CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n_base) AS BIGINT) AS tb, CAST(SUM(n_cur) AS BIGINT) AS tc FROM counts
    )
    SELECT bin, n_base, n_cur,
           {sql_trunc6('((n_cur + 1.0) / (tc + 10.0) - (n_base + 1.0) / (tb + 10.0)) * LN(((n_cur + 1.0) / (tc + 10.0)) / ((n_base + 1.0) / (tb + 10.0)))')}
             AS psi_term
    FROM counts CROSS JOIN tot
    ORDER BY bin
    """,
    doc="PSI drift: baseline-decile bins (fixed-bin discipline), "
    "Laplace-smoothed shares, per-bin contribution — sum is the index",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    cut = F.lit(_PSI_CUT).cast("timestamp")
    base = o.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderdate") < cut, 0).otherwise(1).alias("period"),
    )
    edges = base.filter(F.col("period") == 0).agg(
        *[
            F.percentile(F.col("x"), F.lit(q / 10.0)).alias(f"e{q}")
            for q in range(1, 10)
        ]
    )
    b = F.lit(9)
    for q in range(9, 0, -1):
        b = F.when(F.col("x") < F.col(f"e{q}"), q - 1).otherwise(b)
    counts = (
        base.crossJoin(F.broadcast(edges))
        .select("period", b.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).cast("bigint").alias("n_base"),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).cast("bigint").alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").cast("bigint").alias("tb"), F.sum("n_cur").cast("bigint").alias("tc")
    )
    p = (F.col("n_cur") + 1.0) / (F.col("tc") + 10.0)
    q_ = (F.col("n_base") + 1.0) / (F.col("tb") + 10.0)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_base",
            "n_cur",
            trunc6((p - q_) * F.log(p / q_)).alias("psi_term"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Declarative data-quality constraint suite — the Deequ/Great-
# Expectations pattern (Schelter et al., VLDB'18 "Automating Large-
# Scale Data Quality Verification"): a table of named constraints
# (uniqueness, referential integrity, completeness, range, value-set,
# positivity, freshness), each evaluated to a VIOLATION COUNT and a
# pass flag in one verification run. The contract a 100 TB ingest
# gates on before promoting a batch.
# Scale: each constraint is a column-pruned aggregate over its own
# table (Deequ batches per-table constraints into shared scans — here
# the orders checks share one scan via conditional aggregation; the
# uniqueness check is a two-level count; referential integrity is a
# left-anti count on the join key).
@_q(
    "q_constraint_suite",
    """
    WITH o_scan AS (
      SELECT CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
             CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
             CASE WHEN MAX(o_orderdate) >= TIMESTAMP '2001-01-01' THEN 0 ELSE 1 END AS stale
      FROM orders
    ), uniq AS (
      SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_keys FROM orders
    ), ref AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphans
      FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ), rng AS (
      SELECT CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc
      FROM lineitem
    )
    SELECT c AS constraint_name, v AS violations,
           CASE WHEN v = 0 THEN 1 ELSE 0 END AS passed
    FROM (
      SELECT 'orders.orderkey_unique' AS c, dup_keys AS v FROM uniq
      UNION ALL SELECT 'lineitem.orderkey_refers_orders', orphans FROM ref
      UNION ALL SELECT 'orders.custkey_complete', null_cust FROM o_scan
      UNION ALL SELECT 'orders.status_in_set', bad_status FROM o_scan
      UNION ALL SELECT 'orders.totalprice_positive', bad_price FROM o_scan
      UNION ALL SELECT 'orders.fresh_through_2001', CAST(stale AS BIGINT) FROM o_scan
      UNION ALL SELECT 'lineitem.discount_in_range', bad_disc FROM rng
    )
    ORDER BY constraint_name
    """,
    doc="Deequ-style constraint verification: 7 named checks (unique/"
    "referential/complete/set/range/positive/fresh) → violation counts "
    "+ pass flags; per-table checks share scans",
)
def q_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o, li = t["orders"], t["lineitem"]
    o_scan = o.agg(
        F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("int"))
        .cast("bigint")
        .alias("bad_status"),
        F.sum((F.col("o_totalprice") <= 0.0).cast("int")).cast("bigint").alias("bad_price"),
        F.sum(F.col("o_custkey").isNull().cast("int")).cast("bigint").alias("null_cust"),
        F.when(
            F.max("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"), 0
        )
        .otherwise(1)
        .cast("bigint")
        .alias("stale"),
    )
    uniq = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("bigint").alias("dup_keys")
    )
    ref = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
    )
    rng = li.agg(
        F.sum(((F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1)).cast("int"))
        .cast("bigint")
        .alias("bad_disc")
    )
    rows = [
        uniq.select(F.lit("orders.orderkey_unique").alias("constraint_name"), F.col("dup_keys").alias("violations")),
        ref.select(F.lit("lineitem.orderkey_refers_orders").alias("constraint_name"), F.col("orphans").alias("violations")),
        o_scan.select(F.lit("orders.custkey_complete").alias("constraint_name"), F.col("null_cust").alias("violations")),
        o_scan.select(F.lit("orders.status_in_set").alias("constraint_name"), F.col("bad_status").alias("violations")),
        o_scan.select(F.lit("orders.totalprice_positive").alias("constraint_name"), F.col("bad_price").alias("violations")),
        o_scan.select(F.lit("orders.fresh_through_2001").alias("constraint_name"), F.col("stale").alias("violations")),
        rng.select(F.lit("lineitem.discount_in_range").alias("constraint_name"), F.col("bad_disc").alias("violations")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "constraint_name",
        "violations",
        F.when(F.col("violations") == 0, 1).otherwise(0).alias("passed"),
    ).orderBy("constraint_name")


# --------------------------------------------------------------------------
# Heavy-change detection — the temporal companion to heavy hitters
# (Cormode & Muthukrishnan "What's New" / deltoids): the parts whose
# order volume changed most between the two halves of the history,
# scored by absolute count delta AND by smoothed log-ratio (the two
# standard deltoid variants — absolute for revenue impact, relative
# for anomaly triage). Exact counts here; at 100 TB the same query
# runs over two CMS sketches (t_cms_heavy_hitters' machinery) with
# identical downstream math.
# Scale: one conditional-count aggregate on the part key (map-side
# combinable), top-20 via TakeOrdered — no global sort, no join.
@_q(
    "q_heavy_change",
    f"""
    WITH c AS (
      SELECT l_partkey,
             CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '{_PSI_CUT}' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '{_PSI_CUT}' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, a, b,
           ABS(b - a) AS abs_delta,
           {sql_trunc6('LN((b + 1.0) / (a + 1.0))')} AS log_ratio
    FROM c
    ORDER BY abs_delta DESC, l_partkey
    LIMIT 20
    """,
    doc="heavy-change detection (deltoids): top-20 parts by order-count "
    "delta across the history midpoint, absolute + smoothed log-ratio",
)
def q_heavy_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    cut = F.lit(_PSI_CUT).cast("timestamp")
    c = li.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("l_shipdate") < cut, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("l_shipdate") >= cut, 1).otherwise(0)).cast("bigint").alias("b"),
    )
    return (
        c.select(
            "l_partkey",
            "a",
            "b",
            F.abs(F.col("b") - F.col("a")).alias("abs_delta"),
            trunc6(F.log((F.col("b") + 1.0) / (F.col("a") + 1.0))).alias("log_ratio"),
        )
        .orderBy(F.col("abs_delta").desc(), "l_partkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Autocorrelation function — the first diagnostic run on any business
# time series (Box-Jenkins model identification: AR order from the
# ACF/PACF shape, seasonality from peaks at the period). Daily revenue
# series (decimal-exact daily sums, scaled to $M so deviation products
# stay in DECIMAL(25,6) range), deviations against the decimal-exact
# global mean, then one window pass producing all 7 leads and a single
# aggregate for every numerator — the series scans once.
# Scale: the daily rollup is the only data-sized shuffle (map-side
# combinable on ~2.4k day keys); the window/lag pass runs over the
# day-cardinality series (thousands of rows regardless of fact size),
# so the unpartitioned window is driver-trivial by construction.
_ACF_LAGS = 7


def _acf_oracle() -> str:
    leads = ", ".join(f"LEAD(dev, {k}) OVER w AS l{k}" for k in range(1, _ACF_LAGS + 1))
    nums = ", ".join(f"{sql_dsum(f'dev * l{k}')} AS n{k}" for k in range(1, _ACF_LAGS + 1))
    acfs = ", ".join(
        sql_trunc6(f"MAX(n{k}) / MAX(den)") + f" AS acf_{k}" for k in range(1, _ACF_LAGS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             {sql_dsum('o_totalprice')} / 1000000.0 AS rev
      FROM orders GROUP BY 1
    ), m AS (
      SELECT {sql_davg('rev')} AS mu, COUNT(*) AS n FROM daily
    ), dv AS (
      SELECT d, daily.rev - m.mu AS dev FROM daily, m
    ), lagd AS (
      SELECT dev, {leads} FROM dv WINDOW w AS (ORDER BY d)
    ), s AS (
      SELECT {sql_dsum('dev * dev')} AS den, {nums} FROM lagd
    )
    SELECT MAX(m.n) AS n_days,
           {sql_trunc6('MAX(m.mu)')} AS mean_rev_m,
           {sql_trunc6('MAX(s.den)')} AS ss_dev,
           {acfs}
    FROM s, m
    """


@_q(
    "q_acf_revenue",
    _acf_oracle(),
    doc="autocorrelation of the daily revenue series at lags 1..7 "
    "(Box-Jenkins identification diagnostic), decimal-exact moments",
)
def q_acf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (dsum(F.col("o_totalprice")) / F.lit(1000000.0)).alias("rev")
    )
    m = daily.agg(davg(F.col("rev")).alias("mu"), F.count(F.lit(1)).alias("n"))
    dv = daily.crossJoin(F.broadcast(m)).select(
        "d", "n", "mu", (F.col("rev") - F.col("mu")).alias("dev")
    )
    w = Window.orderBy("d")
    lagd = dv.select(
        "n",
        "mu",
        "dev",
        *[F.lead("dev", k).over(w).alias(f"l{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    s = lagd.agg(
        F.max("n").alias("n_days"),
        trunc6(F.max("mu")).alias("mean_rev_m"),
        dsum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            dsum(F.col("dev") * F.col(f"l{k}")).alias(f"n{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    return s.select(
        "n_days",
        "mean_rev_m",
        trunc6(F.col("den")).alias("ss_dev"),
        *[
            trunc6(F.col(f"n{k}") / F.col("den")).alias(f"acf_{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )


# --------------------------------------------------------------------------
# Mann-Whitney U / Wilcoxon rank-sum — the nonparametric two-sample
# test (no normality assumption; the robust alternative to the t-test
# for revenue-like heavy-tailed metrics). Average ranks for ties via
# rank() + (tie_count-1)/2 — the textbook midrank — and the
# tie-corrected normal approximation for z. Rank sums accumulate in
# exact decimals (midranks are half-integers), so U and z are
# bit-identical cross-engine.
# Scale: the global midrank needs a total order; at 100 TB replace the
# single sort with binned ranks (fixed price histogram -> per-bin
# offsets, q_price_histogram machinery) — the U statistic only needs
# rank SUMS, which bin offsets reconstruct exactly for distinct bins.
@_q(
    "q_mann_whitney",
    f"""
    WITH s AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), r AS (
      SELECT g, x,
             RANK() OVER (ORDER BY x) AS rk,
             COUNT(*) OVER (PARTITION BY x) AS tc
      FROM s
    ), agg AS (
      SELECT CAST(SUM(g) AS BIGINT) AS n1,
             CAST(SUM(1 - g) AS BIGINT) AS n2,
             {sql_dsum('g * (rk + (tc - 1) / 2.0)')} AS r1
      FROM r
    ), ties AS (
      SELECT {sql_dsum('t3')} AS tie_sum
      FROM (SELECT CAST(COUNT(*) AS DOUBLE) ** 3 - COUNT(*) AS t3 FROM s GROUP BY x) tt
    )
    SELECT n1, n2,
           {sql_trunc6('r1')} AS r1,
           {sql_trunc6('r1 - n1 * (n1 + 1) / 2.0')} AS u1,
           {sql_trunc6(
               '(r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) / '
               'SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1.0) - tie_sum / '
               '((n1 + n2) * (n1 + n2 - 1.0))))'
           )} AS z_score
    FROM agg, ties
    """,
    doc="Mann-Whitney U rank-sum test (URGENT vs LOW order prices): "
    "midrank ties, tie-corrected normal z, decimal-exact rank sums",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    s = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g"),
    )
    r = s.select(
        "g",
        "x",
        F.rank().over(Window.orderBy("x")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("x")).alias("tc"),
    )
    agg = r.agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g")).cast("bigint").alias("n2"),
        dsum(F.col("g") * (F.col("rk") + (F.col("tc") - 1) / F.lit(2.0))).alias("r1"),
    )
    ties = (
        s.groupBy("x")
        .agg((F.pow(F.count(F.lit(1)).cast("double"), 3) - F.count(F.lit(1))).alias("t3"))
        .agg(dsum(F.col("t3")).alias("tie_sum"))
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0)
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / F.lit(12.0)
        * (
            (F.col("n1") + F.col("n2") + F.lit(1.0))
            - F.col("tie_sum")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2") - F.lit(1.0)))
        )
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n1",
        "n2",
        trunc6(F.col("r1")).alias("r1"),
        trunc6(u1).alias("u1"),
        trunc6((u1 - F.col("n1") * F.col("n2") / F.lit(2.0)) / sigma).alias("z_score"),
    )


# --------------------------------------------------------------------------
# Single changepoint detection — the binary-segmentation primitive
# (CUSUM's offline sibling; Scott & Knott / PELT's inner step): find
# the split of the daily-revenue series maximizing the between-segment
# SSE reduction  gain(k) = S_k²/k + (S−S_k)²/(n−k) − S²/n  — the
# split a mean-shift model would place first. Everything derives from
# ONE ordered prefix-sum window over the day-grain aggregate
# (DECIMAL-exact running sums → identical doubles in both engines, the
# q_cusum_drift contract), gains are evaluated per candidate split in
# fixed-order double arithmetic, and the argmax is ORDER BY + LIMIT 1
# = TakeOrderedAndProject. Scale: the fact scan reduces to day grain
# first (~2.4k rows/7 years), so the unpartitioned window ranks a
# tiny relation — the same altitude argument as q_cusum_drift /
# q_seasonal_decompose (PLANS.md window audit table).
@_q(
    "q_changepoint_revenue",
    f"""
    WITH day AS (
      SELECT CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS d,
             {sql_dsum('o_totalprice')} AS rev
      FROM orders GROUP BY d
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) AS s
      FROM day
    ), pre AS (
      SELECT d,
             ROW_NUMBER() OVER (ORDER BY d) AS k,
             CAST(SUM(CAST(rev AS DECIMAL(25,6))) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS sk
      FROM day
    ), gain AS (
      SELECT d, k, t.n, sk, t.s,
             (sk * sk) / CAST(k AS DOUBLE)
             + ((t.s - sk) * (t.s - sk)) / CAST(t.n - k AS DOUBLE)
             - (t.s * t.s) / CAST(t.n AS DOUBLE) AS g
      FROM pre CROSS JOIN tot t
      WHERE k < t.n
    )
    SELECT d AS split_day, CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right,
           g AS gain,
           {sql_trunc6('sk / CAST(k AS DOUBLE)')} AS mean_left,
           {sql_trunc6('(s - sk) / CAST(n - k AS DOUBLE)')} AS mean_right
    FROM gain ORDER BY g DESC, d LIMIT 1
    """,
    doc="single changepoint (binary-segmentation step): split of the "
    "daily-revenue series maximizing between-segment SSE reduction; "
    "one DECIMAL prefix-sum window + TakeOrdered argmax",
    tags=("relational", "timeseries"),
)
def q_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    day = (
        o.select(
            F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
            .cast("bigint")
            .alias("d"),
            F.col("o_totalprice"),
        )
        .groupBy("d")
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    tot = day.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rev").cast(DEC)).cast("double").alias("s"),
    )
    wk = Window.orderBy("d")
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = day.select(
        "d",
        F.row_number().over(wk).alias("k"),
        F.sum(F.col("rev").cast(DEC)).over(wc).cast("double").alias("sk"),
    )
    g = (
        (F.col("sk") * F.col("sk")) / F.col("k").cast("double")
        + ((F.col("s") - F.col("sk")) * (F.col("s") - F.col("sk")))
        / (F.col("n") - F.col("k")).cast("double")
        - (F.col("s") * F.col("s")) / F.col("n").cast("double")
    )
    gain = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n"))
        .select("d", "k", "n", "sk", "s", g.alias("g"))
    )
    return (
        gain.orderBy(F.col("g").desc(), "d")
        .limit(1)
        .select(
            F.col("d").alias("split_day"),
            F.col("k").cast("bigint").alias("n_left"),
            (F.col("n") - F.col("k")).cast("bigint").alias("n_right"),
            # NOT trunc6'd: gain ~ (decimal-exact sums)²/n is already
            # bit-identical cross-engine, and at sf0.1 it exceeds the
            # trunc6 domain (|x| < ~9.2e12 — F.floor yields LONG, so
            # x*1e6 past int64 max CLAMPS; found by the sf0.1 gate)
            F.col("g").alias("gain"),
            trunc6(F.col("sk") / F.col("k").cast("double")).alias("mean_left"),
            trunc6(
                (F.col("s") - F.col("sk")) / (F.col("n") - F.col("k")).cast("double")
            ).alias("mean_right"),
        )
    )


# --------------------------------------------------------------------------
# Watermark-lateness audit — the batch measurement that SIZES the
# streaming layer's watermarks: how out-of-order does event time
# arrive? Arrival order is the event_id sequence; events are bucketed
# into arrival batches of 1000 (the micro-batch analogue), and each
# event's lateness is (max event-time seen in PRIOR batches) − its own
# event time, clamped at 0. The running max runs over the BATCH
# relation (inventory cardinality — ~n/1000 rows), never over the
# event stream, so the only unpartitioned window ranks metadata (the
# q_compaction_plan altitude argument); everything else is map-side
# plus one broadcast join of the tiny batch table. Percentiles are
# Spark percentile() / duckdb quantile_cont over exact integer micros
# (the q_mad_outliers contract); at 100 TB swap approx_percentile.
# Reading: p99_lateness_s is the watermark you would configure; n_late
# events beyond it are the ones a shorter watermark would drop.
_WM_BATCH = 1000


@_q(
    "q_watermark_lateness",
    f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS ts_us,
             CAST(FLOOR(event_id / {_WM_BATCH}) AS BIGINT) AS b
      FROM events
    ), bm AS (
      SELECT b, MAX(ts_us) AS bmax FROM e GROUP BY b
    ), pm AS (
      SELECT b, MAX(bmax) OVER (ORDER BY b
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      FROM bm
    ), late AS (
      SELECT e.event_id,
             GREATEST(COALESCE(pm.prior_max - e.ts_us, 0), 0) AS lateness_us
      FROM e JOIN pm ON pm.b = e.b
    )
    SELECT COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           {sql_trunc6(
               'CAST(SUM(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)'
           )} AS frac_late,
           {sql_trunc6('quantile_cont(CAST(lateness_us AS DOUBLE), 0.5) / 1000000.0')} AS p50_lateness_s,
           {sql_trunc6('quantile_cont(CAST(lateness_us AS DOUBLE), 0.95) / 1000000.0')} AS p95_lateness_s,
           {sql_trunc6('quantile_cont(CAST(lateness_us AS DOUBLE), 0.99) / 1000000.0')} AS p99_lateness_s,
           {sql_trunc6('CAST(MAX(lateness_us) AS DOUBLE) / 1000000.0')} AS max_lateness_s
    FROM late
    """,
    doc="event-time disorder audit sizing streaming watermarks: per-"
    "arrival-batch running max vs event time, lateness percentiles "
    "(p99 = the watermark to configure)",
    tags=("relational", "timeseries"),
)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.floor(F.col("event_id") / _WM_BATCH).cast("bigint").alias("b"),
    )
    bm = e.groupBy("b").agg(F.max("ts_us").alias("bmax"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    pm = bm.select("b", F.max("bmax").over(wb).alias("prior_max"))
    # pm is per-BATCH (n_events / _WM_BATCH rows) - data-scaled, so no
    # forced broadcast; AQE broadcasts it while it fits
    late = e.join(pm, "b").select(
        F.greatest(
            F.coalesce(F.col("prior_max") - F.col("ts_us"), F.lit(0)), F.lit(0)
        ).alias("lateness_us")
    )
    lu = F.col("lateness_us").cast("double")
    return late.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("lateness_us") > 0).cast("int")).cast("bigint").alias("n_late"),
        trunc6(
            F.sum((F.col("lateness_us") > 0).cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("frac_late"),
        trunc6(F.percentile(lu, F.lit(0.5)) / F.lit(1000000.0)).alias("p50_lateness_s"),
        trunc6(F.percentile(lu, F.lit(0.95)) / F.lit(1000000.0)).alias("p95_lateness_s"),
        trunc6(F.percentile(lu, F.lit(0.99)) / F.lit(1000000.0)).alias("p99_lateness_s"),
        trunc6(F.max(lu) / F.lit(1000000.0)).alias("max_lateness_s"),
    )


# --------------------------------------------------------------------------
# k-core decomposition (k=3) of the co-purchase graph — the density
# peel that separates structurally-cohesive product communities from
# tendrils (Seidman '83; the graph-mining sibling of the PageRank/
# CC/triangle family already here). Peeling: repeatedly drop nodes
# with degree < k and the edges they carry until stable. Each round is
# ONE degree aggregate + one semi-join filter over the current edge
# relation — the standard distributed peel; rounds shrink the relation
# monotonically, and the fixed unroll (R=8) is verified sufficient by
# the reported fixpoint (consecutive equal rounds). Everything is
# integer counts — hash-proof. The oracle unrolls the same rounds as
# MATERIALIZED CTEs (duckdb inlines CTEs; iterative chains re-expand
# exponentially otherwise — the q_bradley_terry lesson).
_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    , d{r} AS MATERIALIZED (
      SELECT v, COUNT(*) AS dg FROM (
        SELECT a AS v FROM g{r-1} UNION ALL SELECT b FROM g{r-1}
      ) GROUP BY v HAVING COUNT(*) >= {_KCORE_K}
    ), g{r} AS MATERIALIZED (
      SELECT g.a, g.b FROM g{r-1} g
      JOIN d{r} da ON da.v = g.a
      JOIN d{r} db ON db.v = g.b
    )""")
    counts = "\n      UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT DISTINCT v FROM (SELECT a AS v FROM g{r} UNION ALL SELECT b FROM g{r}))) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM g{r}) AS n_edges"""
        for r in range(0, _KCORE_ROUNDS + 1)
    )
    return f"""
    WITH g0 AS MATERIALIZED ({_COPURCHASE_EDGES_CTE}
    ){''.join(rounds)}
    SELECT * FROM ({counts}) ORDER BY round
    """


@_q(
    "q_kcore_decomposition",
    _kcore_oracle(),
    doc=f"k-core peel (k={_KCORE_K}, Seidman '83) of the >=2-order "
    "co-purchase graph: per-round node/edge counts down to the "
    "fixpoint; one degree aggregate + semi-join filter per round",
    tags=("relational", "graph"),
)
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    # the peel iterates over this relation — materialize it once
    g = _copurchase_edges(li).localCheckpoint(eager=True)

    # One degree aggregate per round serves THREE consumers that each
    # re-scanned the edge relation before (optimization round 11, guide
    # §2.3/§2.4): the k-core survivor filter (dg >= k), the node count
    # (rows of the degree relation ≡ distinct endpoints — the old
    # union+distinct+count job), and the edge count (Σdg = 2|E| exactly:
    # a<b strict, unique pairs, so each edge contributes 2 — the old
    # separate count job). Per-round full scans of g drop 4 → 2 and the
    # distinct exchange disappears; the stats collapse to one 1-row
    # collect over the |V|-row checkpointed degree table.
    # Round 12 (§2.6 job fusion): LAZY checkpoints — the per-round
    # 1-row stats collect is the materializing action, so one job now
    # checkpoints the peeled edge relation AND its degree table AND
    # returns the stats (was 3 jobs/round: eager g checkpoint, eager
    # degree checkpoint, stats collect). Values unchanged: the same
    # relations materialize, triggered by the stats read.
    def degree_stats(edges: DataFrame) -> tuple[DataFrame, int, int]:
        d = (
            edges.select(F.col("a").alias("v"))
            .unionByName(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("dg"))
            .localCheckpoint(eager=False)
        )
        row = d.agg(F.count(F.lit(1)).alias("n"), F.sum("dg").alias("sd")).collect()[0]
        return d, int(row["n"]), int(row["sd"] or 0) // 2

    dfull, n0, e0 = degree_stats(g)
    rows = [(0, n0, e0)]
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = dfull.filter(F.col("dg") >= _KCORE_K).select("v")
        # deg has unique keys (group-by output), so the endpoint filter is
        # a semi-join.  NO broadcast hint: the surviving-node relation is
        # unbounded in graph size (round 0 keeps nearly every node), so a
        # forced broadcast would ship the whole node set to every executor
        # at scale — let AQE pick broadcast vs shuffled-hash per round.
        g = (
            g.join(deg.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(deg.withColumnRenamed("v", "b"), "b", "left_semi")
            # truncate the per-round lineage; materialized by the
            # degree_stats collect below (one job per round)
            .localCheckpoint(eager=False)
        )
        dfull, n_nodes, n_edges = degree_stats(g)
        rows.append((r, n_nodes, n_edges))
    return spark.createDataFrame(
        rows, "round bigint, n_nodes bigint, n_edges bigint"
    ).orderBy("round")


# --------------------------------------------------------------------------
# HDR-histogram latency quantiles — the log-linear quantile sketch
# (Gil Tene's HdrHistogram; the same bucketing family as DDSketch but
# with PURE INTEGER bucket math, so the sketch is bit-deterministic
# across engines — no libm log() near bucket boundaries). Value =
# per-user inter-event latency in exact integer microseconds; bucket =
# (octave, 16 linear sub-buckets), i.e. 4 significant bits ⇒ ≤ 1/16
# relative error by construction. The bucket table IS the sketch:
# fixed-cardinality (≤ 16·64 rows), mergeable by count-sum — at 100 TB
# each partition/day emits its own bucket counts and the merge is a
# bucket-keyed SUM; the exact-rank audit branch here is the part you
# drop at scale (same convention as the KMV/recall audits).
# Scale shape: one events scan → user-keyed lag window (partitioned,
# bounded per user) → map-side-combining bucket count; quantile
# extraction is a window over the ≤1k-row bucket table. The exact
# order-statistic audit branch is a per-quantile rank over the full
# latency relation (a 3-partition sort — row_number with a COLUMN
# rank target cannot become TakeOrderedAndProject): it is the audit
# you DROP at 100 TB, exactly like the KMV exact-count branch — the
# sketch path (bucket counts + extraction) is the product.
_HDR_QS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))  # name, num, den


@_q(
    "q_hdr_latency",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ), lat AS (
      SELECT ts_us - LAG(ts_us) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id) AS lat
      FROM ev
    ), lats AS (
      SELECT lat FROM lat WHERE lat IS NOT NULL AND lat >= 1
    ), buck AS (
      SELECT LENGTH(BIN(lat)) AS oct,
             (lat * 16) // (1::BIGINT << (LENGTH(BIN(lat)) - 1)) - 16 AS sub,
             COUNT(*) AS cnt
      FROM lats GROUP BY 1, 2
    ), cum AS (
      SELECT oct, sub, cnt,
             SUM(cnt) OVER (ORDER BY oct, sub) AS cum,
             SUM(cnt) OVER () AS n
      FROM buck
    ), qs AS (
      SELECT * FROM (VALUES {", ".join(f"('{nm}', {num}, {den})" for nm, num, den in _HDR_QS)})
        t(q, num, den)
    ), est AS (
      SELECT q, oct, sub, rank, n FROM (
        SELECT qs.q, c.oct, c.sub, c.n,
               CAST(CEIL(CAST(c.n * qs.num AS DOUBLE) / qs.den) AS BIGINT) AS rank,
               ROW_NUMBER() OVER (
                 PARTITION BY qs.q ORDER BY c.oct, c.sub) AS rn,
               c.cum
        FROM cum c JOIN qs
          ON c.cum >= CAST(CEIL(CAST(c.n * qs.num AS DOUBLE) / qs.den) AS BIGINT)
          AND c.cum - c.cnt < CAST(CEIL(CAST(c.n * qs.num AS DOUBLE) / qs.den) AS BIGINT)
      ) WHERE rn = 1
    ), exact AS (
      SELECT q, lat AS exact_us FROM (
        SELECT qs.q, l.lat,
               ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY l.lat) AS r,
               CAST(CEIL(CAST((SELECT COUNT(*) FROM lats) * qs.num AS DOUBLE) / qs.den)
                 AS BIGINT) AS want
        FROM lats l CROSS JOIN qs
      ) WHERE r = want
    )
    SELECT e.q AS quantile,
           CAST(((16 + e.sub) * (1::BIGINT << (e.oct - 1))) AS DOUBLE) / 16.0
             AS est_lower_us,
           CAST(x.exact_us AS BIGINT) AS exact_us,
           {sql_trunc6(
               "(CAST(((16 + e.sub) * (1::BIGINT << (e.oct - 1))) AS DOUBLE) / 16.0"
               " - CAST(x.exact_us AS DOUBLE)) / CAST(x.exact_us AS DOUBLE)"
           )} AS rel_err,
           CAST(e.n AS BIGINT) AS n_latencies
    FROM est e JOIN exact x ON x.q = e.q
    ORDER BY quantile
    """,
    doc="HDR-histogram quantile sketch over per-user inter-event "
    "latencies: integer-exact log-linear buckets (octave x 16 linear "
    "sub-buckets, <=1/16 relative error), mergeable bucket counts, "
    "p50/p90/p99 extraction + exact-order-statistic audit",
    tags=("events",),
)
def q_hdr_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    lats = (
        e.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_id",
        )
        .select((F.col("ts_us") - F.lag("ts_us").over(w)).alias("lat"))
        .filter(F.col("lat").isNotNull() & (F.col("lat") >= 1))
    )
    # the latency relation feeds the bucket aggregate, its own 1-row
    # count, AND the exact-rank audit — without the cache the events
    # scan + user-keyed lag window executes three times (round-7
    # review fix; released via checkpoint_release below)
    lats = lats.persist()
    # exact power of 2: shiftleft on a LONG is integer-exact; lat*16
    # stays far below int64 (lat < 2^40 us). SQL-expression form —
    # pyspark's F.shiftleft only accepts a literal bit count.
    buck = (
        lats.selectExpr("lat", "length(bin(lat)) AS oct")
        .selectExpr(
            "oct",
            "(lat * 16) DIV shiftleft(CAST(1 AS BIGINT), oct - 1) - 16 AS sub",
        )
        .groupBy("oct", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cw = Window.orderBy("oct", "sub").rowsBetween(Window.unboundedPreceding, 0)
    cum = buck.select(
        "oct",
        "sub",
        "cnt",
        F.sum("cnt").over(cw).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    qs = spark.createDataFrame(list(_HDR_QS), "q string, num int, den int")
    rank = F.ceil((F.col("n") * F.col("num")).cast("double") / F.col("den")).cast(
        "long"
    )
    est = (
        cum.join(
            F.broadcast(qs),
            (F.col("cum") >= rank) & ((F.col("cum") - F.col("cnt")) < rank),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("q").orderBy("oct", "sub")),
        )
        .filter(F.col("rn") == 1)
        .select("q", "oct", "sub", "n")
    )
    # total count as a 1-row broadcast aggregate (the oracle's scalar
    # subquery), not a driver-side count(): keeps the plan fully lazy
    nt = lats.agg(F.count(F.lit(1)).alias("nt"))
    exact = (
        lats.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(nt))
        .withColumn("r", F.row_number().over(Window.partitionBy("q").orderBy("lat")))
        .filter(
            F.col("r")
            == F.ceil(
                (F.col("nt") * F.col("num")).cast("double") / F.col("den")
            ).cast("long")
        )
        .select("q", F.col("lat").alias("exact_us"))
    )
    est_val = F.expr(
        "CAST((16 + sub) * shiftleft(CAST(1 AS BIGINT), oct - 1) AS DOUBLE) / 16.0"
    )
    out = (
        est.join(exact, "q")
        .select(
            F.col("q").alias("quantile"),
            est_val.alias("est_lower_us"),
            F.col("exact_us").cast("bigint").alias("exact_us"),
            trunc6(
                (est_val - F.col("exact_us").cast("double"))
                / F.col("exact_us").cast("double")
            ).alias("rel_err"),
            F.col("n").cast("bigint").alias("n_latencies"),
        )
        .orderBy("quantile")
    )
    return checkpoint_release(out, [lats])


# --------------------------------------------------------------------------
# Label propagation communities (Raghavan et al. '07) on the >=2-order
# co-purchase graph — the lightweight community detector every
# recommender-graph pipeline runs before heavier modularity methods.
# Synchronous variant, fully deterministic: label_r(v) = the most
# frequent label among v's neighbors at r-1, ties broken by SMALLEST
# label (integer counts + integer labels, so both engines agree
# bit-exactly). Per-round output: labels moved, community count,
# largest community — the convergence trace.
# Scale shape: per round ONE edge-keyed join (labels onto neighbor
# endpoints) + one (node,label)-keyed count + a partial-aggregable
# min(struct) argmax per node — all key-shuffles, no windows over the
# graph; per-round relations are localCheckpointed so the iteration
# never replays prior rounds (the q_kcore_decomposition pattern).
# Oracle: unrolled MATERIALIZED rounds (duckdb re-expands non-
# materialized CTEs exponentially in iterative chains).
_LP_ROUNDS = 3


def _lp_oracle() -> str:
    rounds = []
    for r in range(1, _LP_ROUNDS + 1):
        rounds.append(f"""
    , l{r} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT b.u AS node, l.lbl, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY b.u
                                  ORDER BY COUNT(*) DESC, l.lbl) AS rn
        FROM b JOIN l{r-1} l ON l.node = b.v
        GROUP BY b.u, l.lbl) WHERE rn = 1
    )""")
    summaries = "\n      UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM l{r} n
                JOIN l{r-1} p ON p.node = n.node AND p.lbl <> n.lbl) AS n_moved,
             (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM l{r}) AS n_communities,
             (SELECT CAST(MAX(c) AS BIGINT) FROM (
                SELECT COUNT(*) AS c FROM l{r} GROUP BY lbl)) AS largest"""
        for r in range(1, _LP_ROUNDS + 1)
    )
    return f"""
    WITH e AS MATERIALIZED ({_COPURCHASE_EDGES_CTE}
    ), b AS MATERIALIZED (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS lbl FROM b
    ){''.join(rounds)}
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS round, CAST(0 AS BIGINT) AS n_moved,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM l0) AS n_communities,
             CAST(1 AS BIGINT) AS largest
      UNION ALL {summaries}
    ) ORDER BY round
    """


@_q(
    "q_label_propagation",
    _lp_oracle(),
    doc=f"synchronous label propagation ({_LP_ROUNDS} rounds, most-"
    "frequent neighbor label, min-label ties) over the co-purchase "
    "graph: per-round moved/community-count/largest-community trace",
    tags=("relational", "graph"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    e = _copurchase_edges(li)
    both = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=True)  # the iteration's base relation
    )
    labels = both.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint(eager=True)
    n_nodes = labels.count()
    rows = [(0, 0, n_nodes, 1)]
    for r in range(1, _LP_ROUNDS + 1):
        # argmax(count) with min-label ties as a partial-aggregable
        # min(struct(-c, lbl)) — the oracle's ROW_NUMBER ordering
        new = (
            both.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(F.min(F.struct(-F.col("c"), F.col("lbl")))["lbl"].alias("lbl"))
            # Round 12 (§2.6 job fusion): LAZY checkpoint — the stats
            # collect below materializes it, ONE job per round (was
            # two: eager checkpoint + stats collect).
            .localCheckpoint(eager=False)
        )
        # ONE stats job per round instead of two (optimization round 11,
        # guide §2.6 job-count hygiene): moved-label count, community
        # count and largest community come out of a single pass over the
        # |V|-row checkpointed label relations (join to previous labels →
        # per-community counts carrying a moved-flag sum → 1-row agg).
        agg = (
            new.join(labels.withColumnsRenamed({"lbl": "plbl"}), "node")
            .groupBy("lbl")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum((F.col("lbl") != F.col("plbl")).cast("bigint")).alias("mv"),
            )
            .agg(
                F.sum("mv").alias("n_moved"),
                F.count(F.lit(1)).alias("n_communities"),
                F.max("c").alias("largest"),
            )
            .collect()[0]
        )
        rows.append(
            (r, int(agg["n_moved"]), int(agg["n_communities"]), int(agg["largest"]))
        )
        labels = new
    return spark.createDataFrame(
        rows, "round bigint, n_moved bigint, n_communities bigint, largest bigint"
    ).orderBy("round")


# --------------------------------------------------------------------------
# Weighted single-source shortest path (bounded Bellman-Ford) on the
# nation trade graph — the missing classic in the graph family
# (pagerank / label-propagation / k-core / link-prediction / recursive
# reach all exist). Edges: top-2 trade lanes per source nation (same
# relation as q_recursive_trade_reach), weighted by an integer cost
# inversely proportional to lane revenue — "cheaper to route through
# high-volume lanes". cost_micro = FLOOR(1e12 / rev): rev is the
# exact-decimal revenue sum cast to double (identical in both
# engines), so the integer cost is engine-identical too.
# Scale shape: K iterations of dist ⋈ edges + min-reduce — the
# textbook distributed Bellman-Ford. The dist relation is
# |V| = nation-cardinality rows; every iteration is one small shuffle
# and NOTHING is collected. Costs are pure bigints; ties on cost are
# broken by fewer hops (min(struct(cost, hop)) ≡ the oracle's two-step
# arg-min), so the result is deterministic.
_SSSP_SOURCE = 9
_SSSP_HOPS = 6

_SSSP_EDGES_SQL = """
SELECT sn, cn, CAST(FLOOR(1000000000000.0 / rev) AS BIGINT) AS cost FROM (
  SELECT sn, cn, rev, ROW_NUMBER() OVER (PARTITION BY sn ORDER BY rev DESC, cn) AS rk FROM (
    SELECT s.s_nationkey AS sn, c.c_nationkey AS cn,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS rev
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_nationkey <> c.c_nationkey
    GROUP BY s.s_nationkey, c.c_nationkey) t) r
WHERE rk <= 2
"""


@_q(
    "q_trade_shortest_path",
    f"""
    WITH RECURSIVE edges AS ({_SSSP_EDGES_SQL}),
    walk(nk, cost, hop) AS (
      SELECT CAST({_SSSP_SOURCE} AS INT), CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT CAST(e.cn AS INT), w.cost + e.cost, w.hop + 1
      FROM walk w JOIN edges e ON e.sn = w.nk
      WHERE w.hop < {_SSSP_HOPS}
    ), best AS (
      SELECT nk, MIN(cost) AS min_cost_micro FROM walk GROUP BY nk
    ), best_hop AS (
      SELECT b.nk, b.min_cost_micro, MIN(w.hop) AS hops
      FROM best b JOIN walk w ON w.nk = b.nk AND w.cost = b.min_cost_micro
      GROUP BY b.nk, b.min_cost_micro
    )
    SELECT n.n_name, bh.min_cost_micro, CAST(bh.hops AS BIGINT) AS hops
    FROM best_hop bh JOIN nation n ON n.n_nationkey = bh.nk
    ORDER BY bh.min_cost_micro, n.n_name
    """,
    doc="single-source weighted shortest path (Bellman-Ford, ≤ 6 hops) "
    "over the top-2-lanes-per-nation trade graph with integer "
    "inverse-revenue costs; distributed as K small join+min-reduce "
    "rounds over a |V|-row dist relation, ties broken by hop count",
    tags=("graph",),
)
def q_trade_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    # materialize the edge relation once (≤ 2·|nations| rows); the K
    # relax rounds re-scan these cached rows instead of re-running the
    # 4-way fact join (same rationale as q_recursive_trade_reach).
    edges = (
        spark.sql(_SSSP_EDGES_SQL)
        .withColumnRenamed("cost", "ecost")
        .localCheckpoint(eager=True)
    )
    nation = load_tables(spark, sf_dir)["nation"]
    dist = spark.createDataFrame(
        [(_SSSP_SOURCE, 0, 0)], "nk int, cost bigint, hop int"
    )
    for _ in range(_SSSP_HOPS):
        relaxed = (
            dist.join(edges, dist["nk"] == edges["sn"])
            .select(
                F.col("cn").cast("int").alias("nk"),
                (F.col("cost") + F.col("ecost")).alias("cost"),
                (dist["hop"] + 1).alias("hop"),
            )
        )
        # min-reduce each round keeps dist at |V| rows (true
        # Bellman-Ford, not a path enumeration): lexicographic
        # min(struct(cost, hop)) = min cost, ties → fewer hops.
        dist = (
            dist.unionByName(relaxed)
            .groupBy("nk")
            .agg(F.min(F.struct("cost", "hop")).alias("s"))
            .select("nk", F.col("s.cost").alias("cost"), F.col("s.hop").alias("hop"))
        )
        # Truncate the per-round lineage (optimization round 11,
        # guide §3.3/§5): dist appears TWICE per round (union arm +
        # relax arm), so the lazy chain doubles per hop — the
        # unrolled plan hit 320 Exchanges / 126 SortMergeJoins
        # (plans/r11/q_trade_shortest_path_before.txt) and its
        # planning cost dwarfed the |V| = 25-row data. One eager
        # localCheckpoint per round is a sub-ms job at any scale
        # (dist is |V| rows, the algorithm's own invariant).
        dist = dist.localCheckpoint(eager=True)
    return (
        dist.join(nation, dist["nk"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.col("cost").alias("min_cost_micro"),
            F.col("hop").cast("bigint").alias("hops"),
        )
        .orderBy("min_cost_micro", "n_name")
    )
