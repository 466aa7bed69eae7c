"""Product-analytics query family: ordered funnels, cohort retention,
and market-basket co-occurrence.

Beyond-parity coverage (the reference has no event analytics; SURVEY
§2.5 notes the absence of window/sessionization semantics). These are
the standard large-scale clickstream shapes: each is ONE shuffle on its
natural key with map-side partial aggregation, no self-join fan-out
beyond per-group bounds.

Determinism: outputs are counts/integers only — identical across
engines with no float policy needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.hashing import md5_long_sql
from .registry import QuerySpec, checkpoint_release, register, sql_trunc6, trunc6


def _q(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags))
        return fn

    return deco


# --------------------------------------------------------------------------
# ordered funnel view → click → purchase. The min-timestamp funnel:
# one conditional-min aggregation per user (single shuffle on user_id,
# partials map-side), then a driver-sized conditional count. NULL
# stage timestamps propagate through the comparison to "not converted"
# identically in both engines.
@_q(
    "q_funnel_conversion",
    """
    WITH m AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(t_view) AS n_view,
           SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS n_view_then_click,
           SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS n_full_funnel
    FROM m
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    m = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    stage2 = F.col("t_click") > F.col("t_view")
    stage3 = stage2 & (F.col("t_purchase") > F.col("t_click"))
    return m.agg(
        F.count("t_view").alias("n_view"),
        F.sum(F.when(stage2, 1).otherwise(0)).alias("n_view_then_click"),
        F.sum(F.when(stage3, 1).otherwise(0)).alias("n_full_funnel"),
    )


# --------------------------------------------------------------------------
# weekly cohort retention: users bucketed by first-event week, counted
# per (cohort_week, week_offset). Two shuffles total — the first-event
# agg on user_id and the cohort/offset count — both keyed small.
# Weeks are integer day-arithmetic from a fixed epoch date (NOT
# date_trunc('week'), whose week-start convention is engine-dependent).
@_q(
    "q_weekly_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(FLOOR(DATE_DIFF('day', DATE '2024-01-01', CAST(MIN(ts) AS DATE)) / 7)
                  AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(FLOOR(DATE_DIFF('day', DATE '2024-01-01', CAST(e.ts AS DATE)) / 7)
                AS BIGINT) - cohort_week AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_week, week_offset
    """,
)
def q_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    week = lambda c: F.floor(F.datediff(F.to_date(c), F.lit("2024-01-01")) / 7).cast("bigint")  # noqa: E731
    firsts = e.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    return (
        # no broadcast hint: firsts is per-user (grows with the data) —
        # the sort-merge/shuffled-hash join co-partitions on user_id and
        # reuses that partitioning; AQE may still broadcast when small
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (week(F.col("ts")) - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def _epoch_day(c) -> F.Column:
    return F.floor(F.unix_timestamp(c) / 86400).cast("bigint")


# --------------------------------------------------------------------------
# new-vs-returning daily active users + cumulative acquisition curve.
# Two shuffles: the per-user first-day agg and the per-day distinct
# count; the per-day relations that meet in the left join and the
# cumulative window are calendar-sized (driver-small at any data scale),
# so the single-partition window over days is safe even at 100 TB of
# events. Day buckets are integer epoch-day arithmetic (engine-neutral).
@_q(
    "q_new_vs_returning",
    """
    WITH d AS (
      SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day, user_id FROM events
    ), act AS (
      SELECT day, COUNT(DISTINCT user_id) AS active_users FROM d GROUP BY day
    ), f AS (
      SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id
    ), nw AS (
      SELECT first_day AS day, COUNT(*) AS new_users FROM f GROUP BY first_day
    )
    SELECT a.day, a.active_users,
           COALESCE(n.new_users, 0) AS new_users,
           a.active_users - COALESCE(n.new_users, 0) AS returning_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (
             ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_users
    FROM act a LEFT JOIN nw n USING (day)
    ORDER BY a.day
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    d = e.select(_epoch_day(F.col("ts")).alias("day"), "user_id")
    act = d.groupBy("day").agg(F.countDistinct("user_id").alias("active_users"))
    nw = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        act.join(nw, "day", "left")
        .withColumn("new_users", F.coalesce(F.col("new_users"), F.lit(0)))
        .select(
            "day",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users")).alias("returning_users"),
            F.sum("new_users").over(w).alias("cum_users"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# rolling median order value per customer — an aggregate used as a
# window function over a sliding ROWS frame (percentile/median over
# the trailing 6 orders). One shuffle on o_custkey; the frame is
# bounded, so per-row cost is O(frame) regardless of data scale.
# Prices go through FLOOR(x*100) integer cents so interpolated medians
# are exact dyadic doubles (.0/.5) in both engines.
@_q(
    "q_rolling_median_price",
    """
    SELECT o_custkey, o_orderkey,
           MEDIAN(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS med_cents
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_rolling_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-5, 0)
    )
    return (
        o.withColumn("price_cents", F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr("percentile(price_cents, 0.5)").over(w).alias("med_cents"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# market-basket co-occurrence: part pairs appearing in the same order.
# DISTINCT (order, part) first so the pair fan-out is bounded by order
# width (~items/order choose 2), then a per-order self-join — the
# standard co-occurrence plan whose cost is Σ w² over orders, NOT a
# cross join. At 100 TB the distinct + join co-partition on l_orderkey
# (one shuffle, AQE handles skewed mega-orders).
@_q(
    "q_part_cooccurrence",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY pa, pb
    HAVING COUNT(*) >= 2
    ORDER BY n_orders DESC, pa, pb
    LIMIT 25
    """,
)
def q_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-shuffle formulation: collect_set dedups parts within each
    # order (replacing the DISTINCT exchange), then i<j pairs are
    # expanded JVM-side with array HOFs (sorted array → slice beyond i)
    # — no self-join. The oracle SQL's distinct+self-join is the same
    # relation; this plan just fuses dedup and pairing into the one
    # groupBy(l_orderkey) shuffle. Pair fan-out stays bounded by order
    # width exactly as the join version.
    li = load_tables(spark, sf_dir)["lineitem"]
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return (
        parts.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), "pa", "pb")
        .limit(25)
    )


# --------------------------------------------------------------------------
# per-user modal event type: exact mode in one count-aggregation plus a
# max(struct) argmax — two shuffles total (user_id+type, then user_id),
# both with map-side partials; no window sort. Tie-break: larger count,
# then lexicographically-LAST event type — max(struct(cnt, type)) gives
# exactly that total order, and the oracle's row_number(ORDER BY n DESC,
# event_type DESC) is the same order expressed independently.
@_q(
    "q_modal_event_type",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type DESC) AS rk
      FROM c
    )
    SELECT user_id, event_type AS modal_type, n AS n_events
    FROM r WHERE rk = 1 ORDER BY user_id
    """,
    doc="Exact per-group mode via max(struct) argmax — no window sort.",
)
def q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        cnt.groupBy("user_id")
        .agg(F.max(F.struct(F.col("n"), F.col("event_type"))).alias("m"))
        .select(
            "user_id",
            F.col("m.event_type").alias("modal_type"),
            F.col("m.n").alias("n_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Behavioral trajectory similarity search — top-k most similar users
# by event-TRANSITION profile (the clickstream cousin of document
# similarity; cf. the distributed trajectory top-k literature, e.g.
# REPOSE ICDE'21 — reference-point blocking ≙ our shared-transition
# join). Each user's trajectory is reduced to a sparse
# transition-count vector ("view>click": 3, ...); similarity is
# cosine via a sparse inner-product join on the transition key — only
# users sharing a transition type ever meet, and a probe panel bounds
# the pair space (probes × sharers, never users²).
# Scale: transitions from one lag window per user (single shuffle);
# the inner-product join is transition-keyed (alphabet-bounded
# buckets); per-probe top-3 via rank filter. Cosine numerators/norms
# are INTEGER counts — ordering is exact, output is hash-proof.
# CAVEAT — q_trajectory_knn's panel is a 10% FRACTION of users, so its
# pair mass grows ~quadratically with data (measured 9.2× wall at 10×
# data, SCALE.md); kept for the small-panel audit shape.
# q_trajectory_knn_panel below is the production parameterization: a
# FIXED-size hash-ranked user panel → linear in the corpus.
_TRAJ_PANEL_N = 32


def _trajectory_sql(panel_clause: str) -> str:
    return f"""
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), tr AS (
      SELECT user_id, prev_type || '>' || event_type AS tkey, COUNT(*) AS cnt
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY user_id, tkey
    ), nrm AS (
      SELECT user_id, CAST(SUM(cnt * cnt) AS BIGINT) AS nn FROM tr GROUP BY user_id
    ), p AS (
      {panel_clause}
    ), num AS (
      SELECT p.pid, t.user_id AS cid, CAST(SUM(p.pcnt * t.cnt) AS BIGINT) AS num
      FROM p JOIN tr t ON t.tkey = p.tkey AND t.user_id <> p.pid
      GROUP BY p.pid, t.user_id
    ), scored AS (
      SELECT n.pid, n.cid, n.num, na.nn AS na, nb.nn AS nb
      FROM num n JOIN nrm na ON na.user_id = n.pid
                 JOIN nrm nb ON nb.user_id = n.cid
    ), top AS (
      SELECT pid, cid, num, na, nb FROM (
        SELECT pid, cid, num, na, nb,
               ROW_NUMBER() OVER (PARTITION BY pid ORDER BY
                 CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                   / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) DESC, cid) AS rk
        FROM scored)
      WHERE rk <= 3
    )
    SELECT pid, cid, num, na, nb,
           {sql_trunc6('CAST(num AS DOUBLE) / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))')} AS cos
    FROM top
    ORDER BY pid, cos DESC, cid
    """


def _trajectory_knn_lazy(spark: SparkSession, sf_dir: str, fixed_panel: bool):
    """Shared trajectory-kNN pipeline; returns (result, tr) so callers
    can release the transition-relation cache once the tiny output is
    materialized. ``fixed_panel`` picks the constant-size hash-ranked
    probe panel (linear scale shape) over the 10%-of-users fraction."""
    from pyspark.sql.window import Window

    from ..functions.hashing import md5_long

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            "user_id",
            F.concat_ws(">", F.col("prev_type"), F.col("event_type")).alias("tkey"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # feeds norms, probe panel, and the inner-product join
    tr = tr.persist()
    nrm = tr.groupBy("user_id").agg(F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("nn"))
    if fixed_panel:
        # constant-size panel: _TRAJ_PANEL_N users with the smallest
        # md5(user_id) (ties by id) — Spark picks them with a
        # TakeOrderedAndProject over the per-user distinct set, then a
        # broadcast semi-join pulls their transition rows.
        pids = (
            tr.select("user_id")
            .distinct()
            .orderBy(md5_long(F.col("user_id").cast("string")), "user_id")
            .limit(_TRAJ_PANEL_N)
        )
        p = tr.join(F.broadcast(pids), "user_id").select(
            F.col("user_id").alias("pid"), "tkey", F.col("cnt").alias("pcnt")
        )
    else:
        p = tr.filter(F.col("user_id") % 10 == 0).select(
            F.col("user_id").alias("pid"), "tkey", F.col("cnt").alias("pcnt")
        )
    num = (
        tr.join(F.broadcast(p), ["tkey"])
        .filter(F.col("user_id") != F.col("pid"))
        .groupBy("pid", F.col("user_id").alias("cid"))
        .agg(F.sum(F.col("pcnt") * F.col("cnt")).cast("bigint").alias("num"))
    )
    scored = (
        num.join(nrm.select(F.col("user_id").alias("pid"), F.col("nn").alias("na")), "pid")
        .join(nrm.select(F.col("user_id").alias("cid"), F.col("nn").alias("nb")), "cid")
    )
    rank_key = (
        F.col("num").cast("double") * F.col("num").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    wr = Window.partitionBy("pid").orderBy(rank_key.desc(), "cid")
    top = scored.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") <= 3)
    cos = F.col("num").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    out = (
        top.select(
            "pid",
            "cid",
            "num",
            "na",
            "nb",
            trunc6(cos).alias("cos"),
        )
        .orderBy("pid", F.col("cos").desc(), "cid")
    )
    return out, tr


@_q(
    "q_trajectory_knn",
    _trajectory_sql(
        "SELECT user_id AS pid, tkey, cnt AS pcnt FROM tr WHERE user_id % 10 = 0"
    ),
    doc="top-3 behaviorally-similar users per probe: sparse cosine over "
    "event-transition count vectors, transition-keyed inner-product join",
    tags=("analytics",),
)
def q_trajectory_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, tr = _trajectory_knn_lazy(spark, sf_dir, fixed_panel=False)
    # output is probes×3 rows — eager-materialize, release the corpus cache
    return checkpoint_release(out, [tr])


@_q(
    "q_trajectory_knn_panel",
    _trajectory_sql(
        f"""SELECT t.user_id AS pid, t.tkey, t.cnt AS pcnt
      FROM tr t JOIN (
        SELECT user_id FROM (SELECT DISTINCT user_id FROM tr)
        ORDER BY {md5_long_sql("CAST(user_id AS VARCHAR)")}, user_id
        LIMIT {_TRAJ_PANEL_N}
      ) pids ON pids.user_id = t.user_id"""
    ),
    doc=f"trajectory kNN, fixed {_TRAJ_PANEL_N}-user hash-ranked probe panel "
    "(constant probe count at any corpus size — the linear-scale shape)",
    tags=("analytics",),
)
def q_trajectory_knn_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, tr = _trajectory_knn_lazy(spark, sf_dir, fixed_panel=True)
    return checkpoint_release(out, [tr])


# --------------------------------------------------------------------------
# Kaplan-Meier time-to-first-error — right-censored survival analysis
# (the estimator behind every correct "time-to-X" dashboard): per user,
# hours from first activity to first 'error' event, administratively
# censored at a 72 h observation horizon (33 of 150 users here — the
# rows naive averaging silently drops, which is the classic bias KM
# exists to fix). S(t) = Π_{t'≤t} (1 − d_t'/n_t') via EXP of a
# cumulative LN sum over the ~48 distinct event hours; at-risk counts
# from margins (total − prior exits), no per-user window. The curve is
# reported as LOG-survival: each LN term is the same IEEE double in
# both engines and the windowed sum adds them in the same order, so
# the output is hash-exact — whereas EXP of that sum differs in the
# final ULP across libms and lands exactly on 6-decimal boundaries
# here (0.30 vs 0.299999…, measured); S(t) = exp(log_survival).
# Scale: one user-keyed aggregate, one duration-keyed count, a
# duration-cardinality cumulative window (hour-bounded, not
# data-bounded).
_KM_HORIZON_H = 72


@_q(
    "q_km_time_to_error",
    f"""
    WITH life0 AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(MIN(CASE WHEN event_type = 'error' THEN ts END)) / 3600000000)
               - FLOOR(epoch_us(MIN(ts)) / 3600000000) AS BIGINT) AS h
      FROM events GROUP BY user_id
    ), life AS (
      SELECT CASE WHEN h IS NOT NULL AND h < {_KM_HORIZON_H} THEN h ELSE {_KM_HORIZON_H} END AS t,
             CASE WHEN h IS NOT NULL AND h < {_KM_HORIZON_H} THEN 1 ELSE 0 END AS observed
      FROM life0
    ), per_t AS (
      SELECT t,
             CAST(SUM(observed) AS BIGINT) AS d,
             CAST(SUM(1 - observed) AS BIGINT) AS c
      FROM life GROUP BY t
    ), risk AS (
      SELECT t, d, c,
             CAST((SELECT COUNT(*) FROM life)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM per_t
    )
    SELECT t, n_risk, d, c,
           {sql_trunc6('SUM(CASE WHEN d > 0 THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END) OVER (ORDER BY t)')} AS log_survival
    FROM risk ORDER BY t
    """,
    doc="Kaplan-Meier time-to-first-error with 72h administrative "
    "censoring; survival via cumulative LN sums over event hours",
    tags=("analytics", "timeseries"),
)
def q_km_time_to_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"]
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    life0 = ev.groupBy("user_id").agg(
        (
            F.floor(
                us(F.min(F.when(F.col("event_type") == "error", F.col("ts"))))
                / 3_600_000_000
            )
            - F.floor(us(F.min("ts")) / 3_600_000_000)
        )
        .cast("bigint")
        .alias("h")
    )
    hz = F.lit(_KM_HORIZON_H)
    obs = F.col("h").isNotNull() & (F.col("h") < hz)
    life = life0.select(
        F.when(obs, F.col("h")).otherwise(hz).alias("t"),
        obs.cast("int").alias("observed"),
    )
    n_users = life.agg(F.count(F.lit(1)).alias("n_users"))
    per_t = life.groupBy("t").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("observed")).cast("bigint").alias("c"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_t.crossJoin(F.broadcast(n_users)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    wcum = Window.orderBy("t")
    logsurv = F.sum(
        F.when(
            F.col("d") > 0,
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(wcum)
    return risk.select(
        "t",
        "n_risk",
        "d",
        "c",
        trunc6(logsurv).alias("log_survival"),
    ).orderBy("t")


# --------------------------------------------------------------------------
# Item-based collaborative filtering — the classic Amazon item-item
# recommender (Linden et al., IEEE Internet Computing '03): cosine-
# normalized co-purchase similarity sim(a,b) = n_ab / √(n_a·n_b),
# top-3 recommendations for each of the 25 highest-degree items.
# Shares the single-shuffle pairing layout with q_part_cooccurrence
# (collect_set per order, array-HOF i<j expansion — no self-join);
# degrees come from the same deduped relation; the per-item top-k is a
# rank filter over the symmetrized pair list.
# Scale: pair mass bounded by Σ order-width² (basket-bounded, never
# items²); degree table broadcasts; probe selection is TakeOrdered.
@_q(
    "q_itemcf_topk",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), deg AS (
      SELECT l_partkey, COUNT(*) AS n FROM op GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb
    ), sym AS (
      SELECT pa AS item, pb AS other, n_ab FROM pairs
      UNION ALL
      SELECT pb AS item, pa AS other, n_ab FROM pairs
    ), probes AS (
      SELECT l_partkey AS item FROM (
        SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY n DESC, l_partkey) AS rn FROM deg)
      WHERE rn <= 25
    ), scored AS (
      SELECT s.item, s.other, s.n_ab,
             CAST(s.n_ab AS DOUBLE) / SQRT(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE)) AS sim
      FROM sym s JOIN probes p ON p.item = s.item
                 JOIN deg da ON da.l_partkey = s.item
                 JOIN deg db ON db.l_partkey = s.other
    )
    SELECT item, rk, other, n_ab, {sql_trunc6('sim')} AS sim
    FROM (
      SELECT item, other, n_ab, sim,
             ROW_NUMBER() OVER (PARTITION BY item ORDER BY sim DESC, other) AS rk
      FROM scored)
    WHERE rk <= 3
    ORDER BY item, rk
    """,
    doc="item-item CF (Linden et al. '03): cosine-normalized co-purchase "
    "similarity, top-3 recs for the 25 highest-degree items",
    tags=("analytics",),
)
def q_itemcf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_tables(spark, sf_dir)["lineitem"]
    op = li.select("l_orderkey", "l_partkey").distinct()
    deg = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    # single-shuffle pairing (see q_part_cooccurrence)
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
    pairs = (
        parts.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sym = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("other"), "n_ab"
    ).unionByName(
        pairs.select(F.col("pb").alias("item"), F.col("pa").alias("other"), "n_ab")
    )
    probes = (
        deg.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("n").desc(), "l_partkey"))
        )
        .filter(F.col("rn") <= 25)
        .select(F.col("l_partkey").alias("item"))
    )
    scored = (
        sym.join(F.broadcast(probes), "item")
        .join(
            deg.select(F.col("l_partkey").alias("item"), F.col("n").alias("na")),
            "item",
        )
        .join(
            deg.select(F.col("l_partkey").alias("other"), F.col("n").alias("nb")),
            "other",
        )
        .select(
            "item",
            "other",
            "n_ab",
            (
                F.col("n_ab").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("sim"),
        )
    )
    wr = Window.partitionBy("item").orderBy(F.col("sim").desc(), "other")
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select("item", "rk", "other", "n_ab", trunc6(F.col("sim")).alias("sim"))
        .orderBy("item", "rk")
    )


# --------------------------------------------------------------------------
# Markov next-event prediction backtest — the first-order behavioral
# baseline every sequence model is compared against: train a
# transition matrix on the FIRST HALF of each user's history (argmax
# next-type per current type, deterministic count+lexical tie-break),
# then score top-1 accuracy on the second half's transitions. The
# split is per-user positional (windowed median rank) so train/test
# never overlap in time within a user.
# Scale: transitions from one lag window per user; the model is
# alphabet²-sized (broadcast); scoring is a map-side lookup join; the
# accuracy rollup is per-predicted-type cardinality.
@_q(
    "q_markov_next_event",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), tr AS (
      SELECT prev_type, event_type, rn * 2 <= n AS is_train
      FROM seq WHERE prev_type IS NOT NULL
    ), model AS (
      SELECT prev_type, event_type AS pred, cnt FROM (
        SELECT prev_type, event_type, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY prev_type
                                  ORDER BY COUNT(*) DESC, event_type) AS rk
        FROM tr WHERE is_train GROUP BY prev_type, event_type)
      WHERE rk = 1
    )
    SELECT m.prev_type, m.pred, CAST(m.cnt AS BIGINT) AS train_count,
           COUNT(*) AS n_test,
           CAST(SUM(CASE WHEN t.event_type = m.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM tr t JOIN model m ON m.prev_type = t.prev_type
    WHERE NOT t.is_train
    GROUP BY m.prev_type, m.pred, m.cnt
    ORDER BY m.prev_type
    """,
    doc="first-order Markov next-event baseline: argmax transition model "
    "on each user's first half, top-1 accuracy backtest on the second",
    tags=("analytics",),
)
def q_markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
    )
    tr = seq.filter(F.col("prev_type").isNotNull()).select(
        "prev_type", "event_type", (F.col("rn") * 2 <= F.col("n")).alias("is_train")
    )
    wm = Window.partitionBy("prev_type").orderBy(F.col("cnt").desc(), "event_type")
    model = (
        tr.filter("is_train")
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("prev_type", F.col("event_type").alias("pred"), "cnt")
    )
    return (
        tr.filter(~F.col("is_train"))
        .join(F.broadcast(model), "prev_type")
        .groupBy("prev_type", "pred", "cnt")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("event_type") == F.col("pred")).cast("int"))
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "prev_type",
            "pred",
            F.col("cnt").cast("bigint").alias("train_count"),
            "n_test",
            "n_correct",
        )
        .orderBy("prev_type")
    )


# --------------------------------------------------------------------------
# Bradley-Terry pairwise-preference ranking — the aggregation model
# behind preference/RLHF reward data and every "which variant wins"
# leaderboard (Bradley & Terry '52; MM algorithm per Hunter '04):
# matchups are brand-vs-brand within an order (decided by the larger
# quantity), and the MM fixed point p_i = w_i / Σ_j n_ij/(p_i+p_j)
# is iterated 6 rounds from p=1. Altitude: the corpus-mass work is
# ONE distributed matchup aggregate (fact join + order-keyed pair
# explode → 300 (brand,brand) rows); the 25-team solve then runs as
# tiny engine-side rounds off a re-literalized 300-row matchup table
# (the _lr_fit pattern — collect only the constant-size relation,
# keep all arithmetic in the engine). Cross-engine determinism: the
# per-round denominator sums go through the floor(v·1e6)-BIGINT grid
# (order-free; the round-6 IRLS convention — bound: total matchups
# < ~9.2e12 before the bigint sum saturates, document at scale), and
# every double expression is written with identical operation order.
_BT_ROUNDS = 6


def _bt_oracle() -> str:
    rounds = []
    for r in range(1, _BT_ROUNDS + 1):
        rounds.append(f"""
    , t{r} AS MATERIALIZED (
      SELECT m.ba AS brand, CAST(m.n AS DOUBLE) / (pa.p + pb.p) AS term
      FROM m JOIN r{r-1} pa ON pa.brand = m.ba JOIN r{r-1} pb ON pb.brand = m.bb
      UNION ALL
      SELECT m.bb, CAST(m.n AS DOUBLE) / (pa.p + pb.p)
      FROM m JOIN r{r-1} pa ON pa.brand = m.ba JOIN r{r-1} pb ON pb.brand = m.bb
    ), d{r} AS MATERIALIZED (
      SELECT brand,
             CAST(SUM(CAST(FLOOR(term * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS denom
      FROM t{r} GROUP BY brand
    ), r{r} AS MATERIALIZED (
      SELECT w.brand,
             CASE WHEN w.w = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(w.w AS DOUBLE) / d.denom END AS p
      FROM w JOIN d{r} d ON d.brand = w.brand
    )""")
    return f"""
    WITH li AS (
      SELECT l_orderkey, p_brand, l_quantity
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), mu AS MATERIALIZED (
      SELECT a.p_brand AS ba, b.p_brand AS bb,
             CASE WHEN a.l_quantity > b.l_quantity THEN 1 ELSE 0 END AS win_a
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      WHERE a.l_quantity <> b.l_quantity
    ), m AS MATERIALIZED (
      SELECT ba, bb, COUNT(*) AS n, CAST(SUM(win_a) AS BIGINT) AS wa
      FROM mu GROUP BY ba, bb
    ), w AS MATERIALIZED (
      SELECT brand, CAST(SUM(wins) AS BIGINT) AS w, CAST(SUM(n) AS BIGINT) AS n_match
      FROM (
        SELECT ba AS brand, wa AS wins, n FROM m
        UNION ALL
        SELECT bb, n - wa, n FROM m
      ) GROUP BY brand
    ), r0 AS (
      SELECT brand, CAST(1 AS DOUBLE) AS p FROM w
    ){''.join(rounds)}
    SELECT w.brand AS brand, w.n_match AS n_matches, w.w AS n_wins,
           {sql_trunc6(f'r{_BT_ROUNDS}.p')} AS bt_score
    FROM w JOIN r{_BT_ROUNDS} ON r{_BT_ROUNDS}.brand = w.brand
    ORDER BY brand
    """


@_q(
    "q_bradley_terry",
    _bt_oracle(),
    doc="Bradley-Terry preference ranking (Hunter '04 MM, 6 rounds): "
    "brand-vs-brand matchups within orders decided by quantity; "
    "distributed matchup aggregate + constant-size engine-side solve",
    tags=("analytics",),
)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey", "l_quantity")
        .join(
            # part is SF-scaled — no forced broadcast, AQE decides
            t["part"].select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand", "l_quantity")
    )
    a, b = li.alias("a"), li.alias("b")
    mu = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .filter(F.col("a.l_quantity") != F.col("b.l_quantity"))
        .select(
            F.col("a.p_brand").alias("ba"),
            F.col("b.p_brand").alias("bb"),
            (F.col("a.l_quantity") > F.col("b.l_quantity")).cast("int").alias("win_a"),
        )
    )
    m_rows = (
        mu.groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("win_a").cast("bigint").alias("wa"))
        .collect()
    )
    # The distributed work ends with the 300-row matchup aggregate; the
    # 25-team MM solve runs driver-side on the collected relation (the
    # A10 "correct altitude" precedent — constant-size math never earns
    # a Spark job, and the 12 tiny round jobs were the query's dominant
    # wall cost). Python doubles are the same IEEE binary64 with the
    # same operation order the engine would use, and the denominator
    # floor-grid sums are exact integers — the duckdb hash gate holds
    # bit-for-bit (verified unchanged after this rewrite).
    import math

    m = {(r["ba"], r["bb"]): (int(r["n"]), int(r["wa"])) for r in m_rows}
    wins: dict = {}
    nm: dict = {}
    for (ba, bb), (n, wa) in m.items():
        wins[ba] = wins.get(ba, 0) + wa
        wins[bb] = wins.get(bb, 0) + (n - wa)
        nm[ba] = nm.get(ba, 0) + n
        nm[bb] = nm.get(bb, 0) + n
    p = {b: 1.0 for b in wins}
    for _ in range(_BT_ROUNDS):
        terms = {b: 0 for b in wins}
        for (ba, bb), (n, _wa) in m.items():
            q = math.floor(n / (p[ba] + p[bb]) * 1000000.0)
            terms[ba] += q
            terms[bb] += q
        p = {
            b: (0.0 if wins[b] == 0 else wins[b] / (terms[b] / 1000000.0))
            for b in wins
        }
    rows = [
        (b, nm[b], wins[b], math.floor(p[b] * 1000000.0) / 1000000.0)
        for b in sorted(wins)
    ]
    return spark.createDataFrame(
        rows, "brand string, n_matches bigint, n_wins bigint, bt_score double"
    ).orderBy("brand")
