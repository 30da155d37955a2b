"""Event-analytics operators over ``events`` (B-12 extension surface).

Product-analytics shapes a resource-event stream needs at warehouse scale:
ordered funnels, cohort retention, time-bucketed rollups (the hypertable
continuous-aggregate shape), sequence pattern matching, and graph degree
distributions. The reference delegates all of this to the destination
database (README.md:221-224); here each is a first-class Spark plan.

Scale notes: every operator below is one-or-two keyed shuffles — funnels
and pattern matches are a single window partition per user (state bounded
by that user's events), retention is a co-partitioned user join, rollups
are partial-aggregated. No self-joins over the fact table, no driver
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cloud2sql_spark.checkpointing import truncate_lineage
from cloud2sql_spark.flags import flag_enabled
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.memo import session_memo, track
from cloud2sql_spark.queries.rounding import (
    ratio_round_oracle,
    ratio_round_spark,
)
from cloud2sql_spark.ntile_scale import (
    approx_ntile_enabled,
    boundary_aggs,
    bucket_score,
)
from cloud2sql_spark.registry import register


@register(
    "events_funnel",
    oracle="""
    WITH staged AS (
      SELECT user_id, event_type, ts, event_id,
             min(CASE WHEN event_type = 'view' THEN ts END) OVER w_prev
                 AS view_before
      FROM events
      WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), clicked AS (
      SELECT *,
             min(CASE WHEN event_type = 'click' AND view_before IS NOT NULL
                      THEN ts END) OVER w_prev AS click_before
      FROM staged
      WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' AND view_before IS NOT NULL
                      THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' AND click_before IS NOT NULL
                      THEN ts END) AS t_purchase
      FROM clicked
      GROUP BY user_id)
    SELECT count(*)          AS n_users,
           count(t_view)     AS users_view,
           count(t_click)    AS users_view_click,
           count(t_purchase) AS users_view_click_purchase
    FROM per_user
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel (view -> click -> purchase): a click counts
    only if a view precedes it in the user's event order, a purchase only
    if such a click precedes it. Single-pass design: running min-of-stage
    timestamps over one (user_id, ts, event_id)-ordered window — Spark
    plans consecutive windows over the same spec as ONE Exchange + Sort
    with stacked Window operators, so the whole funnel is one shuffle; the
    classic per-stage self-join would be three. Event order (ts, event_id)
    breaks timestamp ties deterministically."""
    events = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = events.withColumn(
        "view_before",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w_prev),
    )
    clicked = staged.withColumn(
        "click_before",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("view_before").isNotNull(),
                F.col("ts"),
            )
        ).over(w_prev),
    )
    per_user = clicked.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("view_before").isNotNull(),
                F.col("ts"),
            )
        ).alias("t_click"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("click_before").isNotNull(),
                F.col("ts"),
            )
        ).alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("users_view"),
        F.count("t_click").alias("users_view_click"),
        F.count("t_purchase").alias("users_view_click_purchase"),
    )


@register(
    "events_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS activity_week
      FROM events)
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, a.activity_week) / 7 AS INT)
               AS week_offset,
           count(*) AS n_users
    FROM activity a JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, counted
    in every subsequent week they return. Two aggregations plus one
    user_id-keyed join — both sides arrive hash-partitioned on user_id
    from their own groupBy/distinct, so the join reuses the partitioning
    (no extra Exchange). Offsets are exact-day arithmetic on
    week-truncated dates (always multiples of 7)."""
    events = load_table(spark, sf_dir, "events")
    cohorts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("activity_week")
    ).distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_rollup_time",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(hour(ts) AS INT) AS hr,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY ROLLUP (day, hr)
    """,
)
def events_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (hour within day within grand total) — the
    hypertable continuous-aggregate shape: one scan produces all three
    granularities via partial aggregation (map-side combine shrinks each
    grain before the shuffle). Value sums ride DECIMAL(18,2) so both
    engines add exactly (double accumulation is order-dependent)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.hour("ts").alias("hr"),
            "value",
            "user_id",
        )
        .rollup("day", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "win_pattern_match",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             lag(value, 1) OVER w AS v1,
             lag(value, 2) OVER w AS v2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, value
    FROM seq
    WHERE value > v1 AND v1 > v2
    """,
)
def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence pattern detection (MATCH_RECOGNIZE-lite): flag events that
    complete three strictly-rising values within a user's event order.
    Fixed-lookbehind patterns compile to lag() columns over ONE window
    shuffle — no self-joins, state bounded by the lag depth. Doubles are
    compared, never arithmetically combined, so results are exact."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            "value",
            F.lag("value", 1).over(w).alias("v1"),
            F.lag("value", 2).over(w).alias("v2"),
        )
        .filter((F.col("value") > F.col("v1")) & (F.col("v1") > F.col("v2")))
        .select("user_id", "event_id", "value")
    )


@register(
    "graph_degree",
    oracle="""
    WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    deg AS (SELECT l_partkey, count(*) AS degree FROM edges GROUP BY 1)
    SELECT degree, count(*) AS n_parts
    FROM deg GROUP BY degree
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part--supplier bipartite graph implied
    by lineitem: distinct edges, per-node degree, then the degree
    histogram. Each step is a keyed partial aggregation; the histogram's
    key space is tiny so the final shuffle is negligible. The same plan
    shape powers join-skew diagnosis at 100 TB (find the heavy keys before
    they find you)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select("l_partkey", "l_suppkey").distinct()
    deg = edges.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))


@register(
    "events_path_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions,
           count(DISTINCT user_id) AS n_users
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event paths:
    lead() pairs each event with its successor in (ts, event_id) order,
    then a keyed count per (from, to). One window shuffle on user_id plus
    one bounded aggregation (|event_types|² keys) — the journey-analysis
    shape (Sankey / next-action prediction features) at any scale."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH v AS (SELECT event_id, event_type,
                      CAST(value AS DECIMAL(18,2)) AS v
               FROM events),
    stats AS (SELECT event_type, count(*) AS n,
                     sum(v) AS s1, sum(v * v) AS s2
              FROM v GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           CAST(e.v AS DOUBLE) AS value_2dp,
           round((CAST(e.v AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
                 / sqrt((CAST(s.s2 AS DOUBLE)
                         - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
                        / (s.n - 1)), 4) AS zscore
    FROM v e JOIN stats s USING (event_type)
    WHERE abs((CAST(e.v AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
              / sqrt((CAST(s.s2 AS DOUBLE)
                      - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
                     / (s.n - 1))) > 2
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging: one bounded aggregation
    (|event_types| rows) computes exact DECIMAL Σv and Σv², broadcast back
    onto the stream, and events with |z| > 2 survive. The stats side is a
    5-row broadcast so the fact table never shuffles; z itself is one
    deterministic double expression over exact integers (never the
    engines' order-dependent stddev accumulators). The monitoring shape:
    at 100 TB the stats pass is map-side combined to |types| rows."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_id", "event_type", F.col("value").cast("decimal(18,2)").alias("v")
    )
    stats = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    n = F.col("n")
    z = (F.col("v").cast("double") - F.col("s1").cast("double") / n) / F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / n
        )
        / (n - 1)
    )
    return (
        v.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs("z") > 2)
        .select(
            "event_id",
            "event_type",
            F.col("v").cast("double").alias("value_2dp"),
            F.round("z", 4).alias("zscore"),
        )
    )


@register(
    "events_rolling_dau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    days AS (SELECT DISTINCT d FROM user_days)
    SELECT days.d AS day,
           count(DISTINCT ud.user_id) AS wau
    FROM days JOIN user_days ud
      ON ud.d BETWEEN days.d - 6 AND days.d
    GROUP BY 1
    """,
)
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day. Distinct rolling counts cannot
    be window-summed (users overlap across days), so each (user, day)
    activity row is fanned out to the ≤7 rolling windows it supports
    (F.sequence explode — bounded 7× row growth on the already-deduped
    user-day table, NOT on raw events), then one count-distinct per day.
    Compare the naive day × user_days range join: at 100 TB the fan-out
    join is a keyed equality shuffle, never an inequality nested loop.
    Days with no event in the trailing week window of any active day
    cannot appear — both sides derive days from activity."""
    events = load_table(spark, sf_dir, "events")
    user_days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    days = user_days.select("d").distinct()
    fanned = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day"),
    )
    return (
        fanned.join(days.withColumnRenamed("d", "day"), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@register(
    "events_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
      FROM events),
    marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN prev_ts IS NULL
                       OR ts > prev_ts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM seq),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_idx
      FROM marked)
    SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
           count(*) AS n_events,
           min(ts) AS t_start, max(ts) AS t_end,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, sess_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization with per-user session
    ORDINALS (30-min inactivity gap): lag marks session starts, a running
    sum numbers them, one grouped agg summarizes each session. Both
    window passes share ONE (user_id, ts, event_id) sort spec, so Spark
    plans a single Exchange+Sort with stacked Window operators; the
    grouped agg then shuffles on (user_id, sess_idx). Complementary to
    stream_session (session_window semantics, no ordinals): ordinals are
    what churn/lifecycle models key on ('user's 3rd session'). Gap
    comparison is exact µs interval arithmetic in the NTZ domain —
    timezone-free, identical on both engines."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "ts", "event_id", "value", F.lag("ts").over(w).alias("prev_ts")
    )
    marked = seq.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") > F.expr("prev_ts + INTERVAL 30 MINUTE")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("sess_idx"),
    )
    return sess.groupBy("user_id", "sess_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "events_windowed_distinct",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 1800) * 1800 - 1800 * g AS BIGINT)
               AS window_start,
           count(DISTINCT user_id) AS n_users,
           count(*)                AS n_events
    FROM events, range(2) t(g)
    GROUP BY 1
    """,
)
def events_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users: 1-hour windows sliding every 30
    minutes via F.window — each event lands in exactly two windows, and
    the per-window count(DISTINCT) dedups users inside each. This is the
    batch shape of the streaming sliding-window aggregation
    (stream_sliding) with a hard distinct instead of a count; the oracle
    replays the window assignment arithmetic (start = floor(epoch/slide)
    *slide - k*slide). Shuffle is by window_start after Expand doubles
    rows — at 100 TB prefer the HLL-sketch variant (agg_hll_sketch) when
    approximate distinct suffices."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n_users",
            "n_events",
        )
    )


@register(
    "events_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INT) AS anchor
      FROM days),
    streak AS (
      SELECT user_id, min(d) AS streak_start, max(d) AS streak_end,
             count(*) AS streak_days
      FROM isl GROUP BY user_id, anchor)
    SELECT user_id, streak_start, streak_end, streak_days
    FROM streak WHERE streak_days >= 2
    """,
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user. The
    island anchor is d - row_number() (consecutive days share one
    anchor), so a streak is a plain groupBy over (user, anchor) — the
    whole operator is one user-partitioned window plus one keyed agg
    that reuses the same hash partitioning (single Exchange). State per
    user is its day list, never the fact rows; at 100 TB the distinct
    (user, day) projection shrinks map-side before any shuffle."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("anchor", F.date_sub("d", F.row_number().over(w)))
    return (
        isl.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 2)
        .drop("anchor")
    )


@register(
    "events_attribution",
    oracle="""
    WITH attr AS (
      SELECT event_id, user_id, ts, value, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS attr_click_id
      FROM events)
    SELECT event_id AS purchase_id, user_id,
           round(value, 2) AS value, attr_click_id
    FROM attr WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent strictly-preceding click by the same user (NULL = direct).
    One user-partitioned window with last(..., ignorenulls=True) over a
    1-PRECEDING frame — linear state per user, no self-join against the
    fact table (the naive formulation is a ts-inequality self-join that
    explodes at scale). Ordering ties break on event_id so both engines
    see the same frame."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    return (
        ev.withColumn("attr_click_id", F.last(click_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.round("value", 2).alias("value"),
            "attr_click_id",
        )
    )


@register(
    "events_daily_fill",
    oracle="""
    WITH span AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY user_id),
    cal AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS day
      FROM span),
    act AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2)
    SELECT cal.user_id, cal.day,
           COALESCE(act.n, 0) AS n_events,
           COALESCE(act.v, 0.0) AS day_value
    FROM cal LEFT JOIN act ON cal.user_id = act.user_id AND cal.day = act.day
    """,
)
def events_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: every user gets one row per day between
    their first and last event, zero-filled on inactive days — the shape
    report layers need before moving averages or streak SLAs. The
    calendar comes from sequence()+explode over each user's [min, max]
    span (bounded fan-out, generated map-side), and the activity join is
    keyed on (user_id, day) — both sides hash-partition on the same key,
    so densification costs one join shuffle regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cal = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    act = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # DECIMAL(18,2) sum: exact on the 2-decimal money column at any
        # group size (queries/rounding.py, converted round 12)
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
    )
    return cal.join(act, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("v", F.lit(0.0)).alias("day_value"),
    )


# The hop cap is part of the key's contract: the oracle's recursive walk
# stops at hop < _BFS_MAX_HOP, and the Spark plan unrolls exactly that
# many relaxations.
_BFS_MAX_HOP = 6


@register(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE
    base AS (
      SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS p,
                      's' || CAST(l_suppkey AS VARCHAR) AS s
      FROM lineitem WHERE l_quantity <= 1),
    edges AS (
      SELECT p AS src, s AS dst FROM base
      UNION ALL
      SELECT s AS src, p AS dst FROM base),
    walk(node, hop) AS (
      SELECT 's' || CAST(min(l_suppkey) AS VARCHAR), 0
      FROM lineitem WHERE l_quantity <= 1
      UNION
      SELECT e.dst, w.hop + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hop < {_BFS_MAX_HOP}),
    lev AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
    SELECT hop, count(*) AS n_nodes FROM lev GROUP BY hop
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first levels of the sparse part--supplier bipartite graph
    (edges = (part, supplier) pairs shipped with l_quantity <= 1; ~1.1k
    edges at sf0.01, so the frontier branches instead of saturating in
    two hops), seeded at the smallest supplier and capped at
    _BFS_MAX_HOP hops on both engines.

    One lazy plan of fixed depth, no driver loop: a min-plus relaxation
    unrolled _BFS_MAX_HOP times. ``step`` holds every edge in both
    directions at weight 1 plus a weight-0 self-loop per endpoint, and
    each relaxation is ``reached LEFT JOIN step ON node = src`` followed
    by ``groupBy(node).min(hop + w)``. After k relaxations ``reached``
    holds every node within k hops of the seed at its least hop: the
    weight-1 arcs extend each path by one edge, the self-loops carry
    every node already reached forward unchanged, and the min keeps the
    first arrival -- the same node -> min(hop) the oracle's recursive
    walk groups to. Duplicate edges only repeat candidate rows that the
    min folds away, so the edge list needs no distinct().

    NULL keys follow the oracle's string ids, where 'p' || NULL is NULL.
    A NULL endpoint is a real node that an edge can reach (it is counted
    once, as one NULL group) but that no edge leaves, since NULL = src
    never matches. The left join keeps such a row, and the match flag
    ``src IS NULL`` keeps its own node and adds 0 -- coalesce(dst, node)
    would instead turn a matched arc INTO a NULL node back into its
    source and lose the NULL node. The same row keeps the empty graph's
    NULL seed, so no qualifying lineitem row gives [(0, 1)] like the
    oracle, where an inner join would give no rows. The left join also
    fixes the build side: a left outer join can only build on ``step``,
    so under AQE the small edge list is broadcast once and reused by
    every relaxation, and above the broadcast threshold every join is a
    shuffle join. No broadcast hint, no action, no checkpoint: Spark
    plans the whole search once."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 1)
    # LONG node ids (part pk -> 2*pk, supplier sk -> 2*sk+1; the
    # _pagerank_edges discipline): the output is the per-hop COUNT
    # histogram, so node identity never leaves the operator and every
    # join and group keys on an 8-byte long, not a 'p{pk}'/'s{sk}' string.
    p = (F.col("l_partkey") * 2).cast("long")
    s = (F.col("l_suppkey") * 2 + 1).cast("long")

    def arc(src, dst, w):
        return F.struct(src.alias("src"), dst.alias("dst"), F.lit(w).alias("w"))

    step = li.select(
        F.explode(F.array(arc(p, s, 1), arc(s, p, 1), arc(p, p, 0), arc(s, s, 0)))
        .alias("a")
    ).select("a.*")
    reached = li.agg(
        (F.min("l_suppkey") * 2 + 1).cast("long").alias("node")
    ).withColumn("hop", F.lit(0))
    # the match flag, not coalesce(dst, node): a matched arc may lead TO a
    # NULL node, and an unmatched row keeps its own node at +0
    node = F.when(F.col("src").isNull(), F.col("node")).otherwise(F.col("dst"))
    hop = F.col("hop") + F.coalesce("w", F.lit(0))
    for _ in range(_BFS_MAX_HOP):
        reached = (
            reached.join(step, F.col("node") == F.col("src"), "left")
            .groupBy(node.alias("node"))
            .agg(F.min(hop).alias("hop"))
        )
    return reached.groupBy("hop").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "events_ewma",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events)
    SELECT user_id, event_id,
           round(CAST(
                  coalesce(lag(v, 0) OVER w * 128, 0)
                + coalesce(lag(v, 1) OVER w * 64, 0)
                + coalesce(lag(v, 2) OVER w * 32, 0)
                + coalesce(lag(v, 3) OVER w * 16, 0)
                + coalesce(lag(v, 4) OVER w * 8, 0)
                + coalesce(lag(v, 5) OVER w * 4, 0)
                + coalesce(lag(v, 6) OVER w * 2, 0)
                + coalesce(lag(v, 7) OVER w * 1, 0) AS DOUBLE)
             / ( CASE WHEN lag(v, 0) OVER w IS NULL THEN 0 ELSE 128 END
               + CASE WHEN lag(v, 1) OVER w IS NULL THEN 0 ELSE 64 END
               + CASE WHEN lag(v, 2) OVER w IS NULL THEN 0 ELSE 32 END
               + CASE WHEN lag(v, 3) OVER w IS NULL THEN 0 ELSE 16 END
               + CASE WHEN lag(v, 4) OVER w IS NULL THEN 0 ELSE 8 END
               + CASE WHEN lag(v, 5) OVER w IS NULL THEN 0 ELSE 4 END
               + CASE WHEN lag(v, 6) OVER w IS NULL THEN 0 ELSE 2 END
               + CASE WHEN lag(v, 7) OVER w IS NULL THEN 0 ELSE 1 END),
             6) AS ewma
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded exponentially-weighted moving average (half-life = one
    event, truncated at 8 taps) per user — the smoothing primitive
    monitoring/trend layers apply to noisy event values. EWMA's recursive
    definition does not distribute, but the truncated form is a finite
    geometric kernel: eight lag() taps weighted 128..1 (exact dyadic
    integers against DECIMAL(18,2) values — zero float accumulation until
    one final IEEE division identical on both engines), normalized by the
    weight mass of the taps that actually exist near partition start.
    All eight lags share ONE (user, ts, event_id) window spec, so the
    whole operator is a single Exchange + Sort with per-row O(8) state —
    the same plan at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for d in range(8):
        weight = 1 << (7 - d)
        tap = F.lag("v", d).over(w)
        n_term = F.coalesce(tap * weight, F.lit(0))
        d_term = F.when(tap.isNull(), 0).otherwise(weight)
        num = n_term if num is None else num + n_term
        den = d_term if den is None else den + d_term
    return v.select(
        "user_id",
        "event_id",
        # zero tap mass (a partition-leading run of NULL values) is the
        # oracle's 0/0 -> NULL; under ANSI Spark it would throw, so the
        # division only evaluates when mass exists (r14 NULL-probe)
        F.when(den > 0, F.round(num.cast("double") / den, 6)).alias("ewma"),
    )


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, d): both directions of the distinct part–supplier edge
    list, annotated with the source's degree; memoized per
    (session, sf_dir): the list is scanned once per PageRank superstep
    (plus once for the initial ranks).

    Node ids are LONGS (part pk → 2·pk, supplier sk → 2·sk+1 — the two
    key spaces interleave injectively), not the output's 'p{pk}'/'s{sk}'
    strings: every iteration shuffles and hash-joins on this column, and
    an 8-byte long halves the key bytes of a ~7-char string and hashes/
    compares without allocation (guide §2.3 — narrower shuffle types).
    graph_pagerank renders the contract strings once, after the last
    iteration."""
    return session_memo(
        spark,
        ("pagerank", sf_dir),
        lambda: _pagerank_edge_build(spark, sf_dir),
    )


def _pagerank_edge_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select("l_partkey", "l_suppkey").distinct()
    fwd = e0.select(
        (F.col("l_partkey") * 2).cast("long").alias("src"),
        (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Degree annotation as a window count over the src partitioning
    # (r15, guide §2.4 — share one exchange): the former groupBy +
    # re-join exchanged the edge list twice (once into the aggregate,
    # once into the join) and sorted both join legs; the window needs
    # exactly ONE exchange by src, and its output keeps that
    # partitioning for the iteration joins. Interleaved A/B best-of-4
    # (build + 3 iterations): 2.21 -> 1.79s, ranks identical.
    w = Window.partitionBy("src")
    return edges.withColumn("d", F.count(F.lit(1)).over(w))


@register(
    "graph_pagerank",
    oracle="""
    WITH e0 AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
    edges AS (SELECT 'p' || pk AS src, 's' || sk AS dst FROM e0
              UNION ALL
              SELECT 's' || sk AS src, 'p' || pk AS dst FROM e0),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r FROM deg),
    c1 AS (SELECT e.dst AS node, CAST(sum(r.r // g.d) AS BIGINT) AS c
           FROM edges e JOIN r0 r ON e.src = r.node
           JOIN deg g ON e.src = g.src GROUP BY e.dst),
    r1 AS (SELECT node, 150000000 + (85 * c) // 100 AS r FROM c1),
    c2 AS (SELECT e.dst AS node, CAST(sum(r.r // g.d) AS BIGINT) AS c
           FROM edges e JOIN r1 r ON e.src = r.node
           JOIN deg g ON e.src = g.src GROUP BY e.dst),
    r2 AS (SELECT node, 150000000 + (85 * c) // 100 AS r FROM c2),
    c3 AS (SELECT e.dst AS node, CAST(sum(r.r // g.d) AS BIGINT) AS c
           FROM edges e JOIN r2 r ON e.src = r.node
           JOIN deg g ON e.src = g.src GROUP BY e.dst),
    r3 AS (SELECT node, 150000000 + (85 * c) // 100 AS r FROM c3)
    SELECT node, r AS rank_nano FROM r3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations over the undirected part–supplier
    graph, in fixed-point integer arithmetic.

    Float PageRank is not oracle-checkable: double sums are
    addition-order-dependent, and Spark's partial aggregation order never
    matches DuckDB's. Ranks therefore live in integer nano-units
    (init 10^9 per node; contribution = rank div degree; damping =
    150e6 + (85*contrib) div 100) — every step is exact int64 math, so
    the result is bit-identical regardless of partitioning or engine.
    Headroom: total mass is |V|*10^9, so the 85* multiply stays inside
    int64 up to ~10^8 nodes; shrink the unit for larger graphs.

    Plan shape per iteration: one keyed join (ranks onto the persisted
    degree-annotated edge list) + one keyed aggregate on dst — the
    standard scalable formulation; no driver-side state at any |V|. Three
    static iterations keep lineage shallow (no checkpoint needed); the
    iterative-convergence variant would localCheckpoint per superstep.
    Iterations run on LONG node ids (see _pagerank_edges); the 'p{pk}' /
    's{sk}' output strings render once in the final projection — ranks
    are identical because the id mapping is injective, so the graph (and
    every integer contribution sum) is unchanged."""
    edges_d = _pagerank_edges(spark, sf_dir)
    # Initial ranks read from the SAME cache (groupBy src over edges_d)
    # rather than from deg directly — deg's plan would re-run the whole
    # distinct+union+aggregate chain a second time outside the cache.
    ranks = edges_d.groupBy("src").agg(F.first("d").alias("d")).select(
        F.col("src").alias("node"), F.lit(1000000000).cast("long").alias("r")
    )
    for _ in range(3):
        contrib = (
            edges_d.join(ranks, edges_d.src == ranks.node)
            .select("dst", F.expr("r div d").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(150000000).cast("long") + F.expr("(85 * c) div 100")).alias("r"),
        )
    return ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("p")).otherwise(F.lit("s")),
            F.expr("node div 2").cast("string"),
        ).alias("node"),
        F.col("r").alias("rank_nano"),
    )


@register(
    "events_concurrency_sweep",
    oracle="""
    WITH iv AS (
      SELECT event_id, epoch_us(ts) AS s,
             epoch_us(ts)
             + CAST(round(value * 100, 0) AS BIGINT) * 600000 AS e
      FROM events WHERE value IS NOT NULL),
    b AS (
      SELECT event_id, s AS tus, 1 AS delta FROM iv
      UNION ALL
      SELECT event_id, e AS tus, -1 AS delta FROM iv),
    d AS (SELECT *, tus // 86400000000 AS day FROM b),
    run AS (
      SELECT day, tus, delta,
             sum(delta) OVER (PARTITION BY day
                              ORDER BY tus, delta, event_id) AS running
      FROM d),
    day_tot AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS tot FROM d GROUP BY day),
    carry AS (
      SELECT day,
             CAST(coalesce(sum(tot) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS carry_in
      FROM day_tot)
    SELECT r.day,
           CAST(max(r.running + c.carry_in) AS BIGINT) AS max_concurrent,
           CAST(count(*) AS BIGINT) AS n_boundaries
    FROM run r JOIN carry c USING (day)
    GROUP BY r.day
    """,
)
def events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum concurrent sessions per day via the sweep-line algorithm,
    distributed the two-phase way: each event is an interval [ts,
    ts + value minutes); boundaries become +1/-1 deltas; a per-day
    window computes local running sums, and a tiny per-day total table
    (|days| rows) provides the cross-partition carry — the standard
    trick that turns a globally-ordered prefix sum into one keyed window
    plus one bounded single-partition window, so no day ever sees
    another day's rows. At 100 TB the partition key widens (day →
    day×shard with a second carry level) but the shape is identical.

    Determinism: boundaries order by (tus, delta, event_id) with end
    markers (-1) processed before same-instant starts (end-exclusive
    intervals). Durations quantize through the money contract —
    round(value*100) recovers the exact cent count despite the double
    representation, THEN scales to micros in integer space. A direct
    cast of value*60000000 is NOT portable: the product carries fp error
    (17.31 → 1038599999.9999999) and DuckDB's CAST rounds where Spark's
    cast truncates, so the two engines would disagree by 1µs on ~4% of
    rows."""
    ev = load_table(spark, sf_dir, "events")
    tus = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts)")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # an event with a NULL duration defines no interval: drop it on both
    # engines (r14 NULL-probe class — its end boundary otherwise lands
    # in a NULL day whose carry the engines order differently)
    ev = ev.filter(F.col("value").isNotNull())
    iv = ev.select(
        "event_id",
        tus.alias("s"),
        (tus + cents * 600000).alias("e"),
    )
    b = iv.select("event_id", F.col("s").alias("tus"), F.lit(1).alias("delta")).union(
        iv.select("event_id", F.col("e").alias("tus"), F.lit(-1).alias("delta"))
    )
    d = b.withColumn("day", F.expr("tus div 86400000000"))
    wrun = Window.partitionBy("day").orderBy("tus", "delta", "event_id")
    run = d.withColumn("running", F.sum("delta").over(wrun))
    day_tot = d.groupBy("day").agg(F.sum("delta").alias("tot"))
    wcarry = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(wcarry), F.lit(0)).alias("carry_in")
    )
    return (
        run.join(F.broadcast(carry), "day")
        .groupBy("day")
        .agg(
            F.max(F.col("running") + F.col("carry_in")).alias("max_concurrent"),
            F.count(F.lit(1)).alias("n_boundaries"),
        )
    )


@register(
    "events_ab_lift",
    oracle="""
    WITH p AS (
      SELECT CAST(user_id % 2 = 1 AS INT) AS treat,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    agg AS (
      SELECT CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_c,
             CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_t,
             CAST(sum(CASE WHEN treat = 0 THEN cents * cents ELSE 0 END)
                  AS BIGINT) AS q_c,
             CAST(sum(CASE WHEN treat = 1 THEN cents * cents ELSE 0 END)
                  AS BIGINT) AS q_t
      FROM p),
    m AS (
      SELECT n_c, n_t,
             CAST(s_c AS DOUBLE) / 100.0 / n_c AS mean_c,
             CAST(s_t AS DOUBLE) / 100.0 / n_t AS mean_t,
             (CAST(q_c AS DOUBLE) - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE)
                 / n_c) / (n_c - 1) / 10000.0 AS var_c,
             (CAST(q_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)
                 / n_t) / (n_t - 1) / 10000.0 AS var_t
      FROM agg)
    SELECT n_c, n_t, mean_c, mean_t,
           ((mean_t - mean_c) / mean_c) * 100.0 AS lift_pct,
           (mean_t - mean_c) / sqrt(var_c / n_c + var_t / n_t) AS t_stat
    FROM m
    """,
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: treatment lift and Welch t-statistic on
    purchase value, variants assigned by user_id parity. The full
    analysis is ONE partial-aggregable global aggregate (six conditional
    integer sums — counts, cent sums, squared-cent sums per arm) followed
    by scalar arithmetic on the 1-row result: the ideal 100 TB shape,
    a map-side-combined scan with a 6-integer shuffle payload.

    Determinism: events.value is exact 2-decimal money (FIXTURES.md), so
    cents and cents² are exact BIGINT sums (cents² sums reach ~1e15 at
    sf0.1; a 100 TB run would move q_c/q_t to DECIMAL(38,0)). Every
    derived double (means, Welch variance, t) is computed with IDENTICAL
    association on both engines from identical integers, and sqrt is
    correctly rounded under IEEE 754 — bit-equal results, no rounding
    contract needed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    treat = (F.col("user_id") % 2 == 1).cast("int")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    p = ev.select(treat.alias("treat"), cents.alias("cents"))
    is_c = F.col("treat") == 0
    is_t = F.col("treat") == 1
    agg = p.agg(
        F.sum(F.when(is_c, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(is_c, F.col("cents")).otherwise(0)).cast("bigint").alias("s_c"),
        F.sum(F.when(is_t, F.col("cents")).otherwise(0)).cast("bigint").alias("s_t"),
        F.sum(F.when(is_c, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("q_c"),
        F.sum(F.when(is_t, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("q_t"),
    )
    m = agg.select(
        "n_c",
        "n_t",
        (F.col("s_c").cast("double") / 100.0 / F.col("n_c")).alias("mean_c"),
        (F.col("s_t").cast("double") / 100.0 / F.col("n_t")).alias("mean_t"),
        (
            (
                F.col("q_c").cast("double")
                - F.col("s_c").cast("double")
                * F.col("s_c").cast("double")
                / F.col("n_c")
            )
            / (F.col("n_c") - 1)
            / 10000.0
        ).alias("var_c"),
        (
            (
                F.col("q_t").cast("double")
                - F.col("s_t").cast("double")
                * F.col("s_t").cast("double")
                / F.col("n_t")
            )
            / (F.col("n_t") - 1)
            / 10000.0
        ).alias("var_t"),
    )
    return m.select(
        "n_c",
        "n_t",
        "mean_c",
        "mean_t",
        (((F.col("mean_t") - F.col("mean_c")) / F.col("mean_c")) * 100.0).alias(
            "lift_pct"
        ),
        (
            (F.col("mean_t") - F.col("mean_c"))
            / F.sqrt(F.col("var_c") / F.col("n_c") + F.col("var_t") / F.col("n_t"))
        ).alias("t_stat"),
    )


@register(
    "events_gap_interpolate",
    oracle="""
    WITH act AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             FROM act GROUP BY user_id),
    cal AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS day
      FROM span),
    j AS (
      SELECT cal.user_id, cal.day, act.cents
      FROM cal LEFT JOIN act ON cal.user_id = act.user_id
                            AND cal.day = act.day),
    n AS (
      SELECT user_id, day, cents,
             last_value(cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN cents IS NOT NULL THEN day END
                        IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN cents IS NOT NULL THEN day END
                         IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j)
    SELECT user_id, day,
           CAST(cents IS NOT NULL AS BOOLEAN) AS observed,
           CASE WHEN cents IS NOT NULL THEN cents
                ELSE CAST(floor(pv + ((nv - pv) * date_diff('day', pd, day))
                                * 1.0 / date_diff('day', pd, nd)) AS BIGINT)
           END AS interp_cents
    FROM n
    """,
)
def events_gap_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap interpolation: inactive days between a user's
    first and last activity get LINEARLY interpolated daily totals (the
    metric-repair step before anomaly detection or forecasting —
    events_daily_fill's zero-fill would fabricate cliffs). One calendar
    densification join (the daily_fill shape) plus ONE window partition
    per user carrying all four neighbor columns (prev/next value and
    day, via IGNORE NULLS frames over the same (user, day) sort — Spark
    stacks them on a single Exchange+Sort).

    Determinism: daily totals are exact integer cents; the interpolated
    value is floor(pv + ((nv-pv) * gap_days) * 1.0 / span_days) — every
    factor is a small exact integer, the one division is IEEE-exact on
    identical doubles, and floor of identical doubles is identical (the
    engines' `div` vs `//` disagree on NEGATIVE numerators, so integer
    division is deliberately avoided for the possibly-declining delta).
    The %25 user slice bounds the demo spine; the plan is user-count
    agnostic."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    act = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    span = act.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    j = cal.join(act, ["user_id", "day"], "left")
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    day_if = F.when(F.col("cents").isNotNull(), F.col("day"))
    n = j.select(
        "user_id",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(w_back).alias("pv"),
        F.last(day_if, ignorenulls=True).over(w_back).alias("pd"),
        F.first("cents", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(day_if, ignorenulls=True).over(w_fwd).alias("nd"),
    )
    interp = F.floor(
        F.col("pv")
        + ((F.col("nv") - F.col("pv")) * F.datediff("day", "pd"))
        * 1.0
        / F.datediff("nd", "pd")
    ).cast("bigint")
    return n.select(
        "user_id",
        "day",
        F.col("cents").isNotNull().alias("observed"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(interp)
        .alias("interp_cents"),
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct low-id-oriented part co-purchase edges, memoized per
    (session, sf_dir): the frame feeds all three triangle join legs plus
    the node/edge stats."""
    return session_memo(
        spark,
        ("triangle", sf_dir),
        lambda: _copurchase_edge_build(spark, sf_dir),
    )


def _copurchase_edge_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit cluster-width partitioning end to end: the orderkey hash
    # satisfies the per-order grouping below (subset-of-clustering-keys
    # rule), so the whole build runs at defaultParallelism instead of
    # spark.sql.shuffle.partitions — the vanilla driver session's
    # 200/400-task stages on a ~1M-row edge list were pure scheduling
    # overhead for every graph_* key.
    p = spark.sparkContext.defaultParallelism
    pl = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(p, "l_orderkey")
    )
    # Pair generation in-array instead of the former co-partitioned
    # self-join (r15): collect_set per order reuses the orderkey
    # partitioning (one grouped pass replaces the distinct AND both
    # sorted join legs), and the i<j pairs of the ascending array are
    # exactly the a.pk < b.pk join output. Per-order work stays bounded
    # by C(lines-per-order, 2) — the same combinatorial fan-out the
    # join materialized, now emitted map-side with no sort. Interleaved
    # A/B best-of-4: 1.95 -> 1.39s at sf0.1, edge rows identical.
    grp = pl.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("pks")
    )
    pairs = grp.select(
        F.explode(
            F.flatten(
                F.transform(
                    "pks",
                    lambda x, i: F.transform(
                        F.slice("pks", i + 2, F.size("pks")),
                        lambda y: F.struct(x.alias("u"), y.alias("v")),
                    ),
                )
            )
        ).alias("uv")
    ).select("uv.u", "uv.v")
    return pairs.repartition(p, "u", "v").distinct()


def degree_orient_enabled() -> bool:
    """True when the caller opted into (degree, id) edge orientation."""
    return flag_enabled("SPARK_GRAFT_DEGREE_ORIENT")


def _oriented_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented co-purchase edges, memoized per (session, sf_dir)
    under a key of its own: like its parent, the reoriented frame feeds
    the adjacency build, both join legs, and the node/edge stats, so an
    unpersisted version would recompute the degree aggregate and both
    |V|-row joins per consumer."""
    return session_memo(
        spark,
        ("triangle", sf_dir, "oriented"),
        lambda: _degree_orient(_copurchase_edges(spark, sf_dir)),
    )


def _degree_orient(e: DataFrame) -> DataFrame:
    """Re-orient id-oriented edges by the (degree, id) total order.

    The intersection scheme counts triangle {x, y, z} exactly once — at
    the edge between its two order-smallest vertices — for ANY total
    vertex order, so counts are identical to id-orientation. The point
    of this order is the out-list bound: a vertex's out-neighbors all
    have degree >= its own, so out-degree <= sqrt(2m) for every vertex
    (a vertex with out-degree d has degree >= d, and its d out-neighbors
    each have degree >= d, so d^2 <= sum of degrees = 2m). On skewed
    graphs (celebrity hubs) the hub's edges all point INTO it, keeping
    the collect_list adjacency arrays bounded where id-orientation can
    leave an unlucky low-id hub with an O(n) out-list. Costs one degree
    aggregate plus two |V|-row joins — worth it exactly when the graph
    is large and skewed, hence opt-in.
    """
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    flip = (F.col("du") > F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") > F.col("v"))
    )
    return (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(flip, F.col("v")).otherwise(F.col("u")).alias("u"),
            F.when(flip, F.col("u")).otherwise(F.col("v")).alias("v"),
        )
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
    SELECT CAST((SELECT count(*) FROM (SELECT DISTINCT x FROM
                  (SELECT u AS x FROM e UNION ALL SELECT v FROM e)))
                AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts sharing
    an order are connected) — the canonical clustering-coefficient
    primitive. Edges are oriented low-id -> high-id, so each triangle
    {a<b<c} is counted EXACTLY once — at edge (a, b) via the SORTED
    ADJACENCY intersection |N_out(a) ∩ N_out(b)| (the inline comment
    below documents why this replaced the textbook wedge join). Edge
    generation is bounded per order (C(lines,2) with ~4 lines/order),
    and the edge list is persisted — it feeds the adjacency build and
    both lookup legs. At 100 TB the standard refinement orients edges by
    (degree, id) instead of raw id, bounding out-lists by sqrt(m) for
    skewed graphs — implemented as the opt-in
    ``SPARK_GRAFT_DEGREE_ORIENT=1`` path below: any total vertex order
    counts each triangle exactly once at the edge between its two
    smallest vertices, so the two paths return IDENTICAL rows (pinned by
    tests/test_degree_orient.py on real and crafted-hub fixtures) and
    the oracle checks either. Id-orientation stays the default (one
    fewer shuffle); the oracle's 3-way self-join is the independent
    formulation of the same multiset, so the check is
    algorithm-diverse."""
    e = (
        _oriented_copurchase_edges(spark, sf_dir)
        if degree_orient_enabled()
        else _copurchase_edges(spark, sf_dir)
    )
    # Sorted-adjacency intersection instead of the textbook wedge join:
    # e1⋈e2 on v=u materializes Σ outdeg² wedge rows (measured 49M at
    # sf0.1 for 1.2M edges, avg degree ~120 — 5s of the operator's 7s)
    # before e3 filters them down. Attaching each edge's two out-neighbor
    # arrays and counting |N_out(u) ∩ N_out(v)| visits the same triangles
    # — {a<b<c} exactly once at edge (a,b) with c in both out-sets —
    # but the intermediate stays at |E| rows of bounded arrays. Per-edge
    # work is O(deg) with codegen array_intersect; the join volume is
    # |E| x 2 adjacency lookups, never the wedge explosion.
    # persist (r14): the adjacency frame feeds BOTH join legs, and
    # without it the ObjectHashAggregate collect_list pass ran twice —
    # once under each leg (measured 1.97s -> 0.98s at sf0.1; a
    # shuffle_hash hint on the legs measured SLOWER than letting the
    # persisted side sort-merge, 1.53s, and was not applied).
    adj = track(
        e.groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
        .persist()
    )
    au = adj.select(F.col("u").alias("au"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("av"), F.col("nbrs").alias("nv"))
    tri = (
        e.join(au, e.u == au.au)
        .join(av, e.v == av.av, "left")  # a sink node has no out-list
        .select(
            F.size(
                F.array_intersect(
                    "nu", F.coalesce("nv", F.array().cast("array<bigint>"))
                )
            ).alias("c")
        )
        .agg(F.sum("c").cast("bigint").alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        nodes.join(F.broadcast(edges)).join(F.broadcast(tri)).select(
            "n_nodes", "n_edges", "n_triangles"
        )
    )


@register(
    "events_cuped_adjusted",
    oracle="""
    WITH b AS (
      SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
                 AS mid
      FROM events WHERE event_type = 'purchase'),
    p AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
             CAST(sum(CASE WHEN epoch_us(ts) < b.mid
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= b.mid
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events, b WHERE event_type = 'purchase' GROUP BY user_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM p),
    s AS (SELECT n, CAST(sx AS DOUBLE) / n AS mean_x,
                 (CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1)
                     AS cov_xy,
                 (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)
                     AS var_x,
                 (CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1)
                     AS var_y
          FROM g),
    v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
          FROM p GROUP BY variant)
    SELECT v.variant, v.n_users,
           CAST(syv AS DOUBLE) / n_users AS mean_y_cents,
           CAST(syv AS DOUBLE) / n_users
             - (cov_xy / var_x)
               * (CAST(sxv AS DOUBLE) / n_users - mean_x) AS mean_y_adj_cents,
           cov_xy / var_x AS theta,
           (cov_xy * cov_xy / (var_x * var_y)) * 100.0 AS var_reduction_pct
    FROM v, s
    """,
)
def events_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled pre-experiment data) adjustment — the variance-
    reduction step every experimentation platform applies before the
    t-test: each user's post-period metric is shifted by
    theta * (pre-period metric - its mean), with theta = cov(pre, post)
    / var(pre). Shape: one per-user conditional aggregate (the only
    fact-table shuffle), then a 1-row global moment aggregate and a
    2-row per-variant aggregate joined by broadcast.

    Determinism: all six moments are exact BIGINT sums of integer cents
    (per-user x, y bounded well inside int64 for their squares); theta,
    adjusted means, and the variance-reduction percentage (= rho^2 * 100,
    the analytic identity for optimal theta — computing var(y*) as a
    distributed double sum would be merge-order dependent) derive with
    IDENTICAL association on both engines, so every double is bit-exact
    with no rounding contract."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # pre/post cutoff = midpoint of the observed purchase span, in exact
    # integer microseconds (TZ-free epoch idiom for TIMESTAMP_NTZ) — a
    # fixed calendar date can fall outside a regenerated fixture's span
    # and collapse one period to all-zeros (var = 0, ANSI divide error)
    us = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts)")
    b = ev.agg(
        F.expr(
            "(min(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts))"
            " + max(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts)))"
            " div 2"
        )
        .cast("bigint")
        .alias("mid")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    p = (
        ev.join(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us < F.col("mid"), cents).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(us >= F.col("mid"), cents).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
        .select((F.col("user_id") % 2).cast("int").alias("variant"), "x", "y")
    )
    g = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    s = g.select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mean_x"),
        (
            (
                F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("cov_xy"),
        (
            (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_x"),
        (
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_y"),
    )
    v = p.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sxv"),
        F.sum("y").cast("bigint").alias("syv"),
    )
    theta = F.col("cov_xy") / F.col("var_x")
    mean_y = F.col("syv").cast("double") / F.col("n_users")
    return v.join(F.broadcast(s)).select(
        "variant",
        "n_users",
        mean_y.alias("mean_y_cents"),
        (
            mean_y
            - theta * (F.col("sxv").cast("double") / F.col("n_users") - F.col("mean_x"))
        ).alias("mean_y_adj_cents"),
        theta.alias("theta"),
        (
            F.col("cov_xy") * F.col("cov_xy") / (F.col("var_x") * F.col("var_y"))
            * 100.0
        ).alias("var_reduction_pct"),
    )


@register(
    "events_window_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS t
      FROM events WHERE user_id % 10 = 0),
    u AS (SELECT DISTINCT user_id FROM e),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    l2 AS (SELECT DISTINCT v.user_id
           FROM e v JOIN e c ON c.user_id = v.user_id
           WHERE v.event_type = 'view' AND c.event_type = 'click'
             AND c.t > v.t AND c.t <= v.t + 259200000000),
    l3 AS (SELECT DISTINCT v.user_id
           FROM e v
           JOIN e c ON c.user_id = v.user_id
           JOIN e p ON p.user_id = v.user_id
           WHERE v.event_type = 'view' AND c.event_type = 'click'
             AND p.event_type = 'purchase'
             AND c.t > v.t AND p.t > c.t
             AND p.t <= v.t + 259200000000)
    SELECT u.user_id,
           CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
                WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
                WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
                ELSE 0 END AS funnel_level
    FROM u
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (the windowFunnel of OLAP stores): the
    deepest view -> click -> purchase chain whose WHOLE span fits in a
    3-day window anchored at the view. Unlike events_funnel (unbounded
    order-only), the window constraint makes the naive formulation a
    per-user triple self-join — which is exactly what the ORACLE runs,
    while the Spark plan needs none of it:

    Three stacked RANGE windows (strictly-later frame on epoch micros,
    one user partitioning, one Exchange) compute per event row the next
    purchase time, the next click time, and min-over-later-clicks of
    that click's next-purchase time. Monotonicity of next-purchase makes
    greedy-earliest-click COMPLETE — a chain exists from view v iff
    np(first click after v) fits the window — so max level per user
    falls out of one aggregate over view rows. The oracle's EXISTS
    joins and the window recursion provably agree (strict-> micro
    comparisons on both sides; the %10 user slice bounds the oracle's
    triple join, not the Spark plan)."""
    W = 259_200_000_000  # 3 days in microseconds
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    e = ev.select(
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts)"
        ).alias("t"),
    )
    w_later = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    with_np = e.withColumn(
        "npu",
        F.min(F.when(F.col("event_type") == "purchase", F.col("t"))).over(
            w_later
        ),
    )
    staged = with_np.select(
        "user_id",
        "event_type",
        "t",
        F.min(F.when(F.col("event_type") == "click", F.col("t")))
        .over(w_later)
        .alias("ncw"),
        F.min(F.when(F.col("event_type") == "click", F.col("npu")))
        .over(w_later)
        .alias("npc"),
    )
    view_level = F.when(
        (F.col("event_type") == "view") & (F.col("npc") <= F.col("t") + W), 3
    ).when(
        (F.col("event_type") == "view") & (F.col("ncw") <= F.col("t") + W), 2
    ).when(F.col("event_type") == "view", 1)
    return (
        staged.groupBy("user_id")
        .agg(F.max(view_level).alias("lvl"))
        .select(
            "user_id",
            F.coalesce("lvl", F.lit(0)).cast("int").alias("funnel_level"),
        )
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c),
    med AS (
      SELECT event_type,
             CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
                 AS med_cents,
             CAST(max(n) AS BIGINT) AS n
      FROM r1 GROUP BY event_type),
    dev AS (
      SELECT c.event_id, c.event_type, c.cents,
             abs(c.cents - m.med_cents) AS d, m.med_cents, m.n
      FROM c JOIN med m ON c.event_type = m.event_type),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY d, event_id) AS rn
      FROM dev),
    mad AS (
      SELECT event_type,
             CAST(max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS BIGINT)
                 AS mad_cents
      FROM r2 GROUP BY event_type)
    SELECT d.event_type,
           CAST(max(d.n) AS BIGINT) AS n,
           CAST(max(d.med_cents) AS BIGINT) AS median_cents,
           CAST(max(a.mad_cents) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN d.d * 10000 > a.mad_cents * 51891
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via MEDIAN ABSOLUTE DEVIATION — the
    outlier detector events_anomaly_zscore cannot be: mean/stddev are
    themselves dragged by the outliers they are supposed to flag, while
    the median/MAD pair has a 50% breakdown point. Threshold: robust
    z > 3.5 with the 1.4826 normal-consistency constant, i.e.
    |x - med| > 5.1891 * MAD, evaluated as the EXACT integer
    cross-multiplication dev * 10000 > mad * 51891 — no doubles anywhere
    in the operator. Medians are exact lower medians ((n+1) div 2 of the
    (value, event_id) order, the agg_weighted_percentile rule).

    r14 shape (guide §2.3 + the r12 low-cardinality-window-partition
    audit): the previous form ran BOTH rank windows over the raw fact
    table PARTITION BY event_type — a handful of tasks sorting
    everything at any cluster size, three full-table sort exchanges in
    the plan (the r1 subtree recomputed under dev). Now value mass is
    hash-aggregated per (event_type, cents) FIRST — map-side combined,
    the exchange carries ≤ |cents domain| rows per type (events.value
    is 2-decimal money, so the domain is bounded; the
    agg_weighted_percentile premise) — and each median comes from a
    cumulative-count window over the compacted rows: with nonnegative
    counts, the first value whose cumulative count reaches
    (n+1) div 2 IS the rank-(n+1 div 2) row's value (the event_id
    tie-break only ordered equal-cents rows, which carry the same
    output value). The deviation pass re-aggregates by (type, |x-med|)
    and repeats the selection; anomalies are counted as Σ cnt over
    qualifying deviation rows. Value-identical, and the fact table is
    scanned twice but never window-sorted."""
    ev = load_table(spark, sf_dir, "events")
    # NULL measurements drop before ranking on both engines (r14
    # NULL-probe class: cross-engine NULLS FIRST/LAST rank divergence)
    c = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    vc = c.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wt = Window.partitionBy("event_type")
    cum1 = (
        wt.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r1 = vc.select(
        "event_type",
        "cents",
        F.sum("cnt").over(cum1).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    med = (
        r1.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(
            F.min("cents").cast("bigint").alias("med_cents"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    dev = vc.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("med_cents")).alias("d"),
        "cnt",
        "med_cents",
        "n",
    )
    dc = dev.groupBy("event_type", "d").agg(
        F.sum("cnt").alias("dcnt"), F.max("n").alias("n")
    )
    cum2 = (
        wt.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r2 = dc.select(
        "event_type", "d", F.sum("dcnt").over(cum2).alias("cum"), "n"
    )
    mad = (
        r2.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("d").cast("bigint").alias("mad_cents"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("med_cents").cast("bigint").alias("median_cents"),
            F.max("mad_cents").cast("bigint").alias("mad_cents"),
            F.sum(
                F.when(
                    F.col("d") * 10000 > F.col("mad_cents") * 51891,
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel-round CTE chain — the oracle replays the EXACT
    fixed-round contract, one CTE per round (SQL has no loop; the chain
    is generated, not handwritten)."""
    ctes = [
        """pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM pl a JOIN pl b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    a0 AS (SELECT DISTINCT u FROM und)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
      SELECT und.u FROM und
      JOIN a{i - 1} x ON und.u = x.u
      JOIN a{i - 1} y ON und.v = y.u
      GROUP BY und.u HAVING count(*) >= {k})"""
        )
    stats = "\n    UNION ALL ".join(
        f"""SELECT CAST({i} AS INT) AS round,
           CAST((SELECT count(*) FROM a{i}) AS BIGINT) AS n_alive,
           CAST((SELECT count(*) // 2 FROM und
                 JOIN a{i} x ON und.u = x.u
                 JOIN a{i} y ON und.v = y.u) AS BIGINT) AS n_edges"""
        for i in range(rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + stats


_KCORE_K = 80
_KCORE_ROUNDS = 8


@register("graph_kcore_peel", oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS))
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph by iterative
    peeling: drop every node with fewer than k=80 surviving neighbors,
    recompute induced degrees, repeat. The CONTRACT is a fixed 8 peel
    rounds (converges in ≤6 on every fixture; a production run iterates
    to fixpoint with the same per-round plan), and the output is the
    peel TRACE — (round, n_alive, n_edges) — which stays informative
    even when the core empties (the near-regular co-purchase graph is
    all-or-nothing: sf0.001 collapses to ∅, sf0.01 retains a 1857-node
    core). Scale shape: each round is ONE pass — und ⋈ alive (on v) →
    map-side-combined induced-degree aggregate, with the alive-u
    restriction applied POST-aggregate (r14; valid by peel
    monotonicity — see the loop comment) — lineage-truncated eagerly (see
    cloud2sql_spark.checkpointing for the local-vs-reliable trade) so round r's
    plan references a materialized alive set, never the 3^r-reference
    lineage that hung _min_label_propagate before its extraction. Each
    superstep runs exactly ONE action (r15): the degree checkpoint is
    LAZY and the two-column trace aggregate — a global aggregate, so it
    computes every partition — materializes it as a side effect while
    yielding the round's edge count AND the next round's alive count in
    the same pass (VERDICT r08 item 3 halved the earlier per-round
    action count; VERDICT r14 item 1 halved it again by folding the
    checkpoint job into the trace job).
    The collected values are two bounded scalars per round — trace
    METADATA, the same class as the count() it replaces — and the trace
    itself is returned as a literal frame, so no 9-way union-of-
    aggregates plan re-reads the checkpoints at collect time. Edges
    reuse the persisted _copurchase_edges cache."""
    e = _copurchase_edges(spark, sf_dir)
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # One explicit hash partitioning at cluster width, REUSED every round:
    # und pinned by v once, alive/deg kept at the u-keyed partitioning,
    # and every groupBy/join below satisfies its distribution
    # requirement from these instead of paying
    # spark.sql.shuffle.partitions-wide exchanges (the vanilla-session
    # 400-task stages that made the first cut 3x slower on tiny
    # per-round frames).
    p = spark.sparkContext.defaultParallelism
    # ONE materialized copy of the undirected edges, at the v-keyed
    # partitioning every round's neighbor join consumes (the former
    # second copy keyed by u fed only the per-round u-side join, which
    # r14 moved above the aggregate — see the loop comment)
    # Both start-up checkpoints are LAZY and materialized together by
    # the single count() below: the alive build reads every und_v
    # partition (the repartition-by-u exchange), so the one job persists
    # both block sets — three start-up jobs collapsed to one (r15;
    # interleaved A/B 4.39 -> 3.53s on top of the lazy per-round
    # checkpoint, trace identical).
    # A reliable checkpoint is written only for the first marked RDD a
    # job's lineage walk meets: that count() would write alive's and
    # never und_v's, so every round would recompute und_v from the
    # edges. Under the reliable flag und_v is checkpointed eagerly.
    reliable = flag_enabled("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    und_v = und.repartition(p, "v").transform(
        lambda d: truncate_lineage(d, reliable=reliable, eager=reliable)
    )
    alive = (
        und_v.select("u").repartition(p, "u").distinct()
        .transform(lambda d: truncate_lineage(d, eager=False))
    )
    n_alive = alive.count()
    trace_rows: list[tuple[int, int, int]] = []
    for i in range(_KCORE_ROUNDS + 1):
        au = alive.select(F.col("u").alias("au"))
        av = alive.select(F.col("u").alias("av"))
        # r14 (guide §2.3 — aggregate before the shuffle): count alive
        # NEIGHBORS per source first (one co-partitioned join on v, then
        # a map-side-combined groupBy whose exchange carries ≤|V|
        # partial rows), instead of also inner-joining the |E'|-row
        # frame on u BEFORE aggregating (which exchanged the full edge
        # frame by u every round). deg now carries rows for dead u too,
        # but peeling is monotone — a node peeled at round j has
        # cnt_i ≤ cnt_j < k for every later round i — so cnt >= k
        # implies u ∈ alive_i and alive_{i+1} = deg[cnt >= k] exactly
        # as before. Only the edge-count trace needs the alive-u
        # restriction, applied as a POST-aggregate join on the compact
        # deg frame inside the same scalar aggregate.
        deg = (
            # SHUFFLE_HASH on the alive side (guide §3.1, the LPA
            # discipline): sort-merge would re-sort the checkpointed
            # edge frame every round; hashing the per-partition alive
            # slice probes the edges in place and never broadcasts the
            # node set.
            und_v.join(av.hint("shuffle_hash"), und_v.v == F.col("av"))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # lazy checkpoint (r15, guide §2.6 scheduling overhead): the
            # trace aggregate's first() below is a GLOBAL aggregate, so
            # it computes every deg partition and materializes the
            # checkpoint as a side effect — each superstep now runs ONE
            # job where the eager form ran two (checkpoint, then trace).
            # Interleaved A/B best-of-4: 7.06 -> 4.40s at sf0.1, trace
            # rows identical.
            .transform(lambda d: truncate_lineage(d, eager=False))
        )
        n_edges, n_alive_next = (
            deg.join(au, deg.u == F.col("au"), "left")
            .agg(
                F.coalesce(
                    (
                        F.sum(
                            F.when(F.col("au").isNotNull(), F.col("cnt"))
                        )
                        / 2
                    ).cast("bigint"),
                    F.lit(0).cast("bigint"),
                ).alias("n_edges"),
                F.coalesce(
                    F.sum((F.col("cnt") >= _KCORE_K).cast("bigint")),
                    F.lit(0).cast("bigint"),
                ).alias("n_alive_next"),
            )
            .first()
        )
        trace_rows.append((i, n_alive, n_edges))
        if n_alive_next == n_alive:
            # Peeling is monotone (alive_{i+1} ⊆ alive_i), so an unchanged
            # COUNT means an unchanged SET: deg_{i+1} = deg_i and every
            # remaining round repeats this row — no further supersteps
            # run (a fast-fixpointing fixture cuts 9 checkpoints to ~3).
            trace_rows.extend(
                (j, n_alive, n_edges)
                for j in range(i + 1, _KCORE_ROUNDS + 1)
            )
            break
        n_alive = n_alive_next
        if i < _KCORE_ROUNDS:
            alive = deg.filter(F.col("cnt") >= _KCORE_K).select("u")
    return spark.createDataFrame(
        trace_rows, schema="round int, n_alive bigint, n_edges bigint"
    )


@register(
    "events_survival_table",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id),
    b AS (SELECT max(ts) AS stream_end FROM events),
    lab AS (
      SELECT u.user_id,
             CAST(date_diff('microsecond', u.first_ts, u.last_ts)
                  // 86400000000 AS INT) AS duration_days,
             CASE WHEN date_diff('microsecond', u.last_ts, b.stream_end)
                       >= 7 * 86400000000 THEN 1 ELSE 0 END AS churned
      FROM u, b),
    day AS (
      SELECT duration_days,
             CAST(sum(churned) AS BIGINT) AS n_events,
             CAST(sum(1 - churned) AS BIGINT) AS n_censored
      FROM lab GROUP BY duration_days),
    cum AS (
      SELECT duration_days, n_events, n_censored,
             CAST((SELECT count(*) FROM lab) AS BIGINT)
               - CAST(coalesce(sum(n_events + n_censored) OVER (
                     ORDER BY duration_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS n_risk
      FROM day)
    SELECT duration_days, n_risk, n_events, n_censored FROM cum
    """,
)
def events_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier LIFE TABLE for user retention: per lifetime-day, how
    many users are still at risk, how many churn there, how many are
    right-censored (still active within 7 days of the stream end — the
    data-derived observation cutoff). This is the distributed half of a
    survival analysis: the curve itself is a trivial ordered product
    over these ≤ span-days rows, but the product is float and
    association-ordered, so the CONTRACT stops at the integer table
    (n_risk via a reverse cumulative on the day-aggregated rows — the
    single-partition window sees only bounded day rows, never users).
    Shape: one per-user aggregate (keyed shuffle), a 1-row stream-end
    broadcast, a day aggregate, one bounded window."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    # stream end derives from the per-user aggregate already in hand —
    # no second scan of the fact table
    b = u.agg(F.max("last_ts").alias("stream_end"))
    day_us = 86400000000
    lab = u.join(F.broadcast(b)).select(
        F.expr(
            f"CAST(timestampdiff(MICROSECOND, first_ts, last_ts)"
            f" div {day_us} AS INT)"
        ).alias("duration_days"),
        F.expr(
            f"CASE WHEN timestampdiff(MICROSECOND, last_ts, stream_end)"
            f" >= 7 * {day_us} THEN 1 ELSE 0 END"
        ).alias("churned"),
    )
    day = lab.groupBy("duration_days").agg(
        F.sum("churned").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("churned")).cast("bigint").alias("n_censored"),
    )
    # n_risk IS the reverse cumulative — one window over the bounded
    # day rows, no global total, no cross join
    w = (
        Window.orderBy("duration_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return day.select(
        "duration_days",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w)
        .cast("bigint")
        .alias("n_risk"),
        "n_events",
        "n_censored",
    )


@register(
    "events_bot_regularity",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    g AS (
      SELECT user_id,
             date_diff('microsecond', prev_ts, ts) // 1000000 AS gs
      FROM o WHERE prev_ts IS NOT NULL),
    m AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gs) AS BIGINT) AS sum_sec,
             CAST(sum(gs * gs) AS BIGINT) AS sumsq_sec
      FROM g GROUP BY user_id)
    SELECT user_id, n_gaps, sum_sec, sumsq_sec,
           CAST(4 * (n_gaps * sumsq_sec - sum_sec * sum_sec)
                    < sum_sec * sum_sec AS BOOLEAN) AS is_bot
    FROM m WHERE n_gaps >= 5
    """,
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-event-time REGULARITY: humans are bursty
    (coefficient of variation of gaps near or above 1), schedulers are
    metronomic (CV ≪ 1). The flag CV < 0.5 is evaluated without a
    single double: population CV² = (nΣg²−S²)/S² < ¼  ⇔  4(nΣg²−S²)
    < S², exact in int64 at second resolution (30-day span ⇒
    S ≤ 2.6e6 s, so 4nΣg² ≲ 1e17 even at thousands of gaps/user). One (user, ts) window for the lag, one keyed
    aggregate — the same two-shuffle shape at any user count; gaps use
    the TIMESTAMP_NTZ-safe timestampdiff idiom."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.select("user_id", "ts", "event_id",
                  F.lag("ts").over(w).alias("prev_ts"))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND, prev_ts, ts) div 1000000"
            ).alias("gs"),
        )
    )
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gs").cast("bigint").alias("sum_sec"),
        F.sum(F.col("gs") * F.col("gs")).cast("bigint").alias("sumsq_sec"),
    )
    n, s, s2 = F.col("n_gaps"), F.col("sum_sec"), F.col("sumsq_sec")
    return m.filter(n >= 5).select(
        "user_id", "n_gaps", "sum_sec", "sumsq_sec",
        (4 * (n * s2 - s * s) < s * s).alias("is_bot"),
    )


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM pl a JOIN pl b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
    ed AS (
      SELECT du.d AS da, dv.d AS db
      FROM und
      JOIN deg du ON und.u = du.u
      JOIN deg dv ON und.v = dv.u),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS mm,
             CAST(sum(da) AS BIGINT) AS s1,
             CAST(sum(da * da) AS BIGINT) AS s2,
             CAST(sum(da * db) AS BIGINT) AS s3
      FROM ed)
    SELECT mm AS m_directed,
           (CAST(s3 AS DOUBLE) / CAST(mm AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(mm AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(mm AS DOUBLE)))
           / (CAST(s2 AS DOUBLE) / CAST(mm AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(mm AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(mm AS DOUBLE)))
               AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph — Newman's r,
    the Pearson correlation of endpoint degrees over all DIRECTED edge
    orientations (both directions of each undirected edge, the standard
    symmetrization: S1 ≡ Σda = Σdb and S2 ≡ Σda² = Σdb², so four exact
    integer moments suffice). The agg_ols_two_factor recipe again:
    moments are associative int64 sums, and the correlation assembles
    in IEEE doubles with IDENTICAL association in both engines.

    r14 shape (guide §2.3/§2.4 — the previous form shuffled the full
    2.4M-row directed edge list TWICE, once per degree lookup, through
    sort-merge joins): every moment but S3 is a pure function of the
    degree multiset — each node u is the SOURCE of exactly d(u)
    directed edges, so over directed edges Σ1 = Σ_u d(u),
    Σda = Σ_u d(u)², Σda² = Σ_u d(u)³ — and S3 = Σ_{(u,v)} d(u)·d(v)
    factors through the per-node neighbor-degree sum
    sv(v) = Σ_{u∈N(v)} d(u) as Σ_v d(v)·sv(v). The edge list is
    therefore never exchanged: deg is ONE map-side-combined aggregate
    over the cached edges (the exchange carries ~|V| partial rows, not
    |E|), the d-lookup joins a |V|-row frame onto und (AQE broadcasts
    it at runtime; a 100 TB graph degrades to a shuffled join of
    (node, d) pairs — 16 bytes/row — never the payload), and the sv
    aggregate is again map-side combined down to |V| rows before its
    exchange. Moment products stay far under 2⁶³: deg ≤ a few hundred
    here, and d³·|V| clears int64 up to |V| ≈ 10⁹ at deg 10³. Edges
    reuse the persisted _copurchase_edges cache."""
    e = _copurchase_edges(spark, sf_dir)
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # materialize the |V|-row degree table once (executor-local blocks;
    # three consumers below would otherwise re-aggregate the edge list
    # three times — exchange reuse does not span the broadcast boundary)
    deg = truncate_lineage(
        und.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    # mm/s1/s2 from the degree multiset alone — no edge join at all
    m0 = deg.agg(
        F.sum("d").cast("bigint").alias("mm"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("s1"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).cast("bigint").alias("s2"),
    )
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("da"))
    sv = (
        und.join(du, und.u == F.col("ju"))
        .groupBy("v")
        .agg(F.sum("da").cast("bigint").alias("sv"))
    )
    s3f = (
        sv.join(deg, sv.v == deg.u)
        .agg(F.sum(F.col("sv") * F.col("d")).cast("bigint").alias("s3"))
    )
    m = m0.join(F.broadcast(s3f))
    dmm = F.col("mm").cast("double")
    d1 = F.col("s1").cast("double")
    d2 = F.col("s2").cast("double")
    d3 = F.col("s3").cast("double")
    mean = d1 / dmm
    return m.select(
        F.col("mm").alias("m_directed"),
        ((d3 / dmm - mean * mean) / (d2 / dmm - mean * mean)).alias(
            "assortativity"
        ),
    )


@register(
    "events_forecast_snaive",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE))
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(abs(a.cents - f.cents)) AS BIGINT) AS mae_cents_total,
           CAST(sum(a.cents - f.cents) AS BIGINT) AS bias_cents_total
    FROM daily a
    JOIN daily f ON a.event_type = f.event_type AND a.day = f.day + 7
    GROUP BY a.event_type
    """,
)
def events_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every time-series
    model must beat: tomorrow's per-type daily total is 'whatever it was
    the same weekday last week', scored over every day with a lag-7
    partner. Joining on day = day+7 (not a LAG window) is deliberate:
    calendar gaps must forecast from the true t−7 day, not the 7th
    preceding OBSERVED row. Error totals stay exact integer cents (sum
    of |actual − forecast| and signed bias — per-type MAE is one driver
    division away). Shape: one (type, day) aggregate, one self-join on
    the aggregate's own bounded key space — the fact table shuffles
    once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = daily.select("event_type", "day", F.col("cents").alias("actual"))
    f = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("cents").alias("forecast"),
    )
    return (
        a.join(f, ["event_type", "day"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
            F.sum(F.abs(F.col("actual") - F.col("forecast")))
            .cast("bigint")
            .alias("mae_cents_total"),
            F.sum(F.col("actual") - F.col("forecast"))
            .cast("bigint")
            .alias("bias_cents_total"),
        )
    )


@register(
    "events_hourly_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hh,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY event_type, hour(ts)),
    pk AS (
      SELECT event_type, hh, n, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, hh) AS rnk
      FROM h)
    SELECT event_type, hh AS hour, n, cents,
           CAST(rnk = 1 AS BOOLEAN) AS is_peak_hour
    FROM pk
    """,
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day traffic shape per event type, with the peak hour
    flagged — the capacity-planning profile behind autoscaling
    schedules. One (type, hour) aggregate (≤ 24·|types| rows), one
    bounded window for the argmax with the deterministic (count DESC,
    hour) tie-break; money stays exact integer cents. The fact table
    shuffles once into the 120-row profile regardless of scale."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "hour")
    return h.select(
        "event_type",
        "hour",
        "n",
        "cents",
        (F.row_number().over(w) == 1).alias("is_peak_hour"),
    )


@register(
    "events_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS s,
             date_diff('microsecond', TIMESTAMP '1970-01-01', ts)
                 + 600000000 AS e
      FROM events),
    pm AS (
      SELECT user_id, event_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max_e
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY s, event_id) AS isle
      FROM pm),
    g AS (
      SELECT user_id, isle, min(s) AS st, max(e) AS en
      FROM isl GROUP BY user_id, isle)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(en - st) AS BIGINT) AS covered_us,
           CAST(max(en - st) AS BIGINT) AS longest_us
    FROM g GROUP BY user_id
    """,
)
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge per user — each event opens a 10-minute
    activity interval; touching/overlapping intervals coalesce into
    maximal islands (the session-stitching primitive behind billing
    meters and uptime reports, distinct from stream_session's gap rule:
    intervals have EXTENT, and a long interval can swallow several
    short ones). Classic two-window decomposition: running max(end)
    over the strictly-preceding frame finds island starts (start >
    prev-max-end), a running sum of starts numbers the islands — no
    self-join, no recursion. All three windows and the final aggregate
    cluster on user_id, so the whole operator rides ONE hash exchange;
    time is exact integer epoch-microseconds (NTZ-safe idiom) end to
    end."""
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    us = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts)")
    iv = ev.select(
        "user_id",
        "event_id",
        us.alias("s"),
        (us + F.lit(600_000_000)).alias("e"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("s", "event_id")
    pm = iv.withColumn(
        "prev_max_e",
        F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
    )
    isl = pm.select(
        "user_id",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
                1,
            ).otherwise(0)
        )
        .over(w_ord)
        .alias("isle"),
    )
    g = isl.groupBy("user_id", "isle").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("en") - F.col("st")).cast("bigint").alias("covered_us"),
        F.max(F.col("en") - F.col("st")).cast("bigint").alias("longest_us"),
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH mx AS (
      SELECT max(date_diff('microsecond', TIMESTAMP '1970-01-01', ts))
                 AS gmax
      FROM events),
    u AS (
      SELECT user_id,
             (SELECT gmax FROM mx)
                 - max(date_diff('microsecond', TIMESTAMP '1970-01-01', ts))
                 AS rec_us,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS mon_c
      FROM events GROUP BY user_id),
    s AS (
      SELECT user_id, mon_c,
             ntile(5) OVER (ORDER BY rec_us, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
             ntile(5) OVER (ORDER BY mon_c DESC, user_id) AS m_score
      FROM u)
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(mon_c) AS BIGINT) AS segment_cents
    FROM s GROUP BY r_score, f_score, m_score
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    marketing-analytics workhorse: per-user metrics, ntile(5) on each
    axis, segment rollup. Determinism: every ntile ordering carries a
    user_id tie-break, recency is exact integer microseconds against
    the global max (one broadcast scalar), money is integer cents.
    Scale shape: the fact table collapses to one row per user in a
    map-side-combined aggregate BEFORE any window; the three ntile
    windows then run over |users| rows. The unpartitioned ntile is the
    honest cost of exact global quantiles; SPARK_GRAFT_APPROX_NTILE=1
    switches to the 100 TB path (cloud2sql_spark/ntile_scale.py): one
    distributed percentile_approx sketch aggregate yields all 12 quintile
    boundaries, broadcast back for a map-side range assignment — no
    single-partition sort anywhere. Both paths agree exactly when the
    boundary values are distinct and the sketch is exact
    (tests/test_ntile_scale.py); the exact path stays the oracle-checked
    default."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts)")
    u = ev.groupBy("user_id").agg(
        F.max(us).alias("umax"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("mon_c"),
    )
    gmax = ev.agg(F.max(us).alias("gmax"))
    u = u.join(F.broadcast(gmax)).withColumn(
        "rec_us", F.col("gmax") - F.col("umax")
    )
    if approx_ntile_enabled():
        # DESC axes (freq, mon_c) negate the sort key so one helper
        # serves both directions; all three sketches ride ONE aggregate.
        # Persisted because it feeds BOTH the boundary aggregate (under
        # the broadcast exchange) and the scoring join probe — exchange
        # reuse does not fire across a broadcast boundary, so without
        # the cache the per-user aggregation of events runs twice. The
        # frame is |users| rows; computed once per call on a path meant
        # for one-shot scale runs, Spark's LRU eviction bounds residue.
        ax = u.select(
            "user_id",
            "mon_c",
            F.col("rec_us").alias("kr"),
            (-F.col("freq")).alias("kf"),
            (-F.col("mon_c")).alias("km"),
        ).persist()
        b = ax.agg(
            *boundary_aggs(
                {"br": F.col("kr"), "bf": F.col("kf"), "bm": F.col("km")}, 5
            )
        )
        # DESC axes pass nulls_last: the exact windows sort NULLS LAST
        # (freq can't be NULL, but mon_c can when every value is NULL),
        # landing NULL keys in bucket 5, not 1. The ASC recency axis
        # keeps the NULLS FIRST -> bucket 1 default, matching its
        # exact window.
        s = ax.join(F.broadcast(b)).select(
            "mon_c",
            bucket_score(F.col("kr"), F.col("br")).alias("r_score"),
            bucket_score(
                F.col("kf"), F.col("bf"), n=5, nulls_last=True
            ).alias("f_score"),
            bucket_score(
                F.col("km"), F.col("bm"), n=5, nulls_last=True
            ).alias("m_score"),
        )
    else:
        s = u.select(
            "user_id",
            "mon_c",
            F.ntile(5)
            .over(Window.orderBy("rec_us", "user_id"))
            .alias("r_score"),
            F.ntile(5)
            .over(Window.orderBy(F.col("freq").desc(), "user_id"))
            .alias("f_score"),
            F.ntile(5)
            .over(Window.orderBy(F.col("mon_c").desc(), "user_id"))
            .alias("m_score"),
        )
    return s.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("mon_c").cast("bigint").alias("segment_cents"),
    )


@register(
    "events_markov_next_state",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    t AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS row_total FROM t
      GROUP BY event_type)
    SELECT t.event_type AS cur_type, t.next_type, t.n, tot.row_total,
           {ratio_round_oracle("t.n", "tot.row_total", 6)} AS p
    FROM t JOIN tot ON t.event_type = tot.event_type
    """,
)
def events_markov_next_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — P(next event type | current), the building block of
    next-action prediction and journey simulation. One (user, time)
    window produces the lagged pairs, one map-side-combined count per
    (cur, next) cell (≤ |types|² rows), and the row-normalizer joins
    back as a broadcast. Probabilities round through exact integer
    arithmetic (queries/rounding.py): n/row_total is an exact rational
    that can land on a 6th-decimal half boundary where the engines'
    round() disagree; counts are exact. The fact-table shuffle is the
    single user_id window — transition cells are tiny at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = t.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        t.join(F.broadcast(tot), "event_type")
        .select(
            F.col("event_type").alias("cur_type"),
            "next_type",
            "n",
            "row_total",
            F.expr(ratio_round_spark("n", "row_total", 6)).alias("p"),
        )
    )


def _lpa_oracle(rounds: int, mod: int) -> str:
    """Unrolled synchronous label-propagation CTE chain (one MATERIALIZED
    CTE per round — DuckDB inlines plain chained CTEs, which goes
    exponential when round i references round i-1 twice)."""
    ctes = [
        f"""pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM pl a JOIN pl b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    l0 AS MATERIALIZED (
      SELECT node, CASE WHEN node % {mod} = 0 THEN node END AS label
      FROM (SELECT DISTINCT u AS node FROM und))"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""c{i} AS (
      SELECT und.u AS node, l.label AS nl, count(*) AS c
      FROM und JOIN l{i - 1} l ON und.v = l.node
      WHERE l.label IS NOT NULL GROUP BY und.u, l.label),
    p{i} AS (
      SELECT node, nl,
             row_number() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rk
      FROM c{i}),
    l{i} AS MATERIALIZED (
      SELECT b.node,
             CASE WHEN b.node % {mod} = 0 THEN b.node
                  ELSE coalesce(p.nl, b.label) END AS label
      FROM l{i - 1} b
      LEFT JOIN (SELECT node, nl FROM p{i} WHERE rk = 1) p
        ON b.node = p.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{rounds} GROUP BY label"""
    )


_LPA_ROUNDS = 3
_LPA_SEED_MOD = 7


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(_LPA_ROUNDS, _LPA_SEED_MOD),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the part co-purchase graph
    — seed nodes (id % 7 == 0) carry their own id as a community label;
    every other node adopts, each synchronous round, the MAJORITY label
    among its labeled neighbors (ties to the smallest label — the same
    deterministic argmax row_number idiom as the oracle), keeping its
    previous label when no neighbor is labeled; seeds stay clamped.
    The CONTRACT is a fixed 3 rounds (a production run iterates to
    quiescence with the identical per-round plan); output is the label
    histogram, the community-size profile. Unlike dedup_cluster_cc's
    min-id connected components, majority voting is frontier-free —
    every node recomputes every round — which is exactly the Pregel
    shape: one neighbor join + one (node, label) count + one argmax
    window per superstep, each round's result lineage-truncated
    (cloud2sql_spark.checkpointing: executor-local by default, reliable
    checkpoint() on a cluster) so round r never replays rounds < r.
    Edges reuse the persisted _copurchase_edges cache; every shuffle
    runs at the pinned defaultParallelism width."""
    p = spark.sparkContext.defaultParallelism
    e = _copurchase_edges(spark, sf_dir)
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(p, "v")
        .transform(truncate_lineage)
    )
    seed = F.col("node") % _LPA_SEED_MOD == 0
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.when(seed, F.col("node")).alias("label"))
        .repartition(p, "node")
        .transform(truncate_lineage)
    )
    for _r in range(_LPA_ROUNDS):
        nbr = (
            # SHUFFLE_HASH on the label side (guide §3.1): the planner's
            # sort-merge join re-SORTED the materialized edge frame every
            # round; hashing the per-partition label slice probes the
            # edges in place (no sort, no edge exchange — und keeps its
            # checkpointed v-partitioning) and stays cluster-safe at any
            # |V| — the build side is one partition's labels, never a
            # broadcast of the node set (measured -30%/round at sf0.1).
            und.join(
                labels.filter(F.col("label").isNotNull())
                .select(F.col("node").alias("v"), F.col("label").alias("nl"))
                .hint("shuffle_hash"),
                "v",
            )
            .groupBy(F.col("u").alias("node"), "nl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(count) with min-label ties as ONE aggregate:
        # max(struct(c, -nl)) orders by count then by -label, so the
        # winner is (max count, min label) — the same row the oracle's
        # row_number(ORDER BY c DESC, nl) picks, without the per-round
        # sort + window pass (labels are positive part keys, so -nl is
        # a safe total order).
        pick = (
            nbr.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("nl")).alias("neg"))).alias("top"))
            .select("node", (-F.col("top.neg")).alias("win_nl"))
        )
        labels = (
            labels.join(pick, "node", "left")
            .select(
                "node",
                F.when(seed, F.col("node"))
                .otherwise(F.coalesce(F.col("win_nl"), F.col("label")))
                .alias("label"),
            )
        )
        # Checkpoint between rounds only (r15): the LAST round's labels
        # feed nothing but the final histogram, so materializing them
        # was a full extra pass — the histogram aggregate now consumes
        # the one-round-deep plan directly (its leaves are the round-2
        # checkpoint and the und blocks; lineage stays bounded). A
        # zero-checkpoint variant (all 3 rounds lazy) was measured
        # SLOWER (best 4.36s vs 3.23s, worst 11.1s — the optimizer
        # replans the nested 3-round join tree per action) and was not
        # taken. Interleaved A/B best-of-4: 6.00 -> 3.23s, rows
        # identical.
        if _r < _LPA_ROUNDS - 1:
            labels = labels.repartition(p, "node").transform(
                truncate_lineage
            )
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
