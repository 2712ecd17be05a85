"""Windowed event-analytics queries over the events table: tumbling and
sliding windows, sessions, funnels, cohort retention, transitions,
hourly anomalies and HyperLogLog distinct users, each checked against
its SQL oracle.

Timestamps are compared in epoch MICROSECONDS (bigint) throughout:
events.parquet stores TIMESTAMP(NANOS); both engines truncate ns -> us
identically, and integer epochs dodge timezone/precision hashing hazards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.sources import load_table

QUERIES = {}
ORACLES = {}

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "events-window-tumbling",
    """
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600
             AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS value_sum
    FROM events
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def events_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window aggregation per event type, via Spark's
    native window() operator (the streaming-compatible form)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
        .orderBy("window_start", "event_type")
    )


@_register(
    "events-window-sliding",
    """
    WITH offsets AS (SELECT unnest([0, 1]) AS k),
    assigned AS (
      SELECT ((epoch_us(CAST(e.ts AS TIMESTAMP)) - k.k * 1800000000)
               // 3600000000) * 3600 + k.k * 1800 AS window_start,
             e.event_type, e.value
      FROM events e CROSS JOIN offsets k
    )
    SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 4) AS value_sum
    FROM assigned
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def events_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event lands in exactly
    two windows); the oracle assigns both windows arithmetically."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
        .orderBy("window_start", "event_type")
    )


@_register(
    "events-sessionize",
    f"""
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sessions AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           round(sum(value), 4) AS value_sum,
           min(us) AS start_us, max(us) AS end_us
    FROM sessions
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user (gaps-and-islands). The
    streaming twin uses session_window() — same session boundaries."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
        )
        .orderBy("user_id", "session_no")
    )


@_register(
    "events-funnel",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), flagged AS (
      SELECT user_id, event_type, us,
        min(CASE WHEN event_type = 'click' THEN us END)
          OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS fc_so_far
      FROM e
    ), viewed AS (
      SELECT user_id, event_type, us, fc_so_far,
        min(CASE WHEN event_type = 'view' AND fc_so_far IS NOT NULL
                 THEN us END)
          OVER (PARTITION BY user_id ORDER BY us, event_type
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS fv_so_far
      FROM flagged
    ), per_user AS (
      SELECT user_id,
        max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s1,
        max(CASE WHEN event_type = 'view'
                  AND fc_so_far IS NOT NULL THEN 1 ELSE 0 END) AS s2,
        max(CASE WHEN event_type = 'purchase'
                  AND fv_so_far IS NOT NULL THEN 1 ELSE 0 END) AS s3
      FROM viewed GROUP BY user_id
    )
    SELECT stage, stage_name, n_users FROM (
      SELECT 1 AS stage, 'click' AS stage_name,
             CAST(sum(s1) AS BIGINT) AS n_users FROM per_user
      UNION ALL
      SELECT 2, 'view_after_click', CAST(sum(s2) AS BIGINT) FROM per_user
      UNION ALL
      SELECT 3, 'purchase_after_view', CAST(sum(s3) AS BIGINT)
      FROM per_user
    ) ORDER BY stage
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (click -> view after it -> purchase
    after that) per user, reported as per-stage user counts — the
    product-analytics sequence query.

    Scale: ONE scan and ONE user_id shuffle — ordered-sequence
    membership is computed with running-min window flags over each
    user's timeline (the same flags-over-one-stream trick as
    corpus-curation), then the per-user and global aggregates reuse the
    window's partitioning. The naive per-stage formulation self-joins
    events once per funnel stage. Window frames are explicit ROWS
    with a total (us, tiebreak) order so both engines resolve
    equal-timestamp rows identically."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w1 = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = e.select(
        "user_id",
        "event_type",
        "us",
        F.min(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).over(w1).alias("fc_so_far"),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("us", "event_type")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    viewed = flagged.select(
        "user_id",
        "event_type",
        F.min(
            F.when(
                (F.col("event_type") == "view")
                & F.col("fc_so_far").isNotNull(),
                F.col("us"),
            )
        ).over(w2).alias("fv_so_far"),
        "fc_so_far",
    )
    mx = lambda c: F.max(F.when(c, 1).otherwise(0))  # noqa: E731
    per_user = viewed.groupBy("user_id").agg(
        mx(F.col("event_type") == "click").alias("s1"),
        mx(
            (F.col("event_type") == "view")
            & F.col("fc_so_far").isNotNull()
        ).alias("s2"),
        mx(
            (F.col("event_type") == "purchase")
            & F.col("fv_so_far").isNotNull()
        ).alias("s3"),
    )
    stages = [("s1", 1, "click"), ("s2", 2, "view_after_click"),
              ("s3", 3, "purchase_after_view")]
    outs = [
        per_user.agg(F.sum(col).cast("long").alias("n_users")).select(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_users",
        )
        for col, stage, name in stages
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("stage")


_WEEK_US = 7 * 24 * 3600 * 1_000_000

@_register(
    "events-cohort-retention",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), firsts AS (
      SELECT user_id, us,
             min(us) OVER (PARTITION BY user_id) AS first_us
      FROM e
    ), weeks AS (
      SELECT DISTINCT user_id,
             first_us // {_WEEK_US} AS cohort_week,
             us // {_WEEK_US} - first_us // {_WEEK_US} AS week_k
      FROM firsts
    )
    SELECT CAST(cohort_week * 604800 AS BIGINT) AS cohort_week_start_s,
           CAST(week_k AS INTEGER) AS week_k,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM weeks GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week
    (epoch-aligned), counted as active in each subsequent week offset —
    the classic product-retention triangle. All integer week
    arithmetic (epoch microseconds DIV week), so the oracle matches
    bit-for-bit.

    Scale: one window (or agg) on user_id for first-seen, a distinct on
    (user, cohort, k) that partial-aggregates, then the small matrix
    agg; the events stream shuffles once on user_id."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    firsts = e.select(
        "user_id",
        "us",
        F.min("us").over(W.partitionBy("user_id")).alias("first_us"),
    )
    weeks = firsts.select(
        "user_id",
        F.expr(f"first_us DIV {_WEEK_US}").alias("cohort_week"),
        F.expr(
            f"us DIV {_WEEK_US} - first_us DIV {_WEEK_US}"
        ).alias("week_k"),
    ).distinct()
    return (
        weeks.groupBy("cohort_week", "week_k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))
        .select(
            (F.col("cohort_week") * 604800)
            .cast("long")
            .alias("cohort_week_start_s"),
            F.col("week_k").cast("int").alias("week_k"),
            "n_active_users",
        )
        .orderBy("cohort_week_start_s", "week_k")
    )


@_register(
    "events-transitions",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS prev_type
      FROM e
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE) / CAST(sum(count(*))
             OVER (PARTITION BY prev_type) AS DOUBLE) AS p_next
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov edges)
    with empirical next-step probabilities — the path-analysis query
    behind 'what do users do after X'.

    Scale: one scan, one user_id shuffle for the lag window, then a
    partial-aggregated count over at most |types|^2 = 25 groups; the
    probability normalization is a window over that tiny aggregate, not
    over the events. p_next is an exact IEEE division of two counts, so
    it hashes identically cross-engine."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias(
            "p_next"
        ),
    ).orderBy("prev_type", "next_type")


@_register(
    "events-hourly-anomaly",
    """
    WITH hc AS (
      SELECT event_type,
             (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS hour_no,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), st AS (
      SELECT event_type, hour_no, n_events,
             count(*) OVER w AS n_hours,
             sum(n_events) OVER w AS total
      FROM hc WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_type, hour_no, n_events,
           CAST(n_events * n_hours AS DOUBLE) / total AS load_ratio
    FROM st
    WHERE n_events * n_hours * 2 >= total * 3
    ORDER BY event_type, hour_no
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-hour detection: hours whose event count is >= 1.5x that
    type's average hourly count. The threshold compares INTEGERS
    (n * n_hours * 2 >= total * 3) so the cut is bit-exact in both
    engines, and load_ratio is a single int/int IEEE division — no
    stddev (engines disagree on summation algorithms), no rounding.

    Scale: one partial-aggregated groupBy on (type, hour), then a
    window over event_type whose partitions are hour-count-sized
    (thousands of rows), never event-sized."""
    e = load_table(spark, sf_dir, "events")
    # integer `div`, not float division + cast: a double quotient can
    # round up across an hour boundary before truncation
    hc = (
        e.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hour_no"),
        )
        .groupBy("event_type", "hour_no")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    wp = Window.partitionBy("event_type")
    st = hc.select(
        "event_type",
        "hour_no",
        "n_events",
        F.count(F.lit(1)).over(wp).alias("n_hours"),
        F.sum("n_events").over(wp).alias("total"),
    )
    return (
        st.filter(
            F.col("n_events") * F.col("n_hours") * 2 >= F.col("total") * 3
        )
        .select(
            "event_type",
            "hour_no",
            "n_events",
            (
                (F.col("n_events") * F.col("n_hours")).cast("double")
                / F.col("total")
            ).alias("load_ratio"),
        )
        .orderBy("event_type", "hour_no")
    )


def _hll_users_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_THRESHOLDS,
        hll_numerator,
    )

    ladder = " + ".join(f"CAST(v < {t} AS INT)" for t in HLL_THRESHOLDS)
    return f"""
    WITH hh AS (
      SELECT event_type,
             user_id % 1000000007 AS h1,
             user_id % 999999937 AS h2
      FROM events
    ),
    r1 AS (
      SELECT event_type,
             (h1 * h1 + 48271 * h1 + h2) % 1000000007 AS g1,
             (h2 * h2 + 69621 * h2 + h1) % 999999937 AS g2
      FROM hh
    ),
    hu AS (
      SELECT event_type,
             (g1 * g1 + 48271 * g1 + g2) % 1000000007 * 999999937
             + (g2 * g2 + 69621 * g2 + g1) % 999999937 AS u
      FROM r1
    ),
    rv AS (
      SELECT event_type, u % {HLL_M} AS reg, u // {HLL_M} AS v FROM hu
    ),
    rh AS (
      SELECT event_type, reg, max(1 + {ladder}) AS rho
      FROM rv GROUP BY event_type, reg
    ),
    ag AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_regs,
             sum(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - rho)) AS s
      FROM rh GROUP BY event_type
    ),
    xc AS (
      SELECT event_type, CAST(count(DISTINCT u) AS BIGINT) AS n_distinct
      FROM hu GROUP BY event_type
    )
    SELECT ag.event_type AS "group", n_distinct, n_regs,
           CAST({HLL_M} - n_regs AS BIGINT) AS n_zero,
           {hll_numerator():.17e}
             / CAST(s + ({HLL_M} - n_regs)
                        * (CAST(1 AS BIGINT) << {HLL_RHO_CAP})
                    AS DOUBLE) AS n_est
    FROM ag JOIN xc ON ag.event_type = xc.event_type
    ORDER BY "group"
    """


@_register("events-distinct-users-hll", _hll_users_oracle())
def events_distinct_users_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct users per event type, HyperLogLog-estimated over
    INTEGER keys (operators/sketch.py int_residue_hash -> the same
    scramble/register path the text sketches use), with the exact
    distinct count as the verifier. This is the sketch tier on the
    events stream: per-type register tables are 64 small ints,
    maintained incrementally by hll_merge with per-register max
    — the shape of 'daily active users at 100 TB of events' — and
    every output value is bit-exact cross-engine."""
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_distinct,
        int_residue_hash,
    )

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(
        ev, "event_type", F.col("user_id"), hasher=int_residue_hash
    ).orderBy("group")


_ROLL_W = 24  # trailing window, hours


def _rolling_hll_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_THRESHOLDS,
        hll_numerator,
    )

    ladder = " + ".join(f"CAST(v < {t} AS INT)" for t in HLL_THRESHOLDS)
    return f"""
    WITH base AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
             user_id
      FROM events
    ),
    hh AS (
      SELECT hour, user_id % 1000000007 AS h1, user_id % 999999937 AS h2
      FROM base
    ),
    r1 AS (
      SELECT hour,
             (h1 * h1 + 48271 * h1 + h2) % 1000000007 AS g1,
             (h2 * h2 + 69621 * h2 + h1) % 999999937 AS g2
      FROM hh
    ),
    hu AS (
      SELECT hour,
             (g1 * g1 + 48271 * g1 + g2) % 1000000007 * 999999937
             + (g2 * g2 + 69621 * g2 + g1) % 999999937 AS u
      FROM r1
    ),
    rv AS (SELECT hour, u % {HLL_M} AS reg, u // {HLL_M} AS v FROM hu),
    rh AS (
      SELECT hour, reg, max(1 + {ladder}) AS rho
      FROM rv GROUP BY hour, reg
    ),
    cov AS (
      SELECT unnest(generate_series(hour, hour + {_ROLL_W - 1})) AS h,
             reg, rho
      FROM rh
    ),
    rolled AS (SELECT h, reg, max(rho) AS rho FROM cov GROUP BY h, reg),
    ag AS (
      SELECT h, CAST(count(*) AS BIGINT) AS n_regs,
             sum(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - rho)) AS s
      FROM rolled GROUP BY h
    ),
    pu AS (SELECT DISTINCT hour, u FROM hu),
    pcov AS (
      SELECT unnest(generate_series(hour, hour + {_ROLL_W - 1})) AS h, u
      FROM pu
    ),
    xc AS (
      SELECT h, CAST(count(DISTINCT u) AS BIGINT) AS n_distinct
      FROM pcov GROUP BY h
    ),
    obs AS (SELECT DISTINCT hour AS h FROM base)
    SELECT o.h AS hour, n_distinct,
           n_regs, CAST({HLL_M} - n_regs AS BIGINT) AS n_zero,
           {hll_numerator():.17e}
             / CAST(s + ({HLL_M} - n_regs)
                        * (CAST(1 AS BIGINT) << {HLL_RHO_CAP})
                    AS DOUBLE) AS n_est
    FROM obs o JOIN ag ON ag.h = o.h JOIN xc ON xc.h = o.h
    ORDER BY hour
    """


@_register("events-rolling-distinct-hll", _rolling_hll_oracle())
def events_rolling_distinct_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 24-hour distinct users per hour — THE query exact
    count-distinct cannot window (distinct doesn't decompose over
    sliding frames; recomputing per frame is O(hours * window)), and
    HLL registers can: each hour's 64-int register table is EXPANDED
    to the window hours it covers and per-register max re-merged —
    linear in hours, state = hours x 64 small ints, identical math to
    merging daily sketches into weekly/monthly actives at 100 TB. The
    exact trailing distinct rides along as the verifier (computed by
    the same expansion over distinct points); every value bit-exact
    cross-engine."""
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
        int_residue_hash,
        kmv_points,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr("unix_micros(ts) div 3600000000").alias("hour"), "user_id"
    )
    regs = hll_registers(
        base, "hour", F.col("user_id"), hasher=int_residue_hash
    )
    cov = regs.withColumn(
        "h",
        F.explode(
            F.sequence(F.col("group"), F.col("group") + F.lit(_ROLL_W - 1))
        ),
    )
    rolled = cov.groupBy(F.col("h").alias("group"), "reg").agg(
        F.max("rho").alias("rho")
    )
    est = hll_estimate_from_registers(rolled)
    pts = kmv_points(base, "hour", F.col("user_id"), hasher=int_residue_hash)
    pcov = pts.withColumn(
        "h",
        F.explode(
            F.sequence(F.col("group"), F.col("group") + F.lit(_ROLL_W - 1))
        ),
    )
    exact = pcov.groupBy(F.col("h").alias("group")).agg(
        F.countDistinct("u").alias("n_distinct")
    )
    obs = base.select(F.col("hour").alias("group")).distinct()
    return (
        obs.join(exact, "group")
        .join(est, "group")
        .select(
            F.col("group").alias("hour"),
            "n_distinct",
            "n_regs",
            "n_zero",
            "n_est",
        )
        .orderBy("hour")
    )
