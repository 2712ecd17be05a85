"""As-of and range join queries over events, oracle-checked against
DuckDB's native ASOF JOIN and a plain inequality join respectively —
the engine's composed implementations must reproduce the canonical
semantics exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.temporal import (
    as_of_join,
    range_join_bucketed,
)
from data_engineering_pipeline_spark.sources import load_table

QUERIES = {}
ORACLES = {}

RANGE_DELTA_US = 5 * 60 * 1_000_000  # 5 minutes
ATTRIB_HORIZON_US = 30 * 60 * 1_000_000  # 30-minute attribution window


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "events-asof-purchase",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), p AS (
      SELECT user_id, us AS purchase_us, value AS purchase_value
      FROM e WHERE event_type = 'purchase'
    )
    SELECT e.event_id, e.user_id, e.us,
           p.purchase_us, p.purchase_value
    FROM e ASOF LEFT JOIN p
      ON e.user_id = p.user_id AND e.us >= p.purchase_us
    ORDER BY event_id
    """,
)
def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the same user's most recent purchase at or
    before it (as-of join). Implemented union+window (one shuffle);
    the oracle uses DuckDB's native ASOF JOIN."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("us"),
            F.col("us").alias("purchase_us"),
            F.col("value").alias("purchase_value"),
        )
    )
    left = e.select("event_id", "user_id", "us")
    return as_of_join(
        left, purchases, ["user_id"], "us", ["purchase_us", "purchase_value"]
    ).select(
        "event_id", "user_id", "us", "purchase_us", "purchase_value"
    ).orderBy("event_id")


@_register(
    "events-range-clicks",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), err AS (
      SELECT event_id, user_id, us FROM e WHERE event_type = 'error'
    ), clk AS (
      SELECT user_id, us AS cus FROM e WHERE event_type = 'click'
    )
    SELECT err.event_id, err.user_id, count(clk.cus) AS n_nearby_clicks
    FROM err LEFT JOIN clk
      ON err.user_id = clk.user_id
     AND abs(err.us - clk.cus) <= {RANGE_DELTA_US}
    GROUP BY err.event_id, err.user_id
    ORDER BY event_id
    """,
)
def events_range_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: how many clicks the same user made within +-5
    minutes (range join). Implemented via bucketed equi-join (3x probe
    fan-out), never a nested-loop inequality join; the oracle is the
    plain inequality join."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "us"
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("cus")
    )
    pairs = range_join_bucketed(
        err, clk, ["user_id"], "us", "cus", RANGE_DELTA_US
    )
    counts = pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_nearby_clicks")
    )
    return (
        err.select("event_id", "user_id")
        .join(counts, ["event_id", "user_id"], "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_nearby_clicks", F.lit(0)).alias("n_nearby_clicks"),
        )
        .orderBy("event_id")
    )


@_register(
    "events-attribution",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), c AS (
      SELECT user_id, event_id AS click_id, us AS cus
      FROM e WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, us, value AS amount
      FROM e WHERE event_type = 'purchase'
    ), j AS (
      SELECT p.purchase_id, c.click_id, p.us - c.cus AS age,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.cus DESC, c.click_id DESC) AS rn
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.cus <= p.us AND c.cus >= p.us - {ATTRIB_HORIZON_US}
    )
    SELECT p.purchase_id, p.user_id, p.us, p.amount,
           j.click_id AS attributed_click, j.age AS click_age_us
    FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      ON p.purchase_id = j.purchase_id
    ORDER BY p.purchase_id
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution: every purchase is
    attributed to the same user's most recent click at or before it
    within a 30-minute horizon; purchases with no qualifying click keep
    null. Deterministic tie-break (click ts desc, click_id desc).

    Scale shape: the click-purchase pairing is the bucketed range join
    (3x probe fan-out equi mechanics, never an inequality nested loop);
    picking the winning click is one row_number window per purchase.
    The oracle is the plain inequality join + the same window."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("us").alias("cus"),
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "us",
        F.col("value").alias("amount"),
    )
    pairs = range_join_bucketed(
        pur, clk, ["user_id"], "us", "cus", ATTRIB_HORIZON_US
    ).filter(F.col("cus") <= F.col("us"))
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("cus").desc(), F.col("click_id").desc()
    )
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            F.col("click_id").alias("attributed_click"),
            (F.col("us") - F.col("cus")).alias("click_age_us"),
        )
    )
    return (
        pur.join(best, "purchase_id", "left")
        .select(
            "purchase_id", "user_id", "us", "amount",
            "attributed_click", "click_age_us",
        )
        .orderBy("purchase_id")
    )
