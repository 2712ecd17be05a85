"""Relational coverage beyond the reference's own surface (SURVEY.md §2.7
notes the reference has no set ops / pivot — called out as schema-level
improvements; these make the engine a drop-in for the analytics a user
would expect on the same tables).

All oracle-checked. Money sums round to 2 dp (cross-engine double
summation), ratios/averages of exact ints stay unrounded."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
)
from data_engineering_pipeline_spark.queries._exact import mean_money_round4
from data_engineering_pipeline_spark.sources import load_table
from data_engineering_pipeline_spark._tmpdirs import fresh_tmpdir

QUERIES = {}
ORACLES = {}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _register(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "op-pivot-events",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def op_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot a tall observations table into wide per-key columns — the
    schema improvement SURVEY.md §2.7 suggests over the reference's
    two-tables design. Explicit value list => static schema (required
    for deterministic columns and for streaming compatibility)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


@_register(
    "op-agg-distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def op_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation (expand + two-phase agg in Spark; at scale
    prefer approx_count_distinct when exactness isn't required)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "op-join-semi",
    """
    SELECT o_orderkey, o_orderpriority FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    ORDER BY o_orderkey
    """,
)
def op_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders with any line shipped >90 days
    after the order date (TPC-H q4 shape on the available columns)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.date_add(orders.o_orderdate, 90)
    )
    return (
        orders.join(li, cond, "left_semi")
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@_register(
    "op-join-anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def op_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no finished order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@_register(
    "op-rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
             AS DOUBLE) AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def op_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (flag -> flag+status -> grand
    total). Nulls from the rollup are labeled 'ALL' on both sides so the
    subtotal rows hash identically."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_lines",
            "total_price",
        )
        .orderBy("returnflag", "linestatus")
    )


@_register(
    "op-set-ops",
    """
    WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
    supp_nations AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'both' AS side, nationkey
    FROM (SELECT nationkey FROM cust_nations INTERSECT
          SELECT nationkey FROM supp_nations)
    UNION ALL
    SELECT 'customer_only' AS side, nationkey
    FROM (SELECT nationkey FROM cust_nations EXCEPT
          SELECT nationkey FROM supp_nations)
    ORDER BY side, nationkey
    """,
)
def op_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation keys (absent from the
    reference; §2.7)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    both = cust.intersect(supp).select(
        F.lit("both").alias("side"), "nationkey"
    )
    cust_only = cust.exceptAll(supp).select(
        F.lit("customer_only").alias("side"), "nationkey"
    )
    return both.unionAll(cust_only).orderBy("side", "nationkey")


@_register(
    "op-date-trunc-trend",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
             AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY 1 ORDER BY month
    """,
)
def op_date_trunc_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bucketed trend: monthly order counts and revenue. The
    month is emitted as a 'yyyy-MM' STRING, not a DATE — temporal
    types round-trip differently through the two engines' pandas
    bridges (date objects vs datetime64), which breaks the driver's
    value hash even when the values agree."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


@_register(
    "op-string-funcs",
    """
    SELECT p_partkey, p_name,
           upper(p_brand) AS brand_uc,
           CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER)
             AS brand_num,
           substr(p_type, 1, 6) AS type_prefix,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_type LIKE 'PROMO%' OR contains(p_type, 'ECONOMY')
    ORDER BY p_partkey
    """,
)
def op_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: LIKE/contains predicates, regexp_extract, case
    mapping, substring, length."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_type").like("PROMO%")
            | F.col("p_type").contains("ECONOMY")
        )
        .select(
            "p_partkey",
            "p_name",
            F.upper("p_brand").alias("brand_uc"),
            F.regexp_extract("p_brand", r"([0-9]+)", 1)
            .try_cast("int")
            .alias("brand_num"),
            F.substring("p_type", 1, 6).alias("type_prefix"),
            F.length("p_name").alias("name_len"),
        )
        .orderBy("p_partkey")
    )


@_register(
    "op-topk-per-group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders)
    WHERE rnk <= 3 ORDER BY o_custkey, rnk
    """,
)
def op_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the grouped form of op-sort-limit-topk
    (one window shuffle; no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")
    )


@_register(
    "op-percentile",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def op_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark percentile ==
    DuckDB quantile_cont). At 100 TB use approx_percentile: one pass,
    mergeable sketches, no full sort of the group."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", 0.95), 4).alias("p95"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
        .orderBy("o_orderstatus")
    )


@_register(
    "op-explode-arrays",
    """
    WITH t AS (
      SELECT p_partkey, string_split(p_name, ' ') AS words FROM part
    )
    SELECT p_partkey,
           CAST(generate_subscripts(words, 1) - 1 AS INTEGER) AS pos,
           unnest(words) AS word
    FROM t
    ORDER BY p_partkey, pos
    """,
)
def op_explode_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + positional explode (lateral view): one row
    per word of p_name with its 0-based position."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
        )
        .orderBy("p_partkey", "pos")
    )


def _quality_oracle_block(col: str, numeric: bool) -> str:
    parts = [
        f"""SELECT '{col}' AS col_name, 'null_ratio' AS metric,
            CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS value FROM orders""",
        f"""SELECT '{col}', 'distinct_count',
            CAST(count(DISTINCT {col}) AS DOUBLE) FROM orders""",
    ]
    if numeric:
        parts.append(
            f"SELECT '{col}', 'min', CAST(min({col}) AS DOUBLE) FROM orders"
        )
        parts.append(
            f"SELECT '{col}', 'max', CAST(max({col}) AS DOUBLE) FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


_QUALITY_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderpriority", False),
]

@_register(
    "op-quality-report",
    "\nUNION ALL\n".join(_quality_oracle_block(c, num) for c, num in _QUALITY_COLS)
    + "\nORDER BY col_name, metric",
)
def op_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality report over orders (completeness,
    cardinality, numeric ranges) — the reference's acknowledged-missing
    data-quality checks (README1.md Next Steps) as an operator."""
    from data_engineering_pipeline_spark.operators.quality import quality_report

    return quality_report(
        load_table(spark, sf_dir, "orders"), [c for c, _ in _QUALITY_COLS]
    ).orderBy("col_name", "metric")


@_register(
    "op-join-outer",
    """
    SELECT n.n_nationkey, n.n_name,
           coalesce(c.n_cust, 0) AS n_cust,
           coalesce(s.n_supp, 0) AS n_supp
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, count(*) AS n_cust
               FROM customer GROUP BY c_nationkey) c
      ON n.n_nationkey = c.c_nationkey
    LEFT JOIN (SELECT s_nationkey, count(*) AS n_supp
               FROM supplier GROUP BY s_nationkey) s
      ON n.n_nationkey = s.s_nationkey
    ORDER BY n_nationkey
    """,
)
def op_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer joins preserving unmatched dimension rows (nations with
    no customers/suppliers surface with zero counts)."""
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        nation.join(cust, nation.n_nationkey == cust.c_nationkey, "left")
        .join(supp, nation.n_nationkey == supp.s_nationkey, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("n_nationkey")
    )


_CORRELATED_SQL = """
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT avg(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
"""


@_register("op-subquery-correlated", _CORRELATED_SQL)
def op_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the engine's SQL interface
    (Catalyst decorrelates it into an aggregate + join — no per-row
    re-execution). Orders 50%+ above their customer's average."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CORRELATED_SQL)


_SCALAR_SQL = """
    SELECT l_returnflag,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
             AS DOUBLE) AS flag_revenue,
           round(sum(l_extendedprice)
                 / (SELECT sum(l_extendedprice) FROM lineitem), 6)
             AS revenue_share
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@_register("op-subquery-scalar", _SCALAR_SQL)
def op_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: per-group revenue share of total."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SCALAR_SQL)


@_register(
    "op-json-schema-extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CASE WHEN json_extract(props, '$.k') IS NOT NULL
                THEN 'has_k' ELSE 'no_k' END AS k_presence
    FROM events ORDER BY event_id
    """,
)
def op_json_schema_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing (from_json -> struct field access) —
    the typed alternative to get_json_object string extraction: the JSON
    is parsed ONCE into a struct and fields are column accesses, which
    matters when many fields come out of one payload."""
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    props_schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = events.select(
        "event_id", F.from_json("props", props_schema).alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.when(F.col("p.k").isNotNull(), F.lit("has_k"))
        .otherwise(F.lit("no_k"))
        .alias("k_presence"),
    ).orderBy("event_id")


@_register(
    "op-window-ranks",
    """
    SELECT c_custkey, c_nationkey,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           cume_dist() OVER w AS cdist,
           round(sum(c_acctbal) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal
             RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW), 2)
             AS acct_range_sum
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey
    """,
)
def op_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: rank/dense_rank/ntile/cume_dist plus a
    RANGE frame (value-based: all accounts within 100.0 below the
    current balance) — the §2.5 surface beyond the reference's
    lag/rolling."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    # the Python rangeBetween API only takes integer offsets; fractional
    # range bounds go through the SQL expression form
    range_sum = F.expr(
        "round(sum(c_acctbal) OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW), 2)"
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
        range_sum.alias("acct_range_sum"),
    ).orderBy("c_custkey")


@_register(
    "op-histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)
def op_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via bucket arithmetic (one map-side-combined
    aggregation — the scalable way to histogram 100 TB; no sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0)
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@_register(
    "op-unpivot",
    """
    WITH wide AS (
      SELECT c_nationkey,
             floor((CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(12,2))
                     * 100 AS BIGINT)) AS BIGINT) * 200 + count(*))
                   / (count(*) * 2)) / 10000.0 AS avg_bal,
             round(min(c_acctbal), 4) AS min_bal,
             round(max(c_acctbal), 4) AS max_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, metric, value FROM (
      SELECT c_nationkey, 'avg_bal' AS metric, avg_bal AS value FROM wide
      UNION ALL
      SELECT c_nationkey, 'min_bal', min_bal FROM wide
      UNION ALL
      SELECT c_nationkey, 'max_bal', max_bal FROM wide)
    ORDER BY c_nationkey, metric
    """,
)
def op_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-nation stats back to tall (metric, value)
    rows — the inverse of op-pivot-events, via the native unpivot
    operator."""
    customer = load_table(spark, sf_dir, "customer")
    wide = customer.groupBy("c_nationkey").agg(
        mean_money_round4("c_acctbal").alias("avg_bal"),
        F.round(F.min("c_acctbal"), 4).alias("min_bal"),
        F.round(F.max("c_acctbal"), 4).alias("max_bal"),
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["avg_bal", "min_bal", "max_bal"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("c_nationkey", "metric")


@_register(
    "op-cube",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def op_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations (adds the status-only
    subtotals ROLLUP omits)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_lines",
        )
        .orderBy("returnflag", "linestatus")
    )


@_register(
    "op-resample-ffill",
    """
    WITH s AS (
      SELECT n.n_name AS country,
             CAST(year(o.o_orderdate) AS INTEGER) AS year,
             floor((CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2))
                     * 100 AS BIGINT)) AS BIGINT) * 200 + count(*))
                   / (count(*) * 2)) / 10000.0 AS value
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderkey % 7 = 0
      GROUP BY 1, 2
    ), spans AS (
      SELECT country, min(year) AS ymin, max(year) AS ymax FROM s GROUP BY 1
    ), grid AS (
      SELECT country, CAST(unnest(generate_series(ymin, ymax)) AS INTEGER)
               AS year
      FROM spans
    )
    SELECT g.country AS country, g.year AS year, s.value AS value,
           last_value(s.value IGNORE NULLS) OVER (
             PARTITION BY g.country ORDER BY g.year
             ROWS UNBOUNDED PRECEDING) AS value_ffill
    FROM grid g LEFT JOIN s ON s.country = g.country AND s.year = g.year
    ORDER BY g.country, g.year
    """,
)
def op_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling + gap fill: build the complete per-group
    year grid (sequence + explode), left-join the sparse observations,
    forward-fill with last(ignorenulls) over the ordered window — the
    panel-completion step the reference's country-year data wants when a
    year is missing. (The %7 sample makes gaps actually occur.)"""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    s = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("country"),
            F.year("o_orderdate").cast("int").alias("year"),
        )
        .agg(mean_money_round4("o_totalprice").alias("value"))
    )
    spans = s.groupBy("country").agg(
        F.min("year").alias("ymin"), F.max("year").alias("ymax")
    )
    # sequence over int bounds yields array<int>; a cast around explode
    # would be a generator-nested-in-expression error anyway
    grid = spans.select(
        "country", F.explode(F.sequence("ymin", "ymax")).alias("year")
    )
    joined = grid.join(s, ["country", "year"], "left")
    w = (
        Window.partitionBy("country")
        .orderBy("year")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "country",
        "year",
        "value",
        F.last("value", ignorenulls=True).over(w).alias("value_ffill"),
    ).orderBy("country", "year")


_KEY_HASH_SQL = (
    "(((l_orderkey * 69069 + 1) % 4294967296 + l_linenumber)"
    " * 69069 + 1) % 4294967296"
)


@_register(
    "op-hash-sample",
    f"""
    SELECT l_returnflag, l_orderkey, l_linenumber
    FROM lineitem
    WHERE ({_KEY_HASH_SQL}) % 100 < 10
    ORDER BY l_orderkey, l_linenumber
    """,
)
def op_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample by key hash
    (operators/sampling.py) — reproducible on any partitioning/cluster
    size, unlike df.sample(). A narrow filter: no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        hash_sample(li, 10, F.col("l_orderkey"), F.col("l_linenumber"))
        .select("l_returnflag", "l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@_register(
    "op-stratified-sample",
    f"""
    WITH h AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             {_KEY_HASH_SQL} AS hk
      FROM lineitem
    )
    SELECT l_returnflag, l_orderkey, l_linenumber FROM h
    QUALIFY row_number() OVER (PARTITION BY l_returnflag
                               ORDER BY hk, l_orderkey, l_linenumber)
            <= (count(*) OVER (PARTITION BY l_returnflag) * 1 + 99) // 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def op_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1%-per-stratum sample (ceil, so rare strata keep >= 1 row),
    rows chosen in key-hash order — deterministic stratified sampling
    for balanced training subsets (operators/sampling.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        stratified_sample(
            li,
            ["l_returnflag"],
            1,
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
        .select("l_returnflag", "l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


def _zorder_sql_terms(a_expr: str, b_expr: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a_expr} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b_expr} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@_register(
    "op-zorder-key",
    f"""
    SELECT l_orderkey, l_linenumber,
           CAST({_zorder_sql_terms('(l_orderkey % 256)',
                                   '(l_partkey % 256)', 8)} AS BIGINT)
             AS zkey
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def op_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over two dimensions (sources/zorder.py) —
    the layout key behind multi-dimensional data skipping. Pure bit
    arithmetic, identical in any engine; the layout write + measured
    file-skipping win are tested in tests/test_zorder.py."""
    from data_engineering_pipeline_spark.sources.zorder import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(
            [F.col("l_orderkey") % 256, F.col("l_partkey") % 256], bits=8
        ).alias("zkey"),
    ).orderBy("l_orderkey", "l_linenumber")


@_register(
    "op-scd2-history",
    """
    WITH u AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ts,
             o_orderkey AS tb
      FROM orders
    ), s AS (
      SELECT custkey, priority, ts, tb,
             row_number() OVER w AS rn,
             lag(priority) OVER w AS prev_priority
      FROM u WINDOW w AS (PARTITION BY custkey ORDER BY ts, tb)
    ), c AS (
      SELECT custkey, priority, ts, tb FROM s
      WHERE rn = 1 OR priority IS DISTINCT FROM prev_priority
    )
    SELECT custkey, priority, ts AS valid_from,
           lead(ts) OVER (PARTITION BY custkey ORDER BY ts, tb)
             AS valid_to
    FROM c ORDER BY custkey, valid_from, tb
    """,
)
def op_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 rebuild (operators/scd.py scd2_history): the version history
    of each customer's order priority, derived from the orders log —
    one open interval per customer, closed intervals ending where the
    priority actually changed (no-op updates dropped). ts as epoch
    micros so both engines hash identical integers; deterministic
    o_orderkey tie-break for same-date orders."""
    from data_engineering_pipeline_spark.operators.scd import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts"),
        F.col("o_orderkey").alias("tb"),
    )
    return scd2_history(
        updates, ["custkey"], ["priority"], "ts", "tb"
    ).orderBy("custkey", "valid_from")


@_register(
    "op-snapshot-table",
    """
    SELECT 0 AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 1,
           CAST(count(*) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderstatus = 'P'
    ORDER BY version
    """,
)
def op_snapshot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional snapshot table end-to-end
    (sources/snapshot_table.py): three committed versions — append F
    orders, append O orders, overwrite with P orders — then TIME TRAVEL
    to every version and summarize it with exact-integer aggregates.
    The oracle recomputes each snapshot's contents straight from the
    base table, so a broken manifest replay (files leaking across
    versions, overwrite not removing, time travel off by one) shows up
    as a wrong count/sum at some version."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_tbl_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.append(orders.filter(F.col("o_orderstatus") == "O"))
    t.overwrite(orders.filter(F.col("o_orderstatus") == "P"))
    parts = []
    for v in (0, 1, 2):
        parts.append(
            t.read(version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@_register(
    "op-snapshot-merge",
    """
    WITH tgt AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
         src AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0)
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    UNION ALL
    SELECT o_orderkey, round(o_totalprice * 2, 2) AS price
    FROM src
    ORDER BY o_orderkey
    """,
)
def op_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the transactional snapshot table
    (sources/snapshot_table.py merge_into): target = 'F' orders,
    source = every 7th orderkey with its price doubled; matched rows
    update, unmatched insert. The oracle recomputes the post-merge
    table relationally, so a wrong matched/not-matched split, a lost
    update, or a double insert all surface as value mismatches.
    Doubling a 2-dp double is exact (exponent bump), so round(.,2) is
    cross-engine safe."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_merge_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    src = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    t.merge_into(src, ["o_orderkey"], when_matched="update")
    return (
        t.read()
        .select(
            "o_orderkey", F.round("o_totalprice", 2).alias("price")
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-rename",
    """
    SELECT o_orderkey AS order_id,
           o_orderstatus AS status,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey % 397 = 0
    ORDER BY order_id
    """,
)
def op_snapshot_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING on the snapshot table
    (sources/snapshot_table.py rename_column): the stat-pruned AND
    bloom-indexed key column is renamed MID-HISTORY — half the table's
    files were written under the old physical name — and the read
    under the new name must still (a) serve every row of both file
    generations with values correctly paired, (b) stat-prune with a
    point set, and (c) bloom-prune, both resolving per-file metadata
    keyed by the OLD name through the stable column ids. The oracle
    recomputes the row set relationally, so a broken name resolution
    (lost rows, resurrected bytes, prune dropping live keys) surfaces
    as a row/value mismatch. Point and bloom probe lists are bounded
    driver-side collects (~max_orderkey/397 values)."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_rename_q_")
    t = SnapshotTable(
        spark, os.path.join(base, "t"),
        stat_cols=["o_orderkey"], bloom_cols=["o_custkey"],
    )
    # generation 1: written under the ORIGINAL column name
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    # the metadata-only rename; stats/bloom sidecars stay keyed by the
    # old physical name and resolve through the column ids
    t.rename_column("o_orderkey", "order_id")
    # generation 2: written under the NEW name
    t.append(
        orders.filter(F.col("o_orderstatus") != "F")
        .withColumnRenamed("o_orderkey", "order_id")
    )
    probes = orders.filter(F.col("o_orderkey") % 397 == 0).select(
        "o_orderkey", "o_custkey"
    ).collect()
    pts = sorted(r["o_orderkey"] for r in probes)
    custs = sorted({r["o_custkey"] for r in probes})
    return (
        t.read(
            prune=[("order_id", pts)],
            bloom=[("o_custkey", custs)],
        )
        .filter(F.col("order_id").isin(pts))
        .select(
            "order_id",
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("order_id")
    )


@_register(
    "op-snapshot-cdf",
    """
    WITH f AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
         s AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0)
    SELECT o_orderkey, 'insert' AS _change_type,
           round(o_totalprice * 2, 2) AS price
    FROM s WHERE o_orderkey NOT IN (SELECT o_orderkey FROM f)
    UNION ALL
    SELECT o_orderkey, 'update_preimage', round(o_totalprice, 2)
    FROM f WHERE o_orderkey IN (SELECT o_orderkey FROM s)
    UNION ALL
    SELECT o_orderkey, 'update_postimage', round(o_totalprice * 2, 2)
    FROM s WHERE o_orderkey IN (SELECT o_orderkey FROM f)
    ORDER BY o_orderkey, _change_type
    """,
)
def op_snapshot_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between snapshot versions
    (sources/snapshot_table.py changes): version 0 = 'F' orders,
    version 1 = the op-snapshot-merge MERGE; the CDC rows must be
    exactly the inserts and pre/post update images the oracle derives
    from the base predicates — rows rewritten unchanged by the
    copy-on-write (same file, different version) must cancel out.
    Reads only the file-set symmetric difference of the two versions."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_cdf_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    v0 = t.latest_version()
    src = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    v1 = t.merge_into(src, ["o_orderkey"], when_matched="update")
    return (
        t.changes(v0, v1, ["o_orderkey"])
        .select(
            "o_orderkey",
            "_change_type",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey", "_change_type")
    )


@_register(
    "op-snapshot-incr-agg",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
    ),
    s AS (
      SELECT o_orderkey, '9-MOVED' AS o_orderpriority,
             2 * CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s)
      UNION ALL SELECT * FROM s
    )
    SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM merged GROUP BY o_orderpriority ORDER BY grp
    """,
)
def op_snapshot_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental materialized aggregate
    (sources/snapshot_table.py refresh_aggregate): bootstrap the
    per-priority count/cents-sum of 'F' orders, then MERGE a batch
    that doubles every 7th order's cents and MOVES it to priority
    '9-MOVED' (inserting the non-F ones), then refresh incrementally
    from the change feed. The oracle computes the post-merge aggregate
    directly, so a wrong delta sign, a missed group move (pre-image
    not decremented), or a double-applied batch all mismatch. Money
    rides as exact cents (scaled longs) so incremental == full
    recompute bit-for-bit."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
        refresh_aggregate,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = fresh_tmpdir("snap_ma_q_")
    src = SnapshotTable(spark, os.path.join(base, "src"))
    agg = SnapshotTable(spark, os.path.join(base, "agg"))
    src.append(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderpriority", cents.alias("cents")
        )
    )
    refresh_aggregate(
        src, agg, ["o_orderkey"], ["o_orderpriority"], ["cents"]
    )
    src.merge_into(
        orders.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            F.lit("9-MOVED").alias("o_orderpriority"),
            (F.lit(2) * cents).alias("cents"),
        ),
        ["o_orderkey"],
        when_matched="update",
    )
    refresh_aggregate(
        src, agg, ["o_orderkey"], ["o_orderpriority"], ["cents"]
    )
    return (
        agg.read()
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("grp")
    )


@_register(
    "op-sample-exact-k",
    f"""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    ORDER BY {_KEY_HASH_SQL}, l_orderkey, l_linenumber
    LIMIT 1000
    """,
)
def op_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic sample (operators/sampling.py
    bottom_k_sample): the 1000 lineitems with the smallest key hash —
    exact size where op-hash-sample gives an expected rate, same
    reproducible-on-any-partitioning property. Plan is
    TakeOrderedAndProject (per-task k-heaps, no global sort)."""
    from data_engineering_pipeline_spark.operators.sampling import (
        bottom_k_sample,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return bottom_k_sample(
        li, 1000, F.col("l_orderkey"), F.col("l_linenumber")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


_PR_SCALE = 10**12
_PR_BASE = (15 * _PR_SCALE) // 100  # (1-d)*scale with d = 85/100


@_register(
    "op-graph-pagerank",
    f"""
    WITH e0 AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, sum(w) AS wout FROM e0 GROUP BY src),
    e AS (SELECT e0.src, e0.dst, e0.w, ow.wout
          FROM e0 JOIN ow USING (src)),
    nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
    params AS (SELECT count(*) AS n FROM nodes),
    p0 AS (SELECT node, {_PR_SCALE} // n AS p FROM nodes, params),
    s1 AS (SELECT e.dst AS node, sum((p.p * e.w) // e.wout) AS s
           FROM e JOIN p0 p ON e.src = p.node GROUP BY 1),
    p1 AS (SELECT nodes.node,
                  ({_PR_BASE} // n) + (85 * coalesce(s1.s, 0)) // 100 AS p
           FROM nodes CROSS JOIN params
           LEFT JOIN s1 ON s1.node = nodes.node),
    s2 AS (SELECT e.dst AS node, sum((p.p * e.w) // e.wout) AS s
           FROM e JOIN p1 p ON e.src = p.node GROUP BY 1),
    p2 AS (SELECT nodes.node,
                  ({_PR_BASE} // n) + (85 * coalesce(s2.s, 0)) // 100 AS p
           FROM nodes CROSS JOIN params
           LEFT JOIN s2 ON s2.node = nodes.node),
    s3 AS (SELECT e.dst AS node, sum((p.p * e.w) // e.wout) AS s
           FROM e JOIN p2 p ON e.src = p.node GROUP BY 1),
    p3 AS (SELECT nodes.node,
                  ({_PR_BASE} // n) + (85 * coalesce(s3.s, 0)) // 100 AS p
           FROM nodes CROSS JOIN params
           LEFT JOIN s3 ON s3.node = nodes.node)
    SELECT node AS part, CAST(p AS BIGINT) AS pr_q
    FROM p3 ORDER BY part
    """,
)
def op_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part CO-PURCHASE graph (parts are
    linked when they appear in the same order, weight = co-occurrence
    count) — graph analytics derived from relational data
    (operators/graph.py pagerank_quantized). All arithmetic is exact
    scaled-integer (floor divisions, rational damping), so the
    3-iteration run is bit-identical to the oracle's unrolled CTE
    layers — a wrong contribution split, a missed dangling node, or a
    float drift all hash-mismatch."""
    from data_engineering_pipeline_spark.operators.graph import (
        pagerank_quantized,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # co-occurrence pairs via ONE shuffle (group per order, explode the
    # in-order part list twice map-side) instead of a self-join that
    # shuffles two full scans — measured 5.7 -> 4.9 s at sf0.1,
    # bit-identical output. Per-order lists are tiny (<=7 lines); a
    # graph with huge groups would blow up the self-join quadratically
    # too, so the list carries no new risk.
    grp = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ps")
    )
    edges = (
        grp.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pr = pagerank_quantized(edges, weight_col="w", iters=3)
    return pr.select(
        F.col("node").alias("part"), F.col("p").alias("pr_q")
    ).orderBy("part")


@_register(
    "op-sample-weighted-k",
    f"""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             1 + l_linenumber % 4 AS w,
             list_aggregate(
               list_transform(
                 range(1, (1 + l_linenumber % 4) + 1),
                 j -> (
                   ((((((((l_orderkey * 69069 + 1) % 4294967296)
                         + l_linenumber) * 69069 + 1) % 4294967296
                       + j) * 69069 + 1) % 4294967296) % 2147483648)
                   * (((((((l_orderkey * 69069 + 1) % 4294967296)
                         + l_linenumber) * 69069 + 1) % 4294967296
                       + j) * 69069 + 1) % 4294967296 % 2147483648)
                   + ((((((l_orderkey * 69069 + 1) % 4294967296)
                        + l_linenumber) * 69069 + 1) % 4294967296
                      + j) * 69069 + 1) % 4294967296
                 ) % 4294967296
               ), 'max') AS ticket
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, CAST(w AS BIGINT) AS w
    FROM t
    ORDER BY ticket DESC, l_orderkey, l_linenumber
    LIMIT 500
    """,
)
def op_sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sample without replacement
    (operators/sampling.py weighted_bottom_k_sample): 500 lineitems
    drawn with probability scaled by an integer weight (1 +
    l_linenumber % 4), via the Efraimidis-Spirakis key realized as
    max-of-w-hashes — exact int64 tickets, no floating pow, so the
    oracle reproduces the draw ticket-for-ticket."""
    from data_engineering_pipeline_spark.operators.sampling import (
        weighted_bottom_k_sample,
    )

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "w", (F.lit(1) + F.col("l_linenumber") % 4).cast("long")
    )
    return weighted_bottom_k_sample(
        li, 500, "w", F.col("l_orderkey"), F.col("l_linenumber")
    ).select("l_orderkey", "l_linenumber", "w")


@_register(
    "op-rfm-segments",
    """
    WITH cust AS (
      SELECT o_custkey, max(o_orderdate) AS r, count(*) AS f,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY r DESC, o_custkey) AS BIGINT)
             AS r_tile,
           CAST(ntile(4) OVER (ORDER BY f DESC, o_custkey) AS BIGINT)
             AS f_tile,
           CAST(ntile(4) OVER (ORDER BY m DESC, o_custkey) AS BIGINT)
             AS m_tile
    FROM cust ORDER BY o_custkey
    """,
)
def op_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (last order date),
    frequency (order count), monetary (exact cents sum) quartiles —
    the classic behavioral segmentation, deterministic via custkey
    tie-breaks.

    r10: the three global ntile(4) windows (single-partition sorts
    over all customers at 100 TB) are replaced by the PRODUCTION
    construction — exact_ntile_cutpoints (operators/sketch.py):
    ntile's bucket-size arithmetic gives 3 boundary ranks per metric,
    exact_kth_values' distributed bit-prefix refinement gives the
    boundary values, and the tie-straddling boundary is pinned by the
    boundary ROW's custkey within its tie group. Because o_custkey is
    unique per row the (metric DESC, custkey) order is total, so the
    map-side bucket compare is BIT-IDENTICAL to the oracle's
    positional ntile — the same freeze construction the curation ppl
    gate uses, now with zero windows in this plan (the registry-wide
    no-partition-window lint covers it; no allowlist entry)."""
    from data_engineering_pipeline_spark.operators.sketch import (
        exact_ntile_bucket,
        exact_ntile_cutpoints,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("r"),
            F.count(F.lit(1)).alias("f"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("m"),
        )
        # int key for the probes: o_orderdate is TIMESTAMP_NTZ; epoch
        # seconds (day + time-of-day) is an order-faithful injective
        # integer image at the data's second resolution
        .withColumn(
            "rd",
            F.unix_date(F.col("r").cast("date")) * F.lit(86400)
            + F.hour("r") * F.lit(3600)
            + F.minute("r") * F.lit(60)
            + F.second("r"),
        )
        # one row per customer; probed several times driver-side below
        # — materialize once so the orders groupBy runs once
        .localCheckpoint()
    )
    cuts = {
        metric: exact_ntile_cutpoints(cust, metric, "o_custkey", 4)
        for metric in ("rd", "f", "m")
    }
    return cust.select(
        "o_custkey",
        *[
            exact_ntile_bucket(
                F.col(metric), F.col("o_custkey"), cuts[metric]
            ).cast("long").alias(alias)
            for metric, alias in
            [("rd", "r_tile"), ("f", "f_tile"), ("m", "m_tile")]
        ],
    ).orderBy("o_custkey")


@_register(
    "op-ab-experiment",
    """
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN ((user_id * 69069 + 1) % 4294967296) % 100 < 50
                  THEN 0 ELSE 1 END AS arm
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT a.arm,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(c.user_id) AS BIGINT) AS n_converted,
           CAST(count(c.user_id) * 1000000 // count(*) AS BIGINT)
             AS conv_ppm
    FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
    GROUP BY a.arm ORDER BY a.arm
    """,
)
def op_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically split 50/50 by
    their LCG hash bucket (stable across reruns and cluster sizes —
    the property rand()-based assignment lacks), conversion = any
    purchase event, rate as an exact integer ppm. The pattern every
    event pipeline ends at: assignment must be a pure function of the
    unit id so exposures and outcomes can be joined retroactively."""
    from data_engineering_pipeline_spark.operators.sampling import (
        key_hash,
    )

    events = load_table(spark, sf_dir, "events")
    assign = events.select("user_id").distinct().withColumn(
        "arm",
        F.when(key_hash(F.col("user_id")) % 100 < 50, 0)
        .otherwise(1).cast("int"),
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct()
        .withColumn("__c", F.lit(1))
    )
    return (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("__c").alias("n_converted"),
        )
        .select(
            F.col("arm").cast("long").alias("arm"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_converted").cast("long").alias("n_converted"),
            F.expr("(n_converted * 1000000) div n_users")
            .cast("long").alias("conv_ppm"),
        )
        .orderBy("arm")
    )


@_register(
    "op-snapshot-delete",
    """
    SELECT o_orderkey, o_orderpriority,
           round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'F'
      AND NOT coalesce(o_totalprice > 150000
                       AND o_orderpriority = '1-URGENT', false)
    ORDER BY o_orderkey
    """,
)
def op_snapshot_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate DELETE WHERE on the snapshot table
    (sources/snapshot_table.py delete_where): load 'F' orders, delete
    the urgent high-value ones, read back. The oracle applies the
    same NOT-coalesce predicate relationally, so over-deletion
    (NULL-condition rows wrongly removed), under-deletion, or a
    file-confinement bug that drops unrelated rows all mismatch."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_del_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.delete_where(
        "o_totalprice > 150000 AND o_orderpriority = '1-URGENT'"
    )
    return (
        t.read()
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-update",
    """
    SELECT o_orderkey,
           CASE WHEN coalesce(o_orderpriority = '5-LOW'
                              AND o_totalprice < 50000, false)
                THEN '4-NOT SPECIFIED' ELSE o_orderpriority
           END AS o_orderpriority,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey
    """,
)
def op_snapshot_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate UPDATE on the snapshot table
    (sources/snapshot_table.py update_where): reclassify low-value
    '5-LOW' orders, leave everything else untouched. The oracle is the
    same CASE expression applied relationally — a SET leaking onto
    non-matching rows, or an untouched-file row going missing, breaks
    the hash."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_upd_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.update_where(
        "o_orderpriority = '5-LOW' AND o_totalprice < 50000",
        {"o_orderpriority": "'4-NOT SPECIFIED'"},
    )
    return (
        t.read()
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-merge-mor",
    """
    WITH tgt AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderstatus = 'F'
    ),
    src AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT * FROM tgt
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL SELECT * FROM src
    ),
    kept AS (SELECT * FROM merged WHERE o_orderkey % 5 <> 0)
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END, 2) AS price
    FROM kept ORDER BY o_orderkey
    """,
)
def op_snapshot_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE + DELETE + UPDATE in MERGE-ON-READ mode
    (sources/snapshot_table.py mode='mor'): the same relational
    semantics as the copy-on-write twins, but no data file is ever
    rewritten — matched/deleted rows are masked by (file, position)
    deletion vectors applied at read time, and postimages/inserts
    append. Three stacked DV commits on the same files exercise DV
    accumulation; the oracle recomputes the final state relationally,
    so a mask hitting the wrong position, a survivor double-read, or
    a postimage lost under a later DV all break the hash. Doubling a
    2-dp double is exact, so round(.,2) is cross-engine safe."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_mor_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    src = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    t.merge_into(src, ["o_orderkey"], when_matched="update", mode="mor")
    t.delete_where("o_orderkey % 5 = 0", mode="mor")
    t.update_where(
        "o_orderkey % 3 = 0", {"o_totalprice": "o_totalprice * 2"},
        mode="mor",
    )
    return (
        t.read()
        .select(
            "o_orderkey", F.round("o_totalprice", 2).alias("price")
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-cdf-mor",
    """
    WITH tgt AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderstatus = 'F'
    ),
    src AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT * FROM tgt
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL SELECT * FROM src
    ),
    kept AS (SELECT * FROM merged WHERE o_orderkey % 5 <> 0),
    final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM kept
    )
    SELECT f.o_orderkey AS o_orderkey, 'insert' AS _change_type,
           round(f.o_totalprice, 2) AS price
    FROM final f
    WHERE f.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
    UNION ALL
    SELECT t.o_orderkey, 'delete', round(t.o_totalprice, 2)
    FROM tgt t
    WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM final)
    UNION ALL
    SELECT t.o_orderkey, 'update_preimage', round(t.o_totalprice, 2)
    FROM tgt t JOIN final f USING (o_orderkey)
    WHERE t.o_totalprice <> f.o_totalprice
    UNION ALL
    SELECT f.o_orderkey, 'update_postimage', round(f.o_totalprice, 2)
    FROM tgt t JOIN final f USING (o_orderkey)
    WHERE t.o_totalprice <> f.o_totalprice
    ORDER BY o_orderkey, _change_type
    """,
)
def op_snapshot_cdf_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed ACROSS merge-on-read commits
    (sources/snapshot_table.py changes over dv_adds): version 0 = 'F'
    orders, then a MoR merge, a MoR delete, and a MoR update stack
    three deletion-vector commits; the net CDC from v0 to head must be
    exactly the inserts / deletes / update pairs the oracle derives
    from the final relational state — rows whose file gained a DV but
    which themselves survived unchanged must cancel in the struct
    compare. Exercises the dv-diff path where the file SET is
    unchanged between versions but effective contents differ."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_cdfm_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(
        orders.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    v0 = t.latest_version()
    src = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", (F.col("o_totalprice") * 2)
                .alias("o_totalprice"))
    )
    t.merge_into(src, ["o_orderkey"], when_matched="update", mode="mor")
    t.delete_where("o_orderkey % 5 = 0", mode="mor")
    t.update_where(
        "o_orderkey % 3 = 0", {"o_totalprice": "o_totalprice * 2"},
        mode="mor",
    )
    return (
        t.changes(v0, t.latest_version(), ["o_orderkey"])
        .select(
            "o_orderkey",
            "_change_type",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey", "_change_type")
    )


@_register(
    "op-snapshot-prune-box",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_totalprice BETWEEN 50000 AND 150000
    ORDER BY o_orderkey
    """,
)
def op_snapshot_prune_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER + box-pruned read end-to-end (sources/zorder.py via
    SnapshotTable.compact(cluster_by), read(prune=ranges)): load
    orders, Z-order-compact on (o_custkey, o_totalprice), then read
    with BOTH columns' ranges as manifest prune predicates plus the
    exact filter on top. File pruning is an over-approximation (a
    file is skipped only when its [min,max] provably misses the box),
    so the exact filter makes the result identical to the oracle's
    plain box scan — a prune that wrongly drops a file surfaces as
    missing rows, which is precisely the bug class this query grades.
    The Z-order clustering is what makes the prune EFFECTIVE in both
    dimensions at once (multi-dim data skipping); effectiveness is
    asserted by the plan-level unit tests, correctness here."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = fresh_tmpdir("snap_zb_q_")
    t = SnapshotTable(
        spark, os.path.join(base, "t"),
        stat_cols=["o_custkey", "o_totalprice"],
    )
    t.append(orders.repartition(8))
    t.compact(target_files=8,
              cluster_by=["o_custkey", "o_totalprice"])
    pruned = t.read(
        prune=[("o_custkey", 100, 400),
               ("o_totalprice", 50000.0, 150000.0)]
    )
    return (
        pruned.filter(
            (F.col("o_custkey").between(100, 400))
            & (F.col("o_totalprice").between(50000.0, 150000.0))
        )
        .select(
            "o_orderkey", "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-bloom-read",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey % 97 = 0
    ORDER BY o_orderkey
    """,
)
def op_snapshot_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed point read end-to-end
    (sources/snapshot_table.py bloom_cols / read(bloom=...)): orders
    land UNSORTED across 8 files, so every file's o_custkey [min,max]
    spans the domain and stat pruning can skip nothing — the layout
    where only the per-file bloom sidecars can prove absence. The
    probe keys (custkeys divisible by 97) are collected driver-side
    (probe-bounded), the read prunes files through the blooms, and
    the exact predicate goes on top: a bloom false NEGATIVE (a
    wrongly skipped file) surfaces as missing rows vs the oracle's
    plain filter, which is exactly the bug class this query grades.
    False positives only cost IO and cancel under the exact filter."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = fresh_tmpdir("snap_bloom_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      bloom_cols=["o_custkey"])
    t.append(orders.repartition(8))
    keys = [
        r.o_custkey
        for r in orders.select("o_custkey")
        .where(F.col("o_custkey") % 97 == 0)
        .distinct()
        .collect()
    ]
    pruned = t.read(bloom=[("o_custkey", keys)])
    return (
        pruned.where(F.col("o_custkey") % 97 == 0)
        .select(
            "o_orderkey", "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-incr-join",
    """
    WITH a0 AS (
      SELECT o_orderkey, o_custkey AS custkey, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    ),
    a1 AS (
      SELECT o_orderkey, custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM a0 WHERE o_orderkey % 11 <> 0
    ),
    a2 AS (
      SELECT o_orderkey, custkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10
                  ELSE o_totalprice END AS o_totalprice
      FROM a1
    ),
    b0 AS (SELECT c_custkey AS custkey, c_acctbal FROM customer),
    b1 AS (
      SELECT custkey,
             CASE WHEN custkey % 5 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal
      FROM b0 WHERE custkey % 13 <> 0
    )
    SELECT a2.o_orderkey AS o_orderkey, a2.custkey AS custkey,
           round(a2.o_totalprice, 2) AS price,
           round(b1.c_acctbal, 2) AS acctbal
    FROM a2 JOIN b1 USING (custkey)
    ORDER BY o_orderkey
    """,
)
def op_snapshot_incr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental JOIN materialization
    (sources/snapshot_table.py refresh_join): a fact table (orders)
    and a dimension (customer) each live in a snapshot table; their
    inner join is materialized once, then maintained from BOTH change
    feeds across two refresh cycles — fact update+delete first, then
    a second fact update arriving together with a dimension
    update+delete (the both-sides-changed overlap). The oracle
    recomputes the final join relationally, so a stale pair surviving
    deletion, a postimage lost in the delta union, or a double-counted
    both-changed pair all break the hash. Doubling and adding integers
    to 2-dp doubles is exact, so round(.,2) is cross-engine safe."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
        refresh_join,
    )

    base = fresh_tmpdir("snap_ij_q_")
    a = SnapshotTable(spark, os.path.join(base, "a"),
                      stat_cols=["o_orderkey"])
    b = SnapshotTable(spark, os.path.join(base, "b"))
    view = SnapshotTable(spark, os.path.join(base, "v"))

    a0 = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            "o_totalprice",
        )
    )
    b0 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_acctbal"
    )
    a.append(a0)
    b.append(b0)
    refresh_join(a, b, view, ["o_orderkey"], ["custkey"], ["custkey"])

    # cycle 1: fact churn only
    a.merge_into(
        a0.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    a.delete_where("o_orderkey % 11 = 0")
    refresh_join(a, b, view, ["o_orderkey"], ["custkey"], ["custkey"])

    # cycle 2: fact AND dimension churn between refreshes
    a.merge_into(
        a.read().filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 10
        ),
        ["o_orderkey"],
    )
    b.merge_into(
        b0.filter(F.col("custkey") % 5 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") * 2
        ),
        ["custkey"],
    )
    b.delete_where("custkey % 13 = 0")
    refresh_join(a, b, view, ["o_orderkey"], ["custkey"], ["custkey"])

    return (
        view.read()
        .select(
            "o_orderkey", "custkey",
            F.round("o_totalprice", 2).alias("price"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-star-agg",
    """
    WITH a0 AS (
      SELECT o_orderkey, o_custkey AS custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
    ),
    a1 AS (
      SELECT o_orderkey, custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN cents * 2
                  ELSE cents END AS cents
      FROM a0 WHERE o_orderkey % 11 <> 0
    ),
    b0 AS (SELECT c_custkey AS custkey, c_mktsegment FROM customer),
    b1 AS (
      SELECT custkey,
             CASE WHEN custkey % 5 = 0 THEN 'REMAPPED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM b0
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM a1 JOIN b1 USING (custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def op_snapshot_star_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental STAR-SCHEMA chain end to end
    (sources/snapshot_table.py refresh_join + refresh_aggregate):
    fact (orders, exact cents) and dimension (customer segment) land
    in snapshot tables; their join is materialized, and a per-segment
    rollup is maintained FROM THE JOIN VIEW'S OWN CHANGE FEED (keyed
    by the pair key). Fact churn (price doubling, deletions) and a
    dimension re-segmentation then flow fact -> view -> rollup through
    two CDC-driven refreshes — no layer rescans its source. The
    oracle recomputes the final rollup relationally over the mutated
    inputs: a lost pair, a stale segment, or a double-counted delta
    anywhere in the chain breaks the count or the exact integer sum."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
        refresh_aggregate,
        refresh_join,
    )

    base = fresh_tmpdir("snap_star_q_")
    a = SnapshotTable(spark, os.path.join(base, "a"),
                      stat_cols=["o_orderkey"])
    b = SnapshotTable(spark, os.path.join(base, "b"))
    view = SnapshotTable(spark, os.path.join(base, "v"))
    agg = SnapshotTable(spark, os.path.join(base, "g"))

    a0 = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long").alias("cents"),
        )
    )
    b0 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    a.append(a0)
    b.append(b0)

    def refresh_all():
        refresh_join(a, b, view, ["o_orderkey"], ["custkey"],
                     ["custkey"])
        refresh_aggregate(view, agg, ["o_orderkey", "custkey"],
                          ["c_mktsegment"], ["cents"])

    refresh_all()
    a.merge_into(
        a0.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "cents", F.col("cents") * 2
        ),
        ["o_orderkey"],
    )
    a.delete_where("o_orderkey % 11 = 0")
    b.merge_into(
        b0.filter(F.col("custkey") % 5 == 0).withColumn(
            "c_mktsegment", F.lit("REMAPPED")
        ),
        ["custkey"],
    )
    refresh_all()

    return (
        agg.read()
        .select(
            "c_mktsegment",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("c_mktsegment")
    )


@_register(
    "op-snapshot-restore",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey
    """,
)
def op_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION end-to-end (sources/snapshot_table.py
    restore): land the 'F' orders, mangle them — a doubling merge, a
    scattered MoR delete (so the restore must also roll back deletion
    vectors), a copy-on-write update — then restore the pre-mangle
    version and read. The oracle is the ORIGINAL relational state, so
    any residue of the undone commits (a leaked DV mask, a surviving
    postimage, a lost row) breaks the hash."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    base = fresh_tmpdir("snap_rst_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.repartition(4))
    v_good = t.latest_version()
    t.merge_into(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    t.delete_where("o_orderkey % 5 = 0", mode="mor")
    t.update_where("o_orderkey % 7 = 0",
                   {"o_totalprice": "o_totalprice + 1"})
    t.restore(v_good)
    return (
        t.read()
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-time-travel",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey
    """,
)
def op_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel by TIMESTAMP (sources/snapshot_table.py
    version_at_timestamp / read(timestamp=)): land the 'F' orders,
    capture the commit instant from history(), then mutate the table
    twice (a doubling merge, a scattered MoR delete). Reading AS OF
    the first commit's timestamp must resolve — through the monotone
    in-commit timestamps — to the untouched snapshot; the oracle is
    that original relational state, so a misresolved version or any
    leak-through of the later commits breaks the hash. Scale: the
    resolution is a driver-side scan back from the log head (O(distance),
    no data IO) — the same cost shape as Delta's timestamp AS OF."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    base = fresh_tmpdir("snap_ts_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.repartition(4))
    stamp = t.history()[0]["ts"]
    t.merge_into(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    t.delete_where("o_orderkey % 5 = 0", mode="mor")
    return (
        t.read(timestamp=stamp)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-clone",
    """
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey % 3 = 0
                      THEN o_totalprice * 2
                      ELSE o_totalprice END, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey % 5 <> 0
    ORDER BY o_orderkey
    """,
)
def op_snapshot_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE isolation end to end (sources/snapshot_table.py
    clone_to): land the 'F' orders, clone the table (zero-copy,
    O(files) metadata), then mutate the CLONE — a doubling merge
    (copy-on-write rewrites of inherited files land in the clone's
    own data dir) and a MoR delete — while the SOURCE gets an
    unrelated append. The query reads the clone; the oracle is the
    mutated relational state of the original snapshot alone, so any
    cross-contamination (source rows leaking into the clone, clone
    DML reaching the source's files, a mis-resolved inherited `loc`)
    breaks the count or the hash."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    base = fresh_tmpdir("snap_clone_q_")
    src = SnapshotTable(spark, os.path.join(base, "src"),
                        stat_cols=["o_orderkey"])
    src.append(orders.repartition(4))
    clone = src.clone_to(os.path.join(base, "clone"))
    clone.merge_into(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    clone.delete_where("o_orderkey % 5 = 0", mode="mor")
    # unrelated source churn AFTER the clone: must not be visible
    src.append(
        orders.limit(50).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
        )
    )
    return (
        clone.read()
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-datasource",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey % 10 <> 0
      AND o_orderkey > 1000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def op_snapshot_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot table as a first-class Spark FORMAT
    (sources/spark_datasource.py): land the 'F' orders range-clustered
    on o_orderkey, mask a residue class with a merge-on-read delete,
    then read back through `spark.read.format("snapshot_table")` —
    Catalyst's pushFilters prunes files against the manifest's min/max
    stats before any task is scheduled, executors apply the deletion-
    vector mask per file, and the filter is still re-applied row-level.
    The oracle recomputes the aggregate relationally, so a DV leak, a
    wrongly-pruned file, or a schema drift in the Arrow path breaks
    the count or the exact integer sum. Scale: planning is O(live
    files) driver-side; the scan parallelism is one task per surviving
    file."""
    import os

    from data_engineering_pipeline_spark.sources import (
        spark_datasource as sds,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority",
                F.round(F.col("o_totalprice") * 100)
                .cast("long").alias("cents"))
    )
    base = fresh_tmpdir("snap_dsrc_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.repartitionByRange(8, "o_orderkey"))
    t.delete_where("o_orderkey % 10 = 0", mode="mor")
    sds.register(spark)
    df = (
        spark.read.format(sds.FORMAT_NAME)
        .option("path", t.path).load()
        .filter(F.col("o_orderkey") > 1000)  # pushed -> file prune
    )
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "op-snapshot-stream-source",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def op_snapshot_stream_source(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The snapshot table as a STRUCTURED STREAMING source
    (sources/spark_datasource.py SnapshotStreamReader): the 'F'
    orders land across TWO commits; `readStream.format(
    "snapshot_table")` tails the log with availableNow — offset =
    log version, micro-batch = that range's added files — into a
    parquet sink, and the query aggregates the sink. The oracle is
    the full relational content, so a dropped commit, a replayed
    file, or an offset misresolution changes the counts. Scale: each
    micro-batch schedules one task per added file; offsets ride
    Spark's own streaming checkpoint, so restart resumes exactly
    (proven under restart in tests/test_spark_datasource.py)."""
    import os

    from data_engineering_pipeline_spark.sources import (
        spark_datasource as sds,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority")
    )
    base = fresh_tmpdir("snap_stream_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    sds.register(spark)
    out = os.path.join(base, "out")
    q = (
        spark.readStream.format(sds.FORMAT_NAME)
        .option("path", t.path).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    return (
        spark.read.parquet(out)
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("o_orderpriority")
    )


@_register(
    "op-snapshot-format-write",
    """
    WITH t AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def op_snapshot_format_write(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """WRITE through the format (sources/spark_datasource.py
    SnapshotWriter): `df.write.format("snapshot_table")` lands the
    'F' orders with a real two-phase commit — executors stream Arrow
    batches straight into staged parquet files, the driver's single
    manifest commit publishes them through the table's optimistic
    protocol (create-on-first-write included). Half the rows land in
    a second append to prove multi-commit accumulation, and the
    result is read back through the HANDLE — so the two surfaces
    agree on the same log. The oracle recomputes the aggregate
    relationally; a lost staged file, a double-published manifest, or
    an Arrow schema drift breaks the exact integer sums."""
    import os

    from data_engineering_pipeline_spark.sources import (
        spark_datasource as sds,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long").alias("cents"),
        )
    )
    base = fresh_tmpdir("snap_fw_q_")
    p = os.path.join(base, "t")
    sds.register(spark)
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    odds = orders.filter(F.col("o_orderkey") % 2 == 1)
    evens.write.format(sds.FORMAT_NAME).option("path", p).mode(
        "append"
    ).save()
    odds.write.format(sds.FORMAT_NAME).option("path", p).mode(
        "append"
    ).save()
    t = SnapshotTable(spark, p)
    return (
        t.read()
        .groupBy((F.col("o_orderkey") % 4).cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("bucket")
    )


@_register(
    "op-snapshot-wap",
    """
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey % 3 = 0
                      THEN o_totalprice * 2
                      ELSE o_totalprice END, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey % 7 <> 0
    ORDER BY o_orderkey
    """,
)
def op_snapshot_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH end to end (sources/snapshot_table.py
    clone_to + publish_from): the 'F' orders land in the source; a
    shallow clone takes the writes — a doubling merge (COW rewrites
    land clone-local) and a MoR delete (a clone-local deletion
    vector over an inherited file) — passes its audit, and publishes
    back as ONE metadata commit that adopts the clone's files by
    rename (zero copies). The query reads the SOURCE after publish;
    the oracle is the mutated relational state, so a lost adopted
    file, a dropped DV, or a kept-but-should-be-removed source file
    breaks the count or the hash. The pre-publish source remains
    time-travelable (asserted in tests)."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    base = fresh_tmpdir("snap_wap_q_")
    src = SnapshotTable(spark, os.path.join(base, "src"),
                        stat_cols=["o_orderkey"])
    src.append(orders.repartition(4))
    clone = src.clone_to(os.path.join(base, "branch"))
    clone.merge_into(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    clone.delete_where("o_orderkey % 7 = 0", mode="mor")
    src.publish_from(clone)
    return (
        src.read()
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@_register(
    "op-snapshot-change-feed",
    """
    WITH t AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT o_orderkey, _change_type, cents, _commit_version FROM (
      SELECT o_orderkey, 'update_preimage' AS _change_type,
             cents, CAST(1 AS BIGINT) AS _commit_version
      FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 'update_postimage', cents * 2,
             CAST(1 AS BIGINT)
      FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 'delete',
             cents * CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END,
             CAST(2 AS BIGINT)
      FROM t WHERE o_orderkey % 5 = 0
    ) ORDER BY _commit_version, o_orderkey, _change_type
    """,
)
def op_snapshot_change_feed(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """PER-COMMIT change feed (sources/snapshot_table.py change_feed —
    Delta's table_changes semantics): the 'F' orders land, a doubling
    merge churns the %3 keys, then a delete takes the %5 keys; the
    feed must carry every transition version-stamped — including the
    delete preimages reflecting the POST-merge values (a feed that
    diffed against v0 instead of each commit's own predecessor would
    emit the undoubled cents and hash-mismatch). The table runs with
    cdf=True, so this grades the CHANGE-DATA-FILE capture path: the
    DML commits stage their change rows at commit time and the feed
    reads those files verbatim (measured 4.1x faster than per-commit
    diffing on wide files, BASELINE addendum 19); the plain-diff
    fallback is graded by the twin-equivalence test and the
    op-snapshot-cdf net-diff oracles."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long").alias("cents"),
        )
    )
    base = fresh_tmpdir("snap_cfd_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"], cdf=True)
    t.append(orders.repartition(4))
    t.merge_into(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "cents", F.col("cents") * 2
        ),
        ["o_orderkey"],
    )
    t.delete_where("o_orderkey % 5 = 0")
    # empty-input robustness (r10 review): DML on an empty table is a
    # documented commit-less no-op, so the head may sit below 2 —
    # clamp the feed range (and with no DML commits at all, the feed
    # is the empty frame) instead of requesting versions never cut
    head = t.latest_version()
    if head == 0:
        feed = spark.createDataFrame(
            [], "o_orderkey long, _change_type string, cents long, "
                "_commit_version long"
        )
    else:
        feed = t.change_feed(0, min(2, head), ["o_orderkey"])
    return (
        feed.select("o_orderkey", "_change_type", "cents",
                    "_commit_version")
        .orderBy("_commit_version", "o_orderkey", "_change_type")
    )


@_register(
    "op-snapshot-change-feed-format",
    """
    WITH t AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT o_orderkey, _change_type, cents, _commit_version FROM (
      SELECT o_orderkey, 'update_preimage' AS _change_type,
             cents, CAST(1 AS BIGINT) AS _commit_version
      FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 'update_postimage', cents * 2,
             CAST(1 AS BIGINT)
      FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 'delete',
             cents * CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END,
             CAST(2 AS BIGINT)
      FROM t WHERE o_orderkey % 5 = 0
    ) ORDER BY _commit_version, o_orderkey, _change_type
    """,
)
def op_snapshot_change_feed_format(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The change feed THROUGH THE FORMAT (sources/spark_datasource.py
    SnapshotCdcReader): same mutation script as
    op-snapshot-change-feed, but read back with `spark.read.format(
    "snapshot_table").option("readChangeFeed","true")` — the captured
    cdc files are plain parquet, so the sandboxed Python DataSource
    serves every transition without the engine (one InputPartition
    per cdc file, _commit_version stamped executor-side). Same
    oracle; a drifted column, a mislabeled synthesized insert, or an
    off-by-one version stamp hash-fails. The delete here is
    MERGE-ON-READ, so the capture must carry the masked rows' full
    values — the read the plain MoR delete never does."""
    import os

    from data_engineering_pipeline_spark.sources import (
        spark_datasource as sds,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long").alias("cents"),
        )
    )
    base = fresh_tmpdir("snap_cff_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"], cdf=True)
    t.append(orders.repartition(4))
    t.merge_into(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "cents", F.col("cents") * 2
        ),
        ["o_orderkey"],
    )
    t.delete_where("o_orderkey % 5 = 0", mode="mor")
    sds.register(spark)
    # same clamp as op-snapshot-change-feed: on empty input the DML
    # commits are no-ops and the head stays 0 — don't ask the reader
    # to start past it (r10 review)
    return (
        spark.read.format(sds.FORMAT_NAME)
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(min(1, t.latest_version())))
        .load()
        .select("o_orderkey", "_change_type", "cents",
                "_commit_version")
        .orderBy("_commit_version", "o_orderkey", "_change_type")
    )


@_register(
    "op-snapshot-incr-agg-cdf",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
    ),
    s AS (
      SELECT o_orderkey, '9-MOVED' AS o_orderpriority,
             2 * CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s)
      UNION ALL SELECT * FROM s
    ),
    afterdel AS (
      SELECT * FROM merged WHERE o_orderkey % 11 <> 0
    )
    SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM afterdel GROUP BY o_orderpriority ORDER BY grp
    """,
)
def op_snapshot_incr_agg_cdf(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The incremental aggregate ON A CDF TABLE: same maintenance as
    op-snapshot-incr-agg (a group-moving doubling merge, plus a MoR
    delete), but the source captures change-data files, so
    refresh_aggregate's changes() call is served by the CAPTURE-NET
    path (first-preimage/last-postimage per key over the cdc rows —
    measured 4.5x over file-diffing on wide files, BASELINE addendum
    19c) instead of reading churned files. The oracle computes the
    final aggregate relationally: a netting bug (wrong first/last
    event, an uncancelled no-op, a missed MoR delete row) lands
    directly in the counts or the exact cents."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
        refresh_aggregate,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = fresh_tmpdir("snap_macdf_q_")
    src = SnapshotTable(spark, os.path.join(base, "src"), cdf=True)
    agg = SnapshotTable(spark, os.path.join(base, "agg"))
    src.append(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderpriority", cents.alias("cents")
        )
    )
    refresh_aggregate(
        src, agg, ["o_orderkey"], ["o_orderpriority"], ["cents"]
    )
    src.merge_into(
        orders.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            F.lit("9-MOVED").alias("o_orderpriority"),
            (F.lit(2) * cents).alias("cents"),
        ),
        ["o_orderkey"],
        when_matched="update",
    )
    src.delete_where("o_orderkey % 11 = 0", mode="mor")
    refresh_aggregate(
        src, agg, ["o_orderkey"], ["o_orderpriority"], ["cents"]
    )
    return (
        agg.read()
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("grp")
    )


@_register(
    "op-snapshot-cluster-merge",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 7 = 0 THEN -1.0
                ELSE round(o_totalprice, 2) END AS price
    FROM orders
    UNION ALL
    SELECT o_orderkey + (SELECT 1 + max(o_orderkey) FROM orders)
               AS o_orderkey,
           -1 AS o_custkey, 0.0 AS price
    FROM orders WHERE o_orderkey % 7 = 0
    ORDER BY o_orderkey
    """,
)
def op_snapshot_cluster_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-column exact clustering + stat-point-pruned big-batch
    MERGE end-to-end (r12, VERDICT item 1; sources/snapshot_table.py
    compact cluster_by=[one col] / merge_into big-batch point
    collection): orders land round-robin across 8 files (every file's
    o_orderkey [min,max] spans the domain), compact(cluster_by=
    ["o_orderkey"]) range-partitions + sorts them into tight DISJOINT
    id slices, and a merge whose source carries >1024 distinct keys
    (every 7th orderkey updated to price -1, plus the same keys
    shifted +20M as inserts) exercises the capped distinct-key
    collection + per-file bisect: the update keys prune to their true
    file footprint from stats alone (no bloom sidecars on this
    table), and the beyond-range insert keys match nothing. A wrongly
    pruned file surfaces as an un-updated row vs the oracle's CASE;
    a wrongly kept file only costs IO. mode='mor' makes the updates
    deletion-vector masks, so the read also grades the DV anti-join
    over the clustered layout."""
    import os

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = fresh_tmpdir("snap_clm_q_")
    t = SnapshotTable(spark, os.path.join(base, "t"),
                      stat_cols=["o_orderkey"])
    t.append(orders.repartition(8))
    t.compact(target_files=8, cluster_by=["o_orderkey"])
    hits = orders.filter(F.col("o_orderkey") % 7 == 0)
    # insert-key shift derived from the data (1 + max orderkey), not a
    # constant: TPC-H orderkeys reach 6M x SF, so any fixed offset
    # collides with real keys at a large-enough SF and the "inserts"
    # would silently become matched updates the oracle disagrees with
    shift = (orders.agg(F.max("o_orderkey")).collect()[0][0] or 0) + 1
    src = hits.select(
        "o_orderkey", "o_custkey", F.lit(-1.0).alias("o_totalprice")
    ).unionByName(
        hits.select(
            (F.col("o_orderkey") + F.lit(shift)).alias("o_orderkey"),
            F.lit(-1).cast("long").alias("o_custkey"),
            F.lit(0.0).alias("o_totalprice"),
        )
    )
    t.merge_into(src, ["o_orderkey"], when_matched="update", mode="mor")
    return (
        t.read()
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )
