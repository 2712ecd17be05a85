"""The reference's two entry points as composed Spark pipelines
(SURVEY.md §3): ingest (database.py __main__) and transform
(transformer.py __main__), over Parquet layers instead of PostgreSQL.

Ingest:  records -> flatten -> validate/quarantine -> upsert raw layer
         -> row counts  (database.py:174-207)
Transform: read raw x2 -> inner join on (iso3, year) -> drop-null ->
         project -> lag1 + gated roll5 x2 -> upsert cleaned layer ->
         preview (count + ordered limit 10)  (transformer.py:185-197)

Where the reference crossed process boundaries (Python -> Postgres ->
Python) per stage, each pipeline here is ONE lazy plan ending in a
write; the only materialization points are the upsert writes and the
preview/count reporting stages. The reported row counts of the raw and
cleaned layers are the upserts' own counts (an Observation on the
write), not a re-read of the layer."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.upsert import upsert_parquet
from data_engineering_pipeline_spark.operators.windows import (
    lag_feature,
    ordered_window,
    rolling_mean,
)
from data_engineering_pipeline_spark.plans.pipeline import Pipeline
from data_engineering_pipeline_spark.sources.json_ingest import (
    flatten_wb_records,
    split_valid,
)
from data_engineering_pipeline_spark.sources.rest import records_to_dataframe

RAW_KEYS = ["country_iso3", "year"]


def ingest_pipeline(
    spark: SparkSession,
    indicator_name: str,
    records: list[dict],
    base_path: str,
    fetched_at: dt.datetime | None = None,
) -> Pipeline:
    """Raw-layer load for one indicator's fetched records."""
    raw_path = os.path.join(base_path, f"raw_{indicator_name}")
    quarantine_path = os.path.join(base_path, f"quarantine_{indicator_name}")

    def _flatten(ctx):
        df = records_to_dataframe(spark, records)
        return flatten_wb_records(df, fetched_at=fetched_at)

    def _validate(ctx):
        valid, quarantine = split_valid(ctx["flatten"])
        ctx["quarantine"] = quarantine
        return valid

    def _write(ctx):
        n = upsert_parquet(spark, raw_path, ctx["validate"], RAW_KEYS, "fetched_at")
        # about 1% of a batch: one file per refresh, not one per slice
        # of the driver-side records
        ctx["quarantine"].coalesce(1).write.mode("append").parquet(
            quarantine_path
        )
        return n

    def _counts(ctx):
        # the whole-table upsert's count is the raw layer's row count;
        # the quarantine is a running total across refreshes
        return {
            "raw": ctx["write"],
            "quarantined": spark.read.parquet(quarantine_path).count(),
        }

    return (
        Pipeline(f"ingest-{indicator_name}")
        .add("flatten", _flatten)
        .add("validate", _validate)
        .add("write", _write)
        .add("counts", _counts)
    )


def build_cleaned(gdp: DataFrame, unemp: DataFrame) -> DataFrame:
    """The §7.1 core: join + drop-null + project + window features
    (transformer.py:58-119), reused by pipeline and tests."""
    g = gdp.select(
        "country_iso3", "country_name", "year", F.col("value").alias("gdp_growth")
    )
    u = unemp.select(
        "country_iso3", "year", F.col("value").alias("unemployment")
    )
    joined = (
        g.join(u, on=["country_iso3", "year"], how="inner")
        .filter(
            F.col("gdp_growth").isNotNull() & F.col("unemployment").isNotNull()
        )
        .select(
            "country_iso3",
            "country_name",
            "year",
            F.round("gdp_growth", 4).alias("gdp_growth"),
            F.round("unemployment", 4).alias("unemployment"),
        )
    )
    w = ordered_window(["country_iso3"], ["year"])
    return (
        joined.withColumn("gdp_growth_lag1", lag_feature("gdp_growth", w))
        .withColumn("gdp_growth_roll5", rolling_mean("gdp_growth", w))
        .withColumn("unemp_roll5", rolling_mean("unemployment", w))
        .withColumn("cleaned_at", F.current_timestamp())
    )


def transform_pipeline(spark: SparkSession, base_path: str) -> Pipeline:
    cleaned_path = os.path.join(base_path, "cleaned_data")

    def _load(ctx):
        return {
            "gdp": spark.read.parquet(os.path.join(base_path, "raw_gdp_growth")),
            "unemp": spark.read.parquet(
                os.path.join(base_path, "raw_unemployment")
            ),
        }

    def _features(ctx):
        return build_cleaned(ctx["load"]["gdp"], ctx["load"]["unemp"])

    def _write(ctx):
        return upsert_parquet(
            spark, cleaned_path, ctx["features"], RAW_KEYS, "cleaned_at"
        )

    def _preview(ctx):
        top = spark.read.parquet(cleaned_path).orderBy(
            "country_iso3", "year"
        ).limit(10)
        return {"total": ctx["write"], "first10": top.collect()}

    return (
        Pipeline("transform-cleaned")
        .add("load", _load)
        .add("features", _features)
        .add("write", _write)
        .add("preview", _preview)
    )
