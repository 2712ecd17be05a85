"""Observation-based metrics: values must match direct computation
and cost nothing extra (no second scan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.plans.observability import (
    observed,
    standard_corpus_metrics,
)
from data_engineering_pipeline_spark.sources import load_table


def test_observed_metrics_match_direct(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    df, obs = observed(docs, "audit", **standard_corpus_metrics())
    df.write.format("noop").mode("overwrite").save()  # one real action
    got = obs.get
    direct = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias(
            "n_null_text"
        ),
        F.sum(F.length("text")).alias("total_chars"),
        F.max(F.length("text")).alias("max_chars"),
    ).collect()[0]
    assert got["n_rows"] == direct["n_rows"]
    assert got["n_null_text"] == direct["n_null_text"] == 0
    assert got["total_chars"] == direct["total_chars"]
    assert got["max_chars"] == direct["max_chars"]


def test_observed_metrics_single_scan(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    df, obs = observed(docs, "audit2", **standard_corpus_metrics())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "CollectMetrics" in plan


def test_empty_batch_metrics_are_zero_not_null(spark):
    """r10 review: an EMPTY batch must report n_null_text/total_chars
    as 0, not None — the empty-landing run is exactly where an
    orchestrator's `metrics[...] > threshold` audit check fires."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    df, obs = observed(empty, "audit_empty", **standard_corpus_metrics())
    df.count()
    got = obs.get
    assert got["n_rows"] == 0
    assert got["n_null_text"] == 0
    assert got["total_chars"] == 0
