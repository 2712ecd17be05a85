"""Spark jobs and tasks per pipeline of one `wb-etl`-style refresh,
against a committed budget.

A refresh (ingest of both indicators, then transform) costs fixed
per-job and per-task overhead at this size, not data volume, so the
counts are the lever; they are deterministic for a fixed session
(local[4], 8 shuffle partitions). A small panel is backfilled first,
then one refresh lands revisions, fills, a new year (partly null) and
one malformed record per indicator, each pipeline in its own job group,
as perfbench's traced mode attributes jobs.

The budgets only go down: a change that cuts jobs or tasks lowers its
budget here in the same change, and one that raises a budget says why
in CHANGES.md."""

from __future__ import annotations

import datetime as dt

from data_engineering_pipeline_spark.plans.reference_pipelines import (
    ingest_pipeline,
    transform_pipeline,
)
from data_engineering_pipeline_spark.sources.rest import records_to_dataframe
from tests.job_budget import in_group, over_budget

# pipeline (job group) -> (jobs, tasks)
BUDGET = {
    "ingest-gdp_growth": (7, 12),
    "ingest-unemployment": (7, 12),
    "transform": (9, 10),
}

COUNTRIES = [f"C{i:02d}" for i in range(30)]
YEARS = range(2000, 2006)
TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _rec(indicator, country, year, value):
    return {
        "indicator": {"id": indicator, "value": indicator},
        "country": {"id": country[:2], "value": country},
        "countryiso3code": country,
        "date": str(year),
        "value": value,
    }


def _backfill(indicator, base):
    return [
        _rec(indicator, c, y, base + i % 7 + y % 3)
        for i, c in enumerate(COUNTRIES) for y in YEARS
    ]


def _refresh(indicator, base):
    revised = [_rec(indicator, c, 2003, base - 1.5) for c in COUNTRIES[:3]]
    new_year = [
        _rec(indicator, c, 2006, None if i % 3 == 0 else base + i % 5)
        for i, c in enumerate(COUNTRIES)
    ]
    return revised + new_year + [_rec(indicator, "C00", "n/a", 1.0)]


INDICATORS = {"gdp_growth": 1.0, "unemployment": 9.0}


def test_refresh_stays_within_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    base = str(tmp_path)
    for name, v in INDICATORS.items():
        ingest_pipeline(spark, name, _backfill(name, v), base,
                        fetched_at=TS).run()
    transform_pipeline(spark, base).run()

    ts = TS + dt.timedelta(days=1)
    ingest = {
        name: in_group(sc, f"ingest-{name}", lambda name=name, v=v: (
            ingest_pipeline(spark, name, _refresh(name, v), base,
                            fetched_at=ts).run()
        ))
        for name, v in INDICATORS.items()
    }
    out = in_group(sc, "transform",
                   lambda: transform_pipeline(spark, base).run())

    for name in INDICATORS:
        # 180 backfilled keys + 30 new-year keys; one malformed each time
        assert ingest[name]["counts"] == {"raw": 210, "quarantined": 1}
    # 210 joined keys, minus the new-year nulls on either side
    assert out["preview"]["total"] == 200
    assert len(out["preview"]["first10"]) == 10
    over, got = over_budget(spark, BUDGET)
    assert not over, f"(jobs, tasks) over budget: {over}; all: {got}"


def test_record_frame_is_a_local_scan(spark):
    """The fetched records become an Arrow-backed local relation, so
    the jobs that scan a batch start no Python worker: no Python RDD
    and no scan over an existing RDD."""
    df = records_to_dataframe(spark, _refresh("gdp_growth", 1.0))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
