"""End-to-end reference pipeline test: ingest two indicators from canned
records -> transform -> cleaned layer, then re-run both pipelines and
assert nothing changes (op-orch-idempotent, README1.md:128-132)."""

from __future__ import annotations

import datetime as dt

from data_engineering_pipeline_spark.plans.reference_pipelines import (
    ingest_pipeline,
    transform_pipeline,
)

TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _records(indicator_id, values):
    return [
        {
            "indicator": {"id": indicator_id, "value": indicator_id},
            "country": {"id": c[:2], "value": c},
            "countryiso3code": c,
            "date": str(year),
            "value": v,
        }
        for c, year, v in values
    ]


GDP = _records(
    "NY.GDP.MKTP.KD.ZG",
    [("ZAF", y, 1.0 + y % 5) for y in range(2000, 2010)]
    + [("KEN", y, 2.0) for y in range(2000, 2004)]
    + [("KEN", 2004, None)],  # null -> dropped by transform filter
)
UNEMP = _records(
    "SL.UEM.TOTL.ZS",
    [("ZAF", y, 20.0 + y % 3) for y in range(2000, 2010) if y != 2005]  # gap
    + [("KEN", y, 9.0) for y in range(2000, 2006)],
)


def test_ingest_transform_end_to_end_idempotent(spark, tmp_path):
    base = str(tmp_path)

    c1 = ingest_pipeline(spark, "gdp_growth", GDP, base, fetched_at=TS).run()
    c2 = ingest_pipeline(spark, "unemployment", UNEMP, base, fetched_at=TS).run()
    assert c1["counts"]["raw"] == 15  # 10 ZAF + 5 KEN (null kept in raw)
    assert c2["counts"]["raw"] == 15  # 9 ZAF (gap year missing) + 6 KEN

    t1 = transform_pipeline(spark, base).run()
    total_1 = t1["preview"]["total"]
    # ZAF: 9 joined years (2005 missing on unemp side); KEN: 4 non-null
    assert total_1 == 13
    first = t1["preview"]["first10"][0]
    assert first.country_iso3 == "KEN" and first.year == 2000
    assert first.gdp_growth_lag1 is None  # first row per country
    assert first.gdp_growth_roll5 is None  # min-periods gate

    # re-run everything: counts identical (idempotent upserts)
    c1b = ingest_pipeline(spark, "gdp_growth", GDP, base, fetched_at=TS).run()
    t2 = transform_pipeline(spark, base).run()
    assert c1b["counts"]["raw"] == 15
    assert t2["preview"]["total"] == 13

    # gap semantics: ZAF 2006 lag1 is 2004's value (row-based window)
    rows = {
        (r.country_iso3, r.year): r
        for r in spark.read.parquet(f"{base}/cleaned_data").collect()
    }
    zaf_2004 = rows[("ZAF", 2004)]
    zaf_2006 = rows[("ZAF", 2006)]
    assert zaf_2006.gdp_growth_lag1 == zaf_2004.gdp_growth
    assert ("ZAF", 2005) not in rows


def test_crashed_layer_swap_is_not_lost_on_replay(
    spark, tmp_path, monkeypatch
):
    """A refresh that dies after the live layer was renamed aside but
    before the merged copy was renamed in must not lose the layer: the
    replayed refresh heals the swap first, so the raw layer keeps its
    30 backfilled rows plus the new one, and no remnant is left beside
    either layer."""
    import os

    import pytest

    base = str(tmp_path)
    years = range(2000, 2010)
    countries = ("ZAF", "KEN", "NGA")
    gdp = _records("NY.GDP.MKTP.KD.ZG",
                   [(c, y, 1.0 + y % 5) for c in countries for y in years])
    unemp = _records("SL.UEM.TOTL.ZS",
                     [(c, y, 9.0) for c in countries for y in years]
                     + [("ZAF", 2010, 9.5)])
    assert ingest_pipeline(spark, "gdp_growth", gdp, base,
                           fetched_at=TS).run()["counts"]["raw"] == 30
    ingest_pipeline(spark, "unemployment", unemp, base, fetched_at=TS).run()
    assert transform_pipeline(spark, base).run()["preview"]["total"] == 30

    real_rename = os.rename

    def crash_swap_in(live):
        def rename(src, dst):
            if os.path.abspath(dst) == os.path.abspath(live):
                raise OSError("crash before the swap-in")
            real_rename(src, dst)
        return rename

    def remnants(layer):
        return [d for d in os.listdir(base) if d.startswith(layer + ".")]

    refresh = _records("NY.GDP.MKTP.KD.ZG", [("ZAF", 2010, 4.0)])
    ts2 = TS + dt.timedelta(days=1)
    with monkeypatch.context() as m:
        m.setattr(os, "rename",
                  crash_swap_in(os.path.join(base, "raw_gdp_growth")))
        with pytest.raises(OSError, match="crash before the swap-in"):
            ingest_pipeline(spark, "gdp_growth", refresh, base,
                            fetched_at=ts2).run()
    counts = ingest_pipeline(spark, "gdp_growth", refresh, base,
                             fetched_at=ts2).run()["counts"]
    assert counts["raw"] == 31
    assert not remnants("raw_gdp_growth")

    with monkeypatch.context() as m:
        m.setattr(os, "rename",
                  crash_swap_in(os.path.join(base, "cleaned_data")))
        with pytest.raises(OSError, match="crash before the swap-in"):
            transform_pipeline(spark, base).run()
    assert transform_pipeline(spark, base).run()["preview"]["total"] == 31
    assert not remnants("cleaned_data")


def test_pack_greedy_rejects_null_and_negative_weights(spark):
    """r9 review: a NULL token count reached int(NaN) (cryptic crash
    mid-loop) and a NEGATIVE one silently shrank the running fill,
    overfilling every later pack in the bucket — both must fail
    loudly with the offending doc ids."""
    import pytest as _pytest

    from data_engineering_pipeline_spark.operators.packing import (
        pack_greedy,
    )

    bad_null = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="null/negative"):
        pack_greedy(bad_null, budget=16).collect()
    bad_neg = spark.createDataFrame(
        [(1, 10), (2, -4), (3, 5)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="null/negative"):
        pack_greedy(bad_neg, budget=16).collect()
