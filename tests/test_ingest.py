"""Ingestion connector + flatten/validate tests on canned JSON fixtures
(FIXTURES.md 'Raw ingestion JSON fixture') — no live API. Covers the
iso3 fallback, null value retention, bad-year quarantine, retry/backoff,
and pagination."""

from __future__ import annotations

import json

import pytest

from data_engineering_pipeline_spark.sources.json_ingest import (
    flatten_wb_records,
    split_valid,
)
from data_engineering_pipeline_spark.sources.rest import (
    build_url,
    fetch_fanout,
    fetch_indicator,
    get_json,
    records_to_dataframe,
)

GOOD = {
    "indicator": {"id": "NY.GDP.MKTP.KD.ZG", "value": "GDP growth"},
    "country": {"id": "ZA", "value": "South Africa"},
    "countryiso3code": "ZAF",
    "date": "2015",
    "value": 1.2,
}
FALLBACK_ISO3 = {**GOOD, "countryiso3code": None, "country": {"id": "KEN", "value": "Kenya"}}
NULL_VALUE = {**GOOD, "date": "2016", "value": None}
BAD_YEAR = {**GOOD, "date": "not-a-year"}
MISSING_ISO3 = {**GOOD, "countryiso3code": "", "country": {"id": "", "value": "X"}}

RECORDS = [GOOD, FALLBACK_ISO3, NULL_VALUE, BAD_YEAR, MISSING_ISO3]


def test_flatten_and_validate(spark):
    flat = flatten_wb_records(records_to_dataframe(spark, RECORDS))
    valid, quarantine = split_valid(flat)
    v = {(r.country_iso3, r.year): r.value for r in valid.collect()}
    # iso3 fallback to country.id (database.py:97)
    assert ("KEN", 2015) in v
    # JSON null value kept as NULL (database.py:100)
    assert v[("ZAF", 2016)] is None
    assert v[("ZAF", 2015)] == 1.2
    q = {r.reason for r in quarantine.collect()}
    assert q == {"bad_year", "missing_iso3"}
    assert quarantine.count() == 2


def _page(meta_pages, records):
    return json.dumps([{"pages": meta_pages, "per_page": 1000}, records])


def test_pagination_loops_until_meta_pages():
    calls = []

    def opener(url, timeout):
        calls.append(url)
        page = int(url.split("page=")[1].split("&")[0]) if "page=" in url else 1
        return _page(3, [{"date": str(2000 + page), "countryiso3code": "ZAF",
                          "country": None, "indicator": None, "value": 1.0}])

    recs = fetch_indicator("ZAF", "X", opener=opener, sleep=lambda s: None)
    assert len(recs) == 3
    assert len(calls) == 3


def test_retry_backoff_then_none():
    attempts = []
    waits = []

    def opener(url, timeout):
        attempts.append(1)
        raise OSError("boom")

    out = get_json(build_url("ZAF", "X"), opener=opener, sleep=waits.append)
    assert out is None
    assert len(attempts) == 3
    assert waits == [1.0, 2.0]  # backoff**0, backoff**1


def test_fanout_rate_limits():
    sleeps = []

    def opener(url, timeout):
        return _page(1, [{"date": "2001", "countryiso3code": "ZAF",
                          "country": None, "indicator": None, "value": 2.0}])

    recs = fetch_fanout(
        [("ZAF", "A"), ("KEN", "A")], opener=opener, sleep=sleeps.append
    )
    assert len(recs) == 2
    assert sleeps.count(0.15) == 2


def test_build_url_shape():
    url = build_url("ZAF", "NY.GDP.MKTP.KD.ZG", page=2)
    assert "country/ZAF/indicator/NY.GDP.MKTP.KD.ZG" in url
    assert "format=json" in url and "page=2" in url and "date=2000%3A2023" in url


def test_integer_date_and_value_land_like_the_reference(spark):
    """The reference casts `int(record["date"])` and keeps numeric
    values as they come: an integer `date` lands as that year and an
    integral `value` as its double, next to the string-dated form."""
    recs = [
        {**GOOD, "date": 2017, "value": 3},
        {**GOOD, "date": "2018", "value": 4.5},
    ]
    valid, quarantine = split_valid(
        flatten_wb_records(records_to_dataframe(spark, recs))
    )
    got = {(r.country_iso3, r.year): r.value for r in valid.collect()}
    assert got == {("ZAF", 2017): 3.0, ("ZAF", 2018): 4.5}
    assert isinstance(got[("ZAF", 2017)], float)
    assert quarantine.count() == 0


def test_empty_record_list(spark):
    from data_engineering_pipeline_spark.schemas import WB_RECORD_SCHEMA

    df = records_to_dataframe(spark, [])
    assert df.schema == WB_RECORD_SCHEMA
    valid, quarantine = split_valid(flatten_wb_records(df))
    assert valid.count() == 0 and quarantine.count() == 0


def test_missing_keys_and_none_structs(spark):
    """Missing keys and `None` structs become nulls; keys outside the
    schema are ignored. The iso3 fallback and the quarantine reasons
    see those nulls as the reference sees absent fields."""
    recs = [
        {"countryiso3code": "ZAF", "date": "2015"},  # no value, no structs
        {"country": {"id": "KEN"}, "date": "2015", "value": 1.0,
         "unit": "", "obs_status": None},  # partial struct, extra keys
        {"indicator": None, "country": None, "countryiso3code": None,
         "date": "2015", "value": 2.0},  # nothing to take iso3 from
        {"countryiso3code": "NGA", "value": 3.0},  # no date
    ]
    df = records_to_dataframe(spark, recs)
    rows = df.collect()
    assert rows[0].indicator is None and rows[0].value is None
    assert rows[1].country.id == "KEN" and rows[1].country.value is None
    valid, quarantine = split_valid(flatten_wb_records(df))
    assert {(r.country_iso3, r.year, r.value) for r in valid.collect()} == {
        ("ZAF", 2015, None),
        ("KEN", 2015, 1.0),
    }
    assert sorted(r.reason for r in quarantine.collect()) == [
        "bad_year", "missing_iso3",
    ]
