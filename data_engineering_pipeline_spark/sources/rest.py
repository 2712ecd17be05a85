"""REST source connector (op-source-rest / op-source-retry /
op-source-fanout; reference api_fetcher.py).

Mirrors the reference's World-Bank-style API surface: paginated
`[meta, records]` JSON pages per (country, indicator), retry with
exponential backoff, serial rate limiting. Fetching is inherently a
driver/edge concern (the reference rate-limits serially,
api_fetcher.py:106); the Spark boundary is `records_to_dataframe`, which
turns fetched records into an Arrow-backed DataFrame with the explicit
nested schema for the flatten/validate stage (sources/json_ingest.py).

At real scale the fetch lands raw JSON files and Spark reads them with
`spark.read.json(path, schema=WB_RECORD_SCHEMA)` — same downstream plan.
The fetch side is dependency-free stdlib so tests can inject a fake
`opener` (no live API)."""

from __future__ import annotations

import json
import logging
import time
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from data_engineering_pipeline_spark.schemas import WB_RECORD_SCHEMA

log = logging.getLogger(__name__)

BASE_URL = "https://api.worldbank.org/v2"
PER_PAGE = 1000
DATE_RANGE = "2000:2023"
USER_AGENT = "data-engineering-pipeline-spark/0.1"

# reference api_fetcher.py:20-23
INDICATORS = {
    "gdp_growth": "NY.GDP.MKTP.KD.ZG",
    "unemployment": "SL.UEM.TOTL.ZS",
}


def build_url(country_code: str, indicator_code: str, page: int = 1) -> str:
    """URL shape per api_fetcher.py:36-43."""
    query = urllib.parse.urlencode(
        {
            "format": "json",
            "per_page": PER_PAGE,
            "date": DATE_RANGE,
            "page": page,
        }
    )
    return f"{BASE_URL}/country/{country_code}/indicator/{indicator_code}?{query}"


def _default_opener(url: str, timeout: float) -> str:
    req = urllib.request.Request(url, headers={"User-Agent": USER_AGENT})
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.read().decode("utf-8")


def get_json(
    url: str,
    retries: int = 3,
    backoff: float = 2.0,
    timeout: float = 30.0,
    opener: Callable[[str, float], str] | None = None,
    sleep: Callable[[float], None] = time.sleep,
):
    """GET with retry + exponential backoff (api_fetcher.py:46-57):
    `retries` attempts, waiting backoff**attempt between failures;
    returns parsed JSON or None when exhausted."""
    opener = opener or _default_opener
    for attempt in range(retries):
        try:
            return json.loads(opener(url, timeout))
        except Exception as exc:  # noqa: BLE001 — connector-level catch-all
            log.warning("fetch failed (attempt %d/%d): %s", attempt + 1, retries, exc)
            if attempt < retries - 1:
                sleep(backoff**attempt)
    return None


def fetch_indicator(
    country_code: str,
    indicator_code: str,
    opener: Callable[[str, float], str] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """All pages for one (country, indicator) (api_fetcher.py:62-83):
    pages are `[meta, records]`; loop until page >= meta.pages."""
    records: list[dict] = []
    page = 1
    while True:
        payload = get_json(
            build_url(country_code, indicator_code, page),
            opener=opener,
            sleep=sleep,
        )
        if not payload or len(payload) < 2 or payload[1] is None:
            break
        meta, page_records = payload[0], payload[1]
        records.extend(page_records)
        if page >= int(meta.get("pages", 1)):
            break
        page += 1
    return records


def fetch_fanout(
    tasks: Iterable[tuple[str, str]],
    rate_limit_s: float = 0.15,
    opener: Callable[[str, float], str] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Serial fan-out over (country, indicator) tasks with rate limiting
    (api_fetcher.py:86-113). Serial on purpose: the remote API is the
    bottleneck and the reference's 0.15 s politeness sleep is inherently
    sequential; parallelising the fetch belongs to a landed-file layout,
    not this connector."""
    out: list[dict] = []
    for i, (country, indicator) in enumerate(tasks):
        recs = fetch_indicator(country, indicator, opener=opener, sleep=sleep)
        out.extend(recs)
        log.info("fetched %s/%s: %d records", country, indicator, len(recs))
        if rate_limit_s:
            sleep(rate_limit_s)
    return out


_WB_RECORD_ARROW = to_arrow_schema(WB_RECORD_SCHEMA)


def _normalise(record: dict) -> dict:
    """A non-string `date` (an integer year such as 2015) becomes its
    string, which the year validation casts back like the reference's
    `int(record["date"])`; Arrow would reject it in a string column.
    An integral `value` needs nothing: Arrow widens it to double."""
    date = record.get("date")
    if date is None or isinstance(date, str):
        return record
    return {**record, "date": str(date)}


def records_to_dataframe(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Driver-side records -> DataFrame with the explicit nested schema
    (schemas.WB_RECORD_SCHEMA). Missing keys and `None` structs become
    nulls, and keys outside the schema are ignored.

    The records are converted once, on the driver, into an Arrow table
    that Spark plans as a `LocalTableScan`: the jobs that scan the batch
    (the raw upsert and the quarantine append) start no Python worker,
    unlike `createDataFrame(list_of_dicts)`, whose rows come from a
    Python RDD that every scanning job unpickles again."""
    table = pa.Table.from_pylist(
        [_normalise(r) for r in records], schema=_WB_RECORD_ARROW
    )
    return spark.createDataFrame(table)
