"""Upsert-writer semantics (op-sink-upsert): ON CONFLICT DO UPDATE
equivalence — idempotent re-runs, updates win, inserts append
(database.py:119-138, README1.md:128-132)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.upsert import (
    merge_last_write_wins,
    upsert_parquet,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "country_iso3 string, year int, value double, fetched_at long"
    )


def test_rerun_is_idempotent(spark, tmp_path):
    path = os.path.join(tmp_path, "raw")
    batch = _df(spark, [("ZAF", 2015, 1.2, 100), ("KEN", 2015, 3.4, 100)])
    n1 = upsert_parquet(spark, path, batch, ["country_iso3", "year"], "fetched_at")
    n2 = upsert_parquet(spark, path, batch, ["country_iso3", "year"], "fetched_at")
    assert n1 == n2 == 2
    assert spark.read.parquet(path).count() == 2


def test_update_wins_insert_appends(spark, tmp_path):
    path = os.path.join(tmp_path, "raw")
    upsert_parquet(
        spark,
        path,
        _df(spark, [("ZAF", 2015, 1.2, 100), ("KEN", 2015, 3.4, 100)]),
        ["country_iso3", "year"],
        "fetched_at",
    )
    upsert_parquet(
        spark,
        path,
        _df(spark, [("ZAF", 2015, 9.9, 200), ("NGA", 2015, 5.0, 200)]),
        ["country_iso3", "year"],
        "fetched_at",
    )
    rows = {
        (r.country_iso3, r.year): r.value
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {("ZAF", 2015): 9.9, ("KEN", 2015): 3.4, ("NGA", 2015): 5.0}


def test_merge_prefers_new_on_equal_version(spark):
    old = _df(spark, [("ZAF", 2015, 1.0, 100)])
    new = _df(spark, [("ZAF", 2015, 2.0, 100)])  # same version stamp
    merged = merge_last_write_wins(
        old, new, ["country_iso3", "year"], "fetched_at"
    ).collect()
    assert len(merged) == 1
    assert merged[0].value == 2.0


def test_upsert_parquet_empty_new_fresh_table(spark, tmp_path):
    """Empty new + no existing table: the count must come back 0, not
    raise on schema inference."""
    path = str(tmp_path / "t")
    empty = spark.createDataFrame(
        [], "k long, ver long, lang string"
    )
    assert upsert_parquet(spark, path, empty, ["k"], "ver") == 0


def test_returned_count_is_a_fresh_read_of_what_was_written(spark, tmp_path):
    """The count comes from an Observation on the staged write, not a
    re-read: it must equal a fresh read of the table, and of the same
    table after a replay."""
    keys = ["country_iso3", "year"]
    path = str(tmp_path / "whole")
    upsert_parquet(spark, path, _df(spark, [
        ("ZAF", 2015, 1.2, 100), ("KEN", 2015, 3.4, 100),
    ]), keys, "fetched_at")
    batch = _df(spark, [("ZAF", 2015, 9.9, 200), ("NGA", 2016, 5.0, 200)])
    n = upsert_parquet(spark, path, batch, keys, "fetched_at")
    assert n == spark.read.parquet(path).count() == 3
    n = upsert_parquet(spark, path, batch, keys, "fetched_at")
    assert n == spark.read.parquet(path).count() == 3


def test_empty_merge_counts_zero_without_blocking(spark, tmp_path):
    """An empty `new` into a fresh table returns 0 and leaves a readable
    empty table, both when the optimizer folds the merge to an empty
    relation up front (a local empty frame) and when AQE folds it at
    run time (a scan whose filter keeps nothing). The count must not
    wait forever on an Observation the folded plan never fills."""
    import threading

    src = str(tmp_path / "src")
    _df(spark, [("ZAF", 2015, 1.2, 100)]).write.parquet(src)
    cases = {
        "static": _df(spark, []),
        "runtime": spark.read.parquet(src).filter(F.col("value") > 100),
    }
    for name, new in cases.items():
        path = str(tmp_path / name)
        out = {}

        def run(path=path, new=new, out=out):
            out["n"] = upsert_parquet(
                spark, path, new, ["country_iso3", "year"], "fetched_at"
            )

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(120)
        assert not t.is_alive(), f"{name}: still waiting after 120 s"
        assert out.get("n") == 0, f"{name}: {out}"
        assert spark.read.parquet(path).count() == 0


def test_failed_write_cleans_up(spark, tmp_path, monkeypatch):
    """A staged write that raises inside upsert_parquet: the error
    propagates, the live table is unchanged, and neither the stage dir
    nor a commit record is left beside it."""
    import glob

    import pytest
    from pyspark.sql import DataFrameWriter

    path = str(tmp_path / "t")
    upsert_parquet(spark, path, _df(spark, [("ZAF", 2015, 1.2, 100)]),
                   ["country_iso3", "year"], "fetched_at")
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    real = DataFrameWriter.parquet

    def failing(self, p, *a, **kw):
        real(self, p, *a, **kw)  # leave staged files to clean up
        raise RuntimeError("staged write failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="staged write failed"):
        upsert_parquet(spark, path, _df(spark, [("KEN", 2015, 3.4, 200)]),
                       ["country_iso3", "year"], "fetched_at")
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    assert sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    ) == before
    assert not glob.glob(f"{path}.*")
