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


def test_partitioned_upsert_prunes_and_stays_idempotent(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    path = os.path.join(tmp_path, "raw_part")
    batch = _df(
        spark,
        [("ZAF", 2015, 1.2, 100), ("ZAF", 2016, 2.2, 100), ("KEN", 2015, 3.4, 100)],
    )
    upsert_parquet(
        spark, path, batch, ["country_iso3", "year"], "fetched_at",
        partition_cols=["year"],
    )
    upsert_parquet(
        spark, path, batch, ["country_iso3", "year"], "fetched_at",
        partition_cols=["year"],
    )
    df = spark.read.parquet(path)
    assert df.count() == 3
    scan = df.filter(F.col("year") == 2015)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert scan.count() == 2


def test_scoped_upsert_leaves_no_remnants(spark, tmp_path):
    """A successful scoped upsert cleans up its staging and aside dirs."""
    import glob

    path = str(tmp_path / "clean")
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (3, "en", "c", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet(spark, path, base, ["k"], "ver", ["lang"])
    batch = spark.createDataFrame(
        [(1, "de", "a2", 2)], "k long, lang string, v string, ver long"
    )
    upsert_parquet(spark, path, batch, ["k"], "ver", ["lang"])
    assert not glob.glob(f"{path}.*")


def test_scoped_upsert_touches_only_batch_partitions(spark, tmp_path):
    """Partition-scoped upsert rewrites only the partitions present in
    the batch: untouched partitions keep their exact files on disk, the
    merge is idempotent, and the pruned read shows PartitionFilters."""
    import glob
    import os

    path = str(tmp_path / "scoped")
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "de", "b", 1), (3, "en", "c", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet(spark, path, base, ["k"], "ver", ["lang"])
    en_files_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/lang=en/*.parquet")
    }
    assert en_files_before

    batch = spark.createDataFrame(
        [(1, "de", "a2", 2), (4, "de", "d", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet(spark, path, batch, ["k"], "ver", ["lang"])
    # untouched partition: identical files, untouched mtimes
    en_files_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/lang=en/*.parquet")
    }
    assert en_files_after == en_files_before

    rows = {
        r.k: (r.lang, r.v, r.ver)
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {
        1: ("de", "a2", 2),
        2: ("de", "b", 1),
        3: ("en", "c", 1),
        4: ("de", "d", 1),
    }
    # idempotent: replaying the batch changes nothing
    upsert_parquet(spark, path, batch, ["k"], "ver", ["lang"])
    assert {
        r.k: (r.lang, r.v, r.ver)
        for r in spark.read.parquet(path).collect()
    } == rows


def test_scoped_bootstrap_stages_and_empty_batch(spark, tmp_path):
    """The scoped upsert's bootstrap must stage (a crash mid-write to
    the live path would wedge the table unreadably), and an empty
    batch must no-op instead of raising on a None predicate."""
    import os

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1, "en"), (2, 1, "de")], "k long, ver long, lang string"
    )
    n = upsert_parquet(spark, path, df, ["k"], "ver", ["lang"])
    assert n == 2 and os.listdir(tmp_path) == ["t"]  # staging cleaned up
    empty = df.limit(0)
    assert upsert_parquet(
        spark, path, empty, ["k"], "ver", ["lang"]
    ) == 0
    assert spark.read.parquet(path).count() == 2


def test_upsert_parquet_empty_new_fresh_table(spark, tmp_path):
    """Empty new + no existing table: the partitioned empty write has
    no data files; the count must come back 0 via the explicit-schema
    read, not raise on schema inference."""
    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    empty = spark.createDataFrame(
        [], "k long, ver long, lang string"
    )
    assert upsert_parquet(
        spark, path, empty, ["k"], "ver", ["lang"]
    ) == 0


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
