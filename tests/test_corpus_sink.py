"""Corpus export layout: hive partition dirs, bounded file sizes,
in-file sort order, and a manifest that matches what was written."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.sources import load_table
from data_engineering_pipeline_spark.sources.corpus_sink import write_corpus


def test_write_corpus_layout_and_manifest(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, ("lang",), "doc_id", max_records_per_file=50)

    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    dirs = {
        os.path.basename(p).split("=", 1)[1]
        for p in glob.glob(f"{out}/lang=*")
    }
    assert dirs == langs

    # every data file respects the record cap and is sorted by doc_id
    for f in glob.glob(f"{out}/lang=*/*.parquet"):
        t = pq.read_table(f, columns=["doc_id"])
        assert t.num_rows <= 50
        ids = t.column("doc_id").to_pylist()
        assert ids == sorted(ids)

    # round trip: partitioned read equals input
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    # manifest agrees with the data actually written
    mf = {
        r["lang"]: (r["n_rows"], r["min_key"], r["max_key"])
        for r in spark.read.parquet(f"{out}/_manifest").collect()
    }
    actual = {
        r["lang"]: (r["n"], r["mn"], r["mx"])
        for r in back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        )
        .collect()
    }
    assert mf == actual


def test_write_corpus_partition_pruning(spark, sf_smoke, tmp_path):
    """A lang-filtered read of the export must scan only that
    partition directory (PartitionFilters, not a post-scan filter)."""
    docs = load_table(spark, sf_smoke, "documents")
    out = str(tmp_path / "corpus2")
    write_corpus(docs, out, ("lang",), "doc_id")
    df = spark.read.parquet(out).filter(F.col("lang") == "de")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(lang" in plan
    n_de = df.count()
    assert n_de == docs.filter(F.col("lang") == "de").count() > 0


def test_compact_corpus_reduces_files_preserves_data(spark, sf_smoke, tmp_path):
    from data_engineering_pipeline_spark.sources.corpus_sink import (
        compact_corpus,
    )

    docs = load_table(spark, sf_smoke, "documents")
    out = str(tmp_path / "corpus3")
    # fragment on purpose: tiny files
    write_corpus(docs, out, ("lang",), "doc_id", max_records_per_file=10)
    n_before = len(glob.glob(f"{out}/lang=*/*.parquet"))
    before = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("doc_id", "lang").collect()
    )

    n_after = compact_corpus(spark, out, ("lang",), "doc_id")
    assert n_after < n_before
    assert not glob.glob(f"{out}.*")  # no stage, aside or record left

    after = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("doc_id", "lang").collect()
    )
    assert after == before
    # manifest survives the swap and still matches
    mf_rows = sum(
        r["n_rows"]
        for r in spark.read.parquet(f"{out}/_manifest").collect()
    )
    assert mf_rows == len(after)
    # still sorted within files
    for f in glob.glob(f"{out}/lang=*/*.parquet"):
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        assert ids == sorted(ids)


def test_compact_corpus_two_level_and_unpartitioned_globs(spark, sf_smoke, tmp_path):
    """The post-compaction file count must be globbed at exactly
    len(partition_cols) hive levels — two partition columns nest two
    dirs deep, zero leaves files at the root."""
    from data_engineering_pipeline_spark.sources.corpus_sink import (
        compact_corpus,
    )

    docs = load_table(spark, sf_smoke, "documents")

    out2 = str(tmp_path / "two_level")
    write_corpus(docs, out2, ("lang", "source"), "doc_id",
                 max_records_per_file=10)
    true_before = len(glob.glob(f"{out2}/lang=*/source=*/*.parquet"))
    assert true_before > 0
    n_after = compact_corpus(spark, out2, ("lang", "source"), "doc_id")
    assert 0 < n_after < true_before
    assert n_after == len(glob.glob(f"{out2}/lang=*/source=*/*.parquet"))
    assert spark.read.parquet(out2).count() == docs.count()

    out0 = str(tmp_path / "flat")
    write_corpus(docs, out0, (), "doc_id", max_records_per_file=10)
    flat_before = len(glob.glob(f"{out0}/*.parquet"))
    assert flat_before > 0
    n_flat = compact_corpus(spark, out0, (), "doc_id")
    assert 0 < n_flat < flat_before
    assert n_flat == len(glob.glob(f"{out0}/*.parquet"))
    assert spark.read.parquet(out0).count() == docs.count()


def test_write_corpus_empty_input(spark, tmp_path):
    """An increment with zero surviving docs writes an EMPTY manifest
    instead of raising on schema inference over a data-less dir."""
    out = str(tmp_path / "empty")
    empty = spark.createDataFrame(
        [], "doc_id long, lang string, text string"
    )
    manifest = write_corpus(empty, out, ("lang",), "doc_id")
    assert manifest.count() == 0


def test_compact_corpus_counts_underscore_partition_column(
    spark, sf_smoke, tmp_path
):
    """ADVICE r9: a partition column whose name begins with an
    underscore (legal in Spark) produces `_col=value/` dirs; the data
    file count must include them — only non-hive metadata dirs (no
    '=': _manifest, _temporary) are excluded."""
    from data_engineering_pipeline_spark.sources.corpus_sink import (
        compact_corpus,
    )

    docs = load_table(spark, sf_smoke, "documents").withColumnRenamed(
        "lang", "_lang"
    )
    out = str(tmp_path / "uscore")
    write_corpus(docs, out, ("_lang",), "doc_id", max_records_per_file=10)
    n_after = compact_corpus(spark, out, ("_lang",), "doc_id")
    actual = len(glob.glob(f"{out}/_lang=*/*.parquet"))
    assert n_after == actual > 0
