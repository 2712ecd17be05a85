"""Persistent IVF index on the snapshot table: build/search recall,
probe-time file skipping, centroids versioned with the assignments,
two-phase PQ search."""

from __future__ import annotations

import pytest

import math
import random

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.ann_index import (
    ann_index_search,
    build_ann_index,
    load_centroids,
)
from data_engineering_pipeline_spark.operators.similarity import (
    ann_topk_brute,
)


def _clustered_vecs(n, dim=16, n_clusters=8, seed=3):
    """Gaussian blobs — the distribution IVF is for."""
    rnd = random.Random(seed)
    centers = [
        [rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        v = [x + rnd.gauss(0, 0.15) for x in c]
        nrm = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / nrm for x in v]))
    return rows


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_build_search_recall_and_pruning(spark, tmp_path):
    rows = _clustered_vecs(1200)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    t = build_ann_index(spark, df, path, n_cells=8)
    assert len(load_centroids(path)) == 8

    queries = df.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_index_search(spark, queries, path, k=5, n_probe=2)
    # probe read is file-pruned: fewer files than the full table
    all_files = t.read().inputFiles()
    assert len(all_files) > 1

    # recall vs brute force on blob data with 2/8 probes
    brute = ann_topk_brute(
        queries, df.select(F.col("vec_id").alias("corpus_id"), "embedding"),
        k=5,
    )
    want = {(r.query_id, r.corpus_id) for r in brute.collect()}
    have = {(r.query_id, r.corpus_id) for r in got.collect()}
    recall = len(want & have) / len(want)
    assert recall >= 0.9, recall


def test_search_reads_fewer_files_than_table(spark, tmp_path):
    """The probe's pruned read must hand Spark strictly fewer files
    when queries concentrate in one cell range."""
    rows = _clustered_vecs(1200)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx3")
    t = build_ann_index(spark, df, path, n_cells=8)
    n_all = len(t.read().inputFiles())
    # one query -> one probed cell -> the pruned range is one cell wide
    q1 = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = load_centroids(path)
    from data_engineering_pipeline_spark.operators.ann_index import (
        _assign_cell,
    )

    cell = q1.select(
        _assign_cell(F.col("embedding"), cents).alias("c")
    ).collect()[0]["c"]
    pruned = t.read(prune=[("cell", cell, cell)])
    assert len(pruned.inputFiles()) < n_all


def test_centroids_versioned_with_snapshot(spark, tmp_path):
    """ADVICE r6: assignments and centroids must swap as one atom. A
    rebuild changes both in a single commit; load_centroids(version=)
    resolves the centroids each version's assignments were computed
    with, and a search issued against the pre-rebuild version stays
    internally consistent."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    rows = _clustered_vecs(600)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "vc")
    build_ann_index(spark, df, path, n_cells=4, seed=7)
    t = SnapshotTable(spark, path)
    v0 = t.latest_version()
    c0 = load_centroids(path, version=v0)
    assert len(c0) == 4

    # rebuild with different geometry: one commit swaps both
    build_ann_index(spark, df, path, n_cells=8, seed=11)
    v1 = t.latest_version()
    assert v1 > v0
    c1 = load_centroids(path)  # head
    assert len(c1) == 8 and c1 != c0
    # time travel: the old version still pairs with the OLD centroids
    assert load_centroids(path, version=v0) == c0
    # and both sidecars exist immutably (content-addressed)
    assert t.properties_at(v0) != t.properties_at(v1)

    # search after the rebuild serves the new index coherently: every
    # query finds a same-blob neighbour (self excluded; blob noise is
    # tiny, so the nearest other member is still near-parallel)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = ann_index_search(spark, q, path, k=1, n_probe=2).collect()
    assert len(hits) == 5
    assert all(r.cos_sim > 0.95 for r in hits)


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_ivfpq_two_phase_recall_and_column_pruning(spark, tmp_path):
    from data_engineering_pipeline_spark.operators.ann_index import (
        ann_index_search_pq,
    )
    from data_engineering_pipeline_spark.operators.similarity import (
        pq_grid_encode,
    )

    # 64-dim blobs (the PQ grid defaults quantize dims 0,1 of each
    # 16-dim subspace over [-0.5, 0.5])
    rnd = random.Random(5)
    centers = [
        [rnd.uniform(-0.4, 0.4) for _ in range(64)] for _ in range(6)
    ]
    rows = []
    for i in range(900):
        c = centers[i % 6]
        rows.append((i, [x + rnd.gauss(0, 0.03) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpq")
    build_ann_index(
        spark, df, path, n_cells=6, code_of=pq_grid_encode
    )
    queries = df.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_index_search_pq(
        spark, queries, path, k=5, refine=40, n_probe=2
    )
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    # phase 1's candidate scan projects codes but NOT the vectors —
    # the IO claim of the layout, visible as a parquet ReadSchema
    schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert any(
        "codes" in s and "embedding" not in s for s in schemas
    ), schemas
    assert got.count() == 15 * 5

    # with refine >= probed-cell population, phase 1 keeps every
    # candidate and the two-phase result must EQUAL the exact IVF
    # search — the plumbing invariant that isolates ADC-filter loss
    # (within-blob vectors share codes, so small refine trades recall
    # for IO by design) from implementation bugs
    exact = ann_index_search(spark, queries, path, k=5, n_probe=2)
    full = ann_index_search_pq(
        spark, queries, path, k=5, refine=1000, n_probe=2
    )
    assert {tuple(r) for r in full.collect()} == {
        tuple(r) for r in exact.collect()
    }
