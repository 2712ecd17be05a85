"""Persistent IVF vector index AS A SNAPSHOT TABLE — the managed-index
architecture: cell assignments live in the transactional table format
(sources/snapshot_table.py), cell-clustered so the manifest min/max on
`cell` lets a probe SKIP every file holding no probed cell, and a
rebuild swaps the index under the same commit protocol as any other
table write.

Why this shape at 100 TB:
- ann_topk_ivf (operators/similarity.py) re-assigns the corpus on
  every call; an index you BUILD ONCE and serve many queries from must
  persist the assignment. Storing it as a snapshot table buys, for
  free, everything the format already guarantees: atomic index swaps,
  time travel to yesterday's index, compaction, retention.
- Cell-clustered files (repartition by cell before append, stat_cols
  = ["cell"]) turn the file-level stat pruning into the IVF probe: a
  search touching cells {3, 7} opens only the files whose [min, max]
  cell range intersects — the same IO discipline a dedicated vector
  store's posting lists give, expressed with parquet + manifests.
- Centroids are the only side state (k x dim floats): each build
  writes them to a CONTENT-ADDRESSED sidecar (_index/centroids-<sha>
  .json, immutable) and commits the sidecar's name as a table
  PROPERTY in the same atomic manifest as the assignments — so a
  reader resolving version V always loads the centroids that V's
  assignments were computed against. There is no window where new
  assignments pair with old centroids (the race ADVICE r6 flagged):
  a crash between sidecar write and commit leaves only an orphan
  sidecar; a concurrent reader keeps resolving the old commit and
  its old property.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.similarity import (
    _as_double,
    _cell_scores,
    cosine,
    train_ivf_centroids,
)
from data_engineering_pipeline_spark.sources.snapshot_table import (
    SnapshotTable,
)

CENTROIDS_PROP = "ann.centroids"


def _sidecar_dir(path: str) -> str:
    return os.path.join(path, "_index")


def _write_centroids(path: str, cents: list[list[float]]) -> str:
    """Write the centroid sidecar content-addressed and return its
    name. Immutable by construction: the same centroids always map to
    the same file, so a rewrite (or a crashed writer's replay) is a
    byte-identical no-op and concurrent readers can never observe a
    sidecar changing under a name they already resolved."""
    blob = json.dumps(cents, sort_keys=True).encode()
    name = f"centroids-{hashlib.sha256(blob).hexdigest()[:16]}.json"
    d = _sidecar_dir(path)
    os.makedirs(d, exist_ok=True)
    dst = os.path.join(d, name)
    if not os.path.exists(dst):
        tmp = dst + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, dst)
    return name


def load_centroids(path: str, version: int | None = None,
                   ) -> list[list[float]]:
    """Centroids AS OF a committed version (head by default): resolve
    the sidecar name from the table property committed with the
    assignments, then read that immutable sidecar. A table no build
    has committed to has no centroids: []."""
    t = SnapshotTable(None, path)
    name = t.properties_at(version).get(CENTROIDS_PROP)
    if name is None:
        return []
    with open(os.path.join(_sidecar_dir(path), name)) as fh:
        return json.load(fh)


def _assign_cell(vec_col, centroids) -> F.Column:
    """argmax cell of the raw vector against the unit centroids (raw
    dot ranks like cosine — |v| is constant across cells)."""
    scores = _cell_scores(vec_col, centroids)
    return F.array_max(scores)["idx"].cast("long")


def _clustered(df: DataFrame, n_cells: int) -> DataFrame:
    """Range-partition + sort by cell so each output file covers a
    tight cell range — the layout that makes probe-time file skipping
    effective. File count ~ min(n_cells, data size / file size)."""
    return df.repartitionByRange(
        max(1, min(n_cells, 32)), "cell"
    ).sortWithinPartitions("cell")


def build_ann_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 7,
    cell_of=None,
    code_of=None,
) -> SnapshotTable:
    """Build (or atomically REPLACE) the index: train centroids on the
    corpus (or use a caller-supplied deterministic `cell_of` quantizer
    — the oracle-gradeable config), assign every vector, and overwrite
    the snapshot table with the cell-clustered layout. The centroid
    sidecar is written FIRST (content-addressed, invisible until
    referenced) and its name rides the same manifest as the
    assignments, so assignments and centroids swap as one atom.

    `code_of` (vec column -> array<long> of PQ codes, e.g.
    pq_grid_encode) additionally stores a `codes` column, enabling the
    two-phase ann_index_search_pq probe whose candidate scan reads
    codes instead of vectors."""
    t = SnapshotTable(spark, path, stat_cols=["cell"])
    v = _as_double(F.col(vec_col))
    if cell_of is not None:
        cell = cell_of(F.col(vec_col))
        cents: list[list[float]] = []
    else:
        cents = train_ivf_centroids(
            corpus, vec_col, n_cells=n_cells, seed=seed
        )
        cell = _assign_cell(F.col(vec_col), cents)
    cols = [
        F.col(id_col).alias("vec_id"),
        v.alias("embedding"),
        cell.alias("cell"),
    ]
    if code_of is not None:
        cols.append(code_of(F.col(vec_col)).alias("codes"))
    rows = corpus.select(*cols)
    name = _write_centroids(path, cents)
    t.overwrite(
        _clustered(rows, n_cells), properties={CENTROIDS_PROP: name}
    )
    return t


def ann_index_search(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 1,
    cell_of=None,
    broadcast_probes: bool = True,
    version: int | None = None,
) -> DataFrame:
    """Serve top-k from the persisted index: each query probes its
    n_probe nearest cells (or its own deterministic cell), the index
    read is FILE-PRUNED to the probed cell range before Spark plans
    the scan, and candidates equi-join on cell — one shuffle on the
    probe pairs, never a corpus scan.

    Returns (query_id, corpus_id, cos_sim, rank<=k), cosine rounded
    4dp with corpus_id tie-break (the engine-independent ordering the
    oracle reproduces).

    Consistency: the search resolves ONE table version up front and
    uses that version's centroids AND files — a rebuild committing
    mid-search cannot pair new assignments with old centroids (or
    vice versa); the search just serves the slightly older snapshot,
    which is the snapshot-isolation answer. Callers that read the
    index AGAIN outside this function (e.g. hybrid_search fetching
    vectors for the MMR similarity join) should resolve
    latest_version() themselves once and pass it here, so both reads
    see the same snapshot."""
    t = SnapshotTable(spark, path, stat_cols=["cell"])
    if version is None:
        version = t.latest_version()
    if cell_of is not None:
        probes = queries.select(
            F.col(query_id),
            _as_double(F.col(vec_col)).alias("__qv"),
            cell_of(F.col(vec_col)).alias("cell"),
        )
    else:
        cents = load_centroids(path, version=version)
        scores = _cell_scores(F.col(vec_col), cents)
        ranked = F.slice(
            F.reverse(F.array_sort(scores)), 1, n_probe
        )
        probes = queries.select(
            F.col(query_id),
            _as_double(F.col(vec_col)).alias("__qv"),
            F.explode(
                F.transform(ranked, lambda s: s["idx"].cast("long"))
            ).alias("cell"),
        )
    # one driver-side pass collects the DISTINCT probed cells (bounded
    # by n_cells, tiny); the point-set prune then keeps only files
    # whose cell range can hold one of them — a min..max range would
    # be defeated the moment a query batch probes scattered cells
    cells = [
        r["cell"]
        for r in probes.select("cell").distinct().collect()
    ]
    idx = t.read(version=version, prune=[("cell", cells)])
    # a CONCENTRATED query batch prunes down to very few files, and one
    # parquet file is one scan task — the whole candidate join would
    # run on one core. Re-spread the (small, pruned) index side so the
    # per-pair cosine work parallelizes; measured 2.2x on a one-cell
    # batch at 200k vecs (BASELINE.md addendum 7).
    par = spark.sparkContext.defaultParallelism
    if len(idx.inputFiles()) < par:
        idx = idx.repartition(par)
    # broadcast the probe side (queries x n_probe rows — tiny for an
    # online batch) so the cell equi-join does NOT re-shuffle the index
    # by cell: a concentrated batch probing ONE cell would otherwise
    # collapse the whole candidate join onto a single partition no
    # matter how the scan side was spread. For offline mega-batches of
    # queries pass broadcast_probes=False (shuffle join + AQE skew).
    probe_side = F.broadcast(probes) if broadcast_probes else probes
    scored = (
        probe_side.join(idx, "cell")
        .filter(F.col("vec_id") != F.col(query_id))
        .select(
            query_id,
            F.col("vec_id").alias("corpus_id"),
            F.round(
                cosine(F.col("__qv"), F.col("embedding")), 4
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cos_sim"), "corpus_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id, "rank")
    )


def ann_index_search_pq(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 20,
    n_probe: int = 1,
    cell_of=None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF+PQ two-phase probe over a codes-bearing index (built with
    code_of) — the canonical billion-scale ANN layout (FAISS IVFPQ):

      phase 1 (coarse): probe cells as in ann_index_search, but the
        candidate scan projects ONLY (vec_id, cell, codes) — parquet
        column pruning drops the wide embedding column, so candidate
        IO per cell is a few bytes per vector instead of dim floats;
        ADC-score the codes and keep the top `refine` per query
        (adc desc, id tie-break — deterministic).
      phase 2 (refine): join the surviving ids back against the SAME
        pruned cell read, now projecting the vectors, and rank the
        final top-k by exact rounded cosine.

    The refine set is `refine` rows per query, so phase 2's vector IO
    is bounded by the query batch, not the cell population. Both
    phases resolve ONE table version (snapshot isolation, as
    ann_index_search)."""
    from data_engineering_pipeline_spark.operators.similarity import (
        cosine,
        pq_grid_adc,
    )

    t = SnapshotTable(spark, path, stat_cols=["cell"])
    version = t.latest_version()
    if cell_of is not None:
        probes = queries.select(
            F.col(query_id),
            _as_double(F.col(vec_col)).alias("__qv"),
            cell_of(F.col(vec_col)).alias("cell"),
        )
    else:
        cents = load_centroids(path, version=version)
        scores = _cell_scores(F.col(vec_col), cents)
        ranked = F.slice(F.reverse(F.array_sort(scores)), 1, n_probe)
        probes = queries.select(
            F.col(query_id),
            _as_double(F.col(vec_col)).alias("__qv"),
            F.explode(
                F.transform(ranked, lambda s: s["idx"].cast("long"))
            ).alias("cell"),
        )
    cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    pruned = t.read(version=version, prune=[("cell", cells)])
    par = spark.sparkContext.defaultParallelism
    if len(pruned.inputFiles()) < par:
        pruned = pruned.repartition(par)
    probe_side = F.broadcast(probes) if broadcast_probes else probes
    # phase 1: codes-only candidate scoring
    codes_side = pruned.select("vec_id", "cell", "codes")
    adc_scored = (
        probe_side.join(codes_side, "cell")
        .filter(F.col("vec_id") != F.col(query_id))
        .select(
            query_id,
            "__qv",
            F.col("vec_id").alias("corpus_id"),
            pq_grid_adc(F.col("__qv"), F.col("codes")).alias("adc"),
        )
    )
    wa = Window.partitionBy(query_id).orderBy(F.desc("adc"), "corpus_id")
    survivors = (
        adc_scored.withColumn("__r", F.row_number().over(wa))
        .filter(F.col("__r") <= refine)
        .select(query_id, "__qv", "corpus_id")
    )
    # phase 2: exact re-rank of the bounded refine set
    vec_side = pruned.select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    exact = survivors.join(vec_side, "corpus_id").select(
        query_id,
        "corpus_id",
        F.round(cosine(F.col("__qv"), F.col("embedding")), 4).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), "corpus_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id, "rank")
    )
