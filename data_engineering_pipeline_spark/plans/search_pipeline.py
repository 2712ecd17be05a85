"""End-to-end retrieval pipeline — the search-tier counterpart of
plans/curation_pipeline.py, wiring the production components:

    offline                      online (per query)
    build_ann_index (IVF cells,  BM25 arm over documents (posting probe)
    snapshot table, file-pruned  + ANN arm from the PERSISTED index
    probes)                        (file-pruned cell probe, NOT brute)
                                 -> reciprocal-rank fusion (exact ints)
                                 -> grouped MMR diversity rerank

The graded queries (search-hybrid-rrf / search-mmr-rerank) run the
brute-cosine arm so a DuckDB oracle can replay them; THIS module is
the deployment shape — the semantic arm serves from the index table —
and the parity test pins that with an exhaustive probe
(n_probe == n_cells) the pipeline reproduces the graded MMR output
row for row. At scale you lower n_probe (recall/cost measured in
tests/test_ann_index.py) and everything downstream is unchanged:
fusion and rerank only ever see (doc_id, rank) contracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.ann_index import (
    ann_index_search,
    build_ann_index,
)
from data_engineering_pipeline_spark.operators.search import (
    bm25_scores,
    mmr_rerank,
)
from data_engineering_pipeline_spark.operators.similarity import (
    cosine_ratio,
    dot,
    norm,
)

# Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
# the lexical BM25 arm and the semantic cosine arm — the standard
# hybrid-retrieval combiner. RRF contributions are SCALED-INTEGER
# reciprocals (10^9 div (60 + rank)) so the fused score is exact int64
# arithmetic: no float-sum ordering issues cross-engine, and the sum is
# order-independent. Each arm's rank comes from its own engine-stable
# ordering (rounded score desc, id). The graded queries
# (queries/search.py) use the same constants.
RRF_K = 60
RRF_SCALE = 1_000_000_000
RRF_ARM_DEPTH = 50
RRF_TOP = 20
MMR_K = 10
_MMR_SIM_SCALE = 10_000_000  # 4-dp cosine -> exact int64 penalty


def build_search_index(
    spark: SparkSession,
    embeddings: DataFrame,
    index_path: str,
    n_cells: int = 8,
) -> None:
    """Offline step: persist the IVF-clustered vector index (atomic
    snapshot-table overwrite; centroids version with the assignments)."""
    build_ann_index(
        spark, embeddings, index_path, n_cells=n_cells
    )


def _hybrid_candidates(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    query_terms: list[str],
    query_vecs: DataFrame,
    n_probe: int,
    arm_depth: int,
    top: int,
    index_version: int,
) -> DataFrame:
    """Candidate generation for hybrid_search: both retrieval arms +
    RRF fusion -> (query_id, doc_id, score), <= `top` rows per query.
    Split out (pre-checkpoint) so the plan-lint test can assert the
    arm ranking stays top-k-first."""
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps, no
    # single-partition sort of all scored docs), THEN rank: the
    # unpartitioned row_number window only ever sees <= arm_depth rows
    lex = bm25_scores(docs, query_terms, top_n=arm_depth)
    wl = Window.orderBy(F.desc("score"), "doc_id")
    lexr = lex.withColumn("rank_lex", F.row_number().over(wl)).select(
        "doc_id", "rank_lex"
    )
    hits = ann_index_search(
        spark,
        query_vecs,
        index_path,
        k=arm_depth + 1,  # headroom for the self-hit
        n_probe=n_probe,
        version=index_version,
    ).filter(F.col("corpus_id") != F.col("query_id"))
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), "corpus_id"
    )
    semr = (
        hits.withColumn("rank_sem", F.row_number().over(ws))
        .filter(F.col("rank_sem") <= arm_depth)
        .select("query_id", F.col("corpus_id").alias("doc_id"), "rank_sem")
    )
    qids = query_vecs.select("query_id").distinct()
    lex_all = qids.crossJoin(lexr)  # lexr is <= arm_depth rows
    fused = lex_all.join(semr, ["query_id", "doc_id"], "outer").withColumn(
        "rrf",
        F.expr(
            f"coalesce({RRF_SCALE} div ({RRF_K} + rank_lex), 0)"
            f" + coalesce({RRF_SCALE} div ({RRF_K} + rank_sem), 0)"
        ).cast("long"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= top)
        .select("query_id", "doc_id", F.col("rrf").alias("score"))
    )


def hybrid_search(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    query_terms: list[str],
    query_vecs: DataFrame,
    n_probe: int = 2,
    arm_depth: int = RRF_ARM_DEPTH,
    top: int = RRF_TOP,
    mmr_k: int = MMR_K,
) -> DataFrame:
    """Online path: BM25 arm + index-served ANN arm -> RRF -> MMR.
    query_vecs: (query_id, embedding) — one output ranking per query
    (grouped MMR). Self-hits (corpus vector == the query vector's id)
    are excluded from the semantic arm, matching the graded brute arm.

    Scale: the BM25 arm shuffles only matching postings; the ANN arm
    reads only the probed cells' files; fusion and the pair-similarity
    join touch <= top rows per query; the MMR recurrence runs one
    Arrow group per query."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    # Pin ONE index version up front: the candidate search and the
    # vector fetch for the MMR similarity join below must read the same
    # snapshot — a concurrent rebuild between unpinned reads would yield
    # candidates whose vec_ids are missing from the newer vector read,
    # silently dropping sims rows and zeroing their MMR penalties
    # (ann_index_search_pq already does this internally).
    index_table = SnapshotTable(spark, index_path)
    index_version = index_table.latest_version()

    cand = _hybrid_candidates(
        spark, docs, index_path, query_terms, query_vecs,
        n_probe=n_probe, arm_depth=arm_depth, top=top,
        index_version=index_version,
    ).localCheckpoint(eager=False)
    vecs = index_table.read(version=index_version).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("__v"),
    ).withColumn("__n", norm(F.col("__v")))
    cv = cand.join(vecs, "doc_id").select("query_id", "doc_id", "__v", "__n")
    a = cv.select(
        F.col("query_id"),
        F.col("doc_id").alias("ia"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = cv.select(
        F.col("query_id"),
        F.col("doc_id").alias("ib"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sims = a.join(
        F.broadcast(b),
        (a["query_id"] == b["query_id"]) & (F.col("ia") != F.col("ib")),
    ).select(
        a["query_id"],
        "ia",
        "ib",
        F.floor(
            F.round(
                cosine_ratio(
                    dot(F.col("__va"), F.col("__vb")),
                    F.col("__na") * F.col("__nb"),
                ),
                4,
            )
            * F.lit(float(_MMR_SIM_SCALE))
        ).alias("sim"),
    )
    return mmr_rerank(
        cand, sims, k=mmr_k, group_col="query_id"
    ).orderBy("query_id", "rank")
