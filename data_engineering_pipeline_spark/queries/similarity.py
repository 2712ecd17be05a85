"""Similarity-search queries over the embeddings table. Every entry has
a DuckDB oracle:

- ann-topk-cosine: exact brute-force top-5 — ranking by ROUNDED cosine
  with id tie-break so order is engine-independent.
- ann-topk-lsh / ann-topk-ivf: the approximate operators run in their
  GRADED configuration — candidate set provably exhaustive (multiprobe
  radius >= bits; n_probe == n_cells), so the output equals brute force
  and shares its oracle. The machinery exercised (signatures, banding,
  bucket join / cell assignment, probe ranking, candidate scoring) is
  identical to the production configs, whose recall/cost tradeoffs are
  measured in tests/test_similarity.py.
- dedup-embedding-cosine: all-pairs near-dup (cosine >= 0.4) — the
  gated exact verifier.
- dedup-embedding-lsh: the bucketed near-dup scale path, graded with
  2*probe_radius >= bits (provably == all-pairs).
- embedding-centroids: per-label centroid as SCALAR rows with an exact
  scaled-integer mean (both engines do identical int64 + IEEE ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.similarity import (
    ann_topk_brute,
    ann_topk_lsh,
    cosine_pairs,
    cosine_pairs_lsh,
)
from data_engineering_pipeline_spark.sources import load_table
from data_engineering_pipeline_spark._tmpdirs import fresh_tmpdir

QUERIES = {}
ORACLES = {}

EMBED_DIM = 64
N_QUERIES = 10
TOP_K = 5
NEARDUP_THRESHOLD = 0.4


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_VECS = """
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
"""

_TOPK_ORACLE = f"""
    WITH {_VECS},
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
          FROM n WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS corpus_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS cos_sim
      FROM q, n c WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, corpus_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, corpus_id) AS INTEGER) AS "rank"
    FROM scored
    QUALIFY "rank" <= {TOP_K}
    ORDER BY query_id, "rank"
    """

_PAIRS_ORACLE = f"""
    WITH {_VECS}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
          >= {NEARDUP_THRESHOLD}
    ORDER BY id_a, id_b
    """


def _query_corpus(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return queries, corpus


@_register("ann-topk-cosine", _TOPK_ORACLE)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return ann_topk_brute(queries, corpus, k=TOP_K).orderBy("query_id", "rank")


@_register("ann-topk-lsh", _TOPK_ORACLE)
def ann_topk_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane-LSH top-5, graded config: probe_radius ==
    bits probes every bucket, so the candidate set is provably the whole
    corpus and the output equals ann-topk-cosine (hence the shared
    oracle). Production configs (bits 8-16, radius 1-2, several tables)
    probe ~ tables * sum_i C(bits, i) / 2^bits of the corpus; recall is
    measured in tests/test_similarity.py (0.96 @ bits=4, 16 tables on
    this uniform-random corpus)."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return ann_topk_lsh(
        queries,
        corpus,
        dim=EMBED_DIM,
        k=TOP_K,
        bits=4,
        n_tables=1,
        probe_radius=4,
    ).orderBy("query_id", "rank")


@_register("ann-topk-ivf", _TOPK_ORACLE)
def ann_topk_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans coarse quantizer) top-5, graded config: n_probe ==
    n_cells scores every cell, so the output provably equals brute
    force (shared oracle) while exercising the full IVF machinery —
    distributed KMeans fit, unit-centroid cell assignment, probe
    ranking, per-cell candidate join, precomputed-norm scoring.
    Production probes a fraction of cells; the recall/scan-fraction
    curve (incl. corpus_assign replication) is measured in
    tests/test_similarity.py."""
    from data_engineering_pipeline_spark.operators.similarity import ann_topk_ivf

    queries, corpus = _query_corpus(spark, sf_dir)
    return ann_topk_ivf(
        queries, corpus, k=TOP_K, n_cells=16, n_probe=16
    ).orderBy("query_id", "rank")


@_register("dedup-embedding-cosine", _PAIRS_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4) — the exact
    all-pairs verifier, gated to small n (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(
        emb, "vec_id", "embedding", NEARDUP_THRESHOLD
    ).orderBy("id_a", "id_b")


@_register("dedup-embedding-lsh", _PAIRS_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup — the scale path composing the
    hyperplane bucketer with exact verification. Graded config: bits=2
    with probe_radius=1 covers signature hamming <= 2 == all signature
    space, so the pair set provably equals the all-pairs oracle.
    Production: bits 12-16, radius 0-1, several tables — intra-bucket
    pairs only, never O(n^2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_lsh(
        emb,
        "vec_id",
        "embedding",
        NEARDUP_THRESHOLD,
        dim=EMBED_DIM,
        bits=2,
        n_tables=1,
        probe_radius=1,
    ).orderBy("id_a", "id_b")


@_register("dedup-embedding-incremental-store", _PAIRS_ORACLE)
def dedup_embedding_incremental_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-batch incremental embedding near-dup through the bucketed
    vector index store (operators/vec_store.py, r12) — the embedding
    twin of dedup-incremental-store and the first ORACLE-graded path
    through VecIndexStore.
    vec_id % 3 == 0 lands as batch 1, everything else probes as batch
    2 against the PERSISTED store — the probe opens only the
    (tbl, sig-prefix) partitions its own mask-expanded signatures
    hash into, never rescanning the corpus. Graded config bits=2,
    n_tables=1, probe_radius=2: radius >= bits makes the candidate
    set provably exhaustive (probe masks cover all 2^2 signatures),
    so probe-1 yields every qualifying batch-1 pair, probe-2 every
    pair touching batch 2, and the union equals the all-pairs cosine
    oracle exactly (same round-to-4 + threshold rule as the store's
    verify stage). Store state lives in a per-run temp dir
    (fresh_tmpdir — swept on the NEXT invocation, not at return,
    because the result frame is still lazy over the store files).
    Production configs (bits 12-16, radius 0-1, several tables) are
    covered by tests/test_vec_store.py's flat-parity and pruning
    suites."""
    import os

    from data_engineering_pipeline_spark.operators.vec_store import (
        VecIndexStore,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = emb.filter(F.pmod("vec_id", F.lit(3)) == 0)
    b2 = emb.filter(F.pmod("vec_id", F.lit(3)) != 0)
    root = fresh_tmpdir("vec_store_q_")
    st = VecIndexStore(
        spark, os.path.join(root, "st"), id_col="vec_id",
        vec_col="embedding", dim=EMBED_DIM, bits=2, n_tables=1,
    )
    f1, p1 = st.probe(b1, threshold=NEARDUP_THRESHOLD, probe_radius=2)
    st.commit(f1, 1)
    _, p2 = st.probe(b2, threshold=NEARDUP_THRESHOLD, probe_radius=2)
    return (
        p1.unionByName(p2)
        .select("id_a", "id_b", "cos_sim")
        .distinct()
        .orderBy("id_a", "id_b")
    )


@_register(
    "embedding-centroids",
    """
    WITH ex AS (
      SELECT label, ord, val FROM (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS ord,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                 AS val
        FROM embeddings)
    ), per AS (
      SELECT label, CAST(ord - 1 AS INTEGER) AS pos,
             CAST(sum(CAST(floor(val * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS n_members
      FROM ex GROUP BY 1, 2
    )
    SELECT label, pos,
           floor((s * 2 + n_members) / (n_members * 2)) / 1000000.0
             AS centroid_v,
           n_members
    FROM per ORDER BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (class prototype) of the embedding column as
    SCALAR rows (label, pos, centroid_v, n_members) — one row per
    dimension, so the result is hashable and DuckDB-comparable.

    Exactness: each float is quantized to integer micro-units with
    floor(v * 1e6 + 0.5) (identical IEEE ops in both engines), summed
    in int64 (order-independent), and the mean is rounded half-up via
    the scaled-integer pattern of queries/_exact.py — floor((2S + C) /
    (2C)) — entirely in arithmetic both engines execute bit-identically.

    Scale: posexplode fans each vector into (label, pos, value) rows;
    groupBy(label, pos) partial-aggregates map-side, so the shuffle
    carries one partial per (label, dim) per partition — independent of
    corpus size. No driver-side vectors, no array columns in the out."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    )
    units = F.floor(F.col("col") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    per = ex.groupBy("label", "pos").agg(
        F.sum(units).alias("s"), F.count(F.lit(1)).alias("n_members")
    )
    centroid = F.floor(
        (F.col("s") * 2 + F.col("n_members")) / (F.col("n_members") * 2)
    ) / F.lit(1000000.0)
    return per.select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        centroid.alias("centroid_v"),
        "n_members",
    ).orderBy("label", "pos")


# Graded semantic-dedup quantizer: a deterministic 4x4 grid over the
# first two embedding dims (bounds cover the data range; grid_coord
# clamps outliers into edge cells). Chosen over the production KMeans
# quantizer for GRADING only because the cell id is plain floor/clamp
# arithmetic both engines execute bit-identically — the pairing
# machinery after assignment (cell equi-join, precomputed-norm verify,
# any-lower-neighbor rule) is exactly the production path, and unlike
# an n_cells=1 grading the cell predicate survives into the physical
# plan as a real shuffled equi-join (no constant folding into O(n^2)).
_SEM_BITS = 2
_SEM_LO, _SEM_HI = -0.6, 0.6
_SEM_DIMS = 2


def _sem_finite_col(e):
    """Non-finite (NaN/inf) or null embedding values sentinel to the
    grid's lower bound BEFORE quantizing — otherwise Spark's
    floor(NaN) cast yields a null cell (row silently exits the
    equi-join) while DuckDB's CAST raises, and the engines diverge on
    bad input. Clamping to _SEM_LO lands the row in edge cell 0 in
    both engines."""
    return F.when(
        e.isNotNull() & ~F.isnan(e) & (F.abs(e) < F.lit(float("inf"))), e
    ).otherwise(F.lit(float(_SEM_LO)))


def _sem_cell_col(v):
    from data_engineering_pipeline_spark.operators.similarity import grid_cell

    sanitized = F.array(
        *[_sem_finite_col(F.element_at(v, j + 1)) for j in range(_SEM_DIMS)]
    )
    return grid_cell(
        sanitized, [(_SEM_LO, _SEM_HI)] * _SEM_DIMS, bits=_SEM_BITS
    )


def _sem_cell_sql(col: str) -> str:
    def elem(j: int) -> str:
        # same non-finite sentinel as _sem_finite_col (isfinite(NULL)
        # is NULL -> ELSE branch, matching the Column side)
        return (
            f"CASE WHEN isfinite({col}[{j + 1}]) THEN {col}[{j + 1}]"
            f" ELSE CAST({_SEM_LO} AS DOUBLE) END"
        )

    digits = [
        f"""greatest(least(CAST(floor(({elem(j)}
            - CAST({_SEM_LO} AS DOUBLE))
            / CAST({_SEM_HI - _SEM_LO} AS DOUBLE)
            * CAST({float(1 << _SEM_BITS)} AS DOUBLE)) AS BIGINT),
            {(1 << _SEM_BITS) - 1}), 0)"""
        for j in range(_SEM_DIMS)
    ]
    acc = digits[0]
    for d in digits[1:]:
        acc = f"(({acc}) * {1 << _SEM_BITS} + ({d}))"
    return acc


@_register(
    "dedup-semantic",
    f"""
    WITH {_VECS},
    g AS (SELECT vec_id, v, nrm, {_sem_cell_sql('v')} AS cell FROM n),
    dups AS (
      SELECT b.vec_id AS id, CAST(count(*) AS BIGINT) AS n_lower_dups
      FROM g a JOIN g b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
            >= {NEARDUP_THRESHOLD}
      GROUP BY 1)
    SELECT g.vec_id, d.id IS NULL AS kept,
           coalesce(d.n_lower_dups, CAST(0 AS BIGINT)) AS n_lower_dups
    FROM g LEFT JOIN dups d ON g.vec_id = d.id
    ORDER BY g.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/similarity.py semantic_dedup),
    graded MULTI-CELL config: a deterministic grid quantizer
    (grid_cell over the first two dims, 16 cells) replaces KMeans so
    DuckDB can compute the identical cell assignment, while the plan is
    the production shape — cell equi-join (shuffled hash/sort-merge,
    never a constant-folded nested loop), within-cell exact verify,
    any-lower-neighbor drop rule. Production: KMeans quantizer,
    n_cells ~ N/1000; recall on a clustered corpus is measured in
    tests/test_similarity.py; the n_cells=1 exhaustive verifier is
    gated to small n."""
    from data_engineering_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        NEARDUP_THRESHOLD,
        cell_of=_sem_cell_col,
    ).orderBy("vec_id")


@_register(
    "ann-index-table",
    f"""
    WITH {_VECS},
    g AS (SELECT vec_id, v, nrm, {_sem_cell_sql('v')} AS cell FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell
          FROM g WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS corpus_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4)
               AS cos_sim
      FROM q JOIN g c ON q.cell = c.cell AND c.vec_id <> q.query_id
    )
    SELECT query_id, corpus_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, corpus_id) AS INTEGER) AS "rank"
    FROM scored QUALIFY "rank" <= {TOP_K}
    ORDER BY query_id, "rank"
    """,
)
def ann_index_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index as a snapshot table
    (operators/ann_index.py): BUILD the cell-clustered index table,
    then SERVE top-5 for the first 10 vectors from the persisted
    files — probe reads are file-pruned by the manifest cell stats.
    Graded config: the deterministic grid quantizer (same as
    dedup-semantic) replaces KMeans and each query probes its own
    cell, which the oracle mirrors exactly (within-cell top-k); the
    KMeans + n_probe production path shares all machinery, recall
    measured in tests/test_ann_index.py."""
    import os

    from data_engineering_pipeline_spark.operators.ann_index import (
        ann_index_search,
        build_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = fresh_tmpdir("ann_idx_q_")
    path = os.path.join(base, "idx")
    build_ann_index(
        spark, emb, path, id_col="vec_id", cell_of=_sem_cell_col
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_search(
        spark, queries, path, k=TOP_K, cell_of=_sem_cell_col
    )


def _pq_oracle() -> str:
    from data_engineering_pipeline_spark.operators.similarity import (
        PQ_BITS,
        PQ_HI,
        PQ_LO,
        PQ_M,
        PQ_SUB,
    )

    cells = 1 << PQ_BITS
    step = (PQ_HI - PQ_LO) / cells

    def axis_code(d: int) -> str:
        return (
            f"greatest(least(CAST(floor((v[{d}] - ({PQ_LO!r})) /"
            f" ({step!r})) AS BIGINT), {cells - 1}), 0)"
        )

    code_exprs = [
        f"({axis_code(j * PQ_SUB + 1)} * {cells}"
        f" + {axis_code(j * PQ_SUB + 2)})"
        for j in range(PQ_M)
    ]

    def center(code_expr: str) -> str:
        return f"(({PQ_LO!r}) + (CAST({code_expr} AS DOUBLE) + 0.5) * ({step!r}))"

    terms = []
    for j in range(PQ_M):
        cj = f"c.codes[{j + 1}]"
        cx = center(f"({cj} // {cells})")
        cy = center(f"({cj} % {cells})")
        terms.append(
            f"(q.qv[{j * PQ_SUB + 1}] * {cx}"
            f" + q.qv[{j * PQ_SUB + 2}] * {cy})"
        )
    adc = " + ".join(terms)
    return f"""
    WITH {_VECS},
    c AS (SELECT vec_id, [{", ".join(code_exprs)}] AS codes FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv FROM n
          WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS corpus_id, {adc} AS adc
      FROM q, c WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, corpus_id, adc,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY adc DESC, corpus_id) AS INTEGER) AS "rank"
    FROM scored
    QUALIFY "rank" <= {TOP_K}
    ORDER BY query_id, "rank"
    """


@_register("ann-topk-pq", _pq_oracle())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/similarity.py, Jégou et al.
    2011), graded grid config: the corpus is reduced to 4 codes per
    vector (64x smaller than the raw 64-dim floats) before the scoring
    join, queries score codes via closed-form ADC, ranking tie-broken
    by id. Codes, scores, and ranks are bit-deterministic, so the
    oracle reproduces the whole pipeline. The production path (per-
    subspace KMeans codebooks, argmin encoding) is measured in
    tests/test_similarity.py."""
    from data_engineering_pipeline_spark.operators.similarity import (
        ann_topk_pq_grid,
    )

    queries, corpus = _query_corpus(spark, sf_dir)
    return ann_topk_pq_grid(queries, corpus, k=TOP_K).orderBy(
        "query_id", "rank"
    )


_PQ_REFINE = 20


def _ivfpq_oracle() -> str:
    from data_engineering_pipeline_spark.operators.similarity import (
        PQ_BITS,
        PQ_HI,
        PQ_LO,
        PQ_M,
        PQ_SUB,
    )

    cells = 1 << PQ_BITS
    step = (PQ_HI - PQ_LO) / cells

    def axis_code(d: int) -> str:
        return (
            f"greatest(least(CAST(floor((v[{d}] - ({PQ_LO!r})) /"
            f" ({step!r})) AS BIGINT), {cells - 1}), 0)"
        )

    code_exprs = [
        f"({axis_code(j * PQ_SUB + 1)} * {cells}"
        f" + {axis_code(j * PQ_SUB + 2)})"
        for j in range(PQ_M)
    ]

    def center(code_expr: str) -> str:
        return (
            f"(({PQ_LO!r}) + (CAST({code_expr} AS DOUBLE) + 0.5)"
            f" * ({step!r}))"
        )

    terms = []
    for j in range(PQ_M):
        cj = f"c.codes[{j + 1}]"
        cx = center(f"({cj} // {cells})")
        cy = center(f"({cj} % {cells})")
        terms.append(
            f"(q.qv[{j * PQ_SUB + 1}] * {cx}"
            f" + q.qv[{j * PQ_SUB + 2}] * {cy})"
        )
    adc = " + ".join(terms)
    return f"""
    WITH {_VECS},
    g AS (SELECT vec_id, v, nrm, {_sem_cell_sql('v')} AS cell,
                 [{", ".join(code_exprs)}] AS codes
          FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell
          FROM g WHERE vec_id < {N_QUERIES}),
    phase1 AS (
      SELECT q.query_id, c.vec_id AS corpus_id, {adc} AS adc
      FROM q JOIN g c ON q.cell = c.cell AND c.vec_id <> q.query_id
    ),
    survivors AS (
      SELECT query_id, corpus_id FROM phase1
      QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY adc DESC, corpus_id) <= {_PQ_REFINE}
    ),
    phase2 AS (
      SELECT s.query_id, s.corpus_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4)
               AS cos_sim
      FROM survivors s
      JOIN q ON q.query_id = s.query_id
      JOIN g c ON c.vec_id = s.corpus_id
    )
    SELECT query_id, corpus_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, corpus_id) AS INTEGER) AS "rank"
    FROM phase2 QUALIFY "rank" <= {TOP_K}
    ORDER BY query_id, "rank"
    """


@_register("ann-index-ivfpq", _ivfpq_oracle())
def ann_index_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ two-phase probe over the persisted index
    (operators/ann_index.py ann_index_search_pq): the index stores PQ
    codes next to each vector; phase 1 scans ONLY (id, cell, codes) of
    the probed cells — parquet column pruning keeps the wide embedding
    column out of the candidate scan — and keeps the top-20 by ADC;
    phase 2 re-ranks just those by exact cosine. Graded config: grid
    cell quantizer + grid codebooks, every intermediate deterministic,
    so the oracle replays both phases exactly."""
    import os

    from data_engineering_pipeline_spark.operators.ann_index import (
        ann_index_search_pq,
        build_ann_index,
    )
    from data_engineering_pipeline_spark.operators.similarity import (
        pq_grid_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = fresh_tmpdir("ann_ivfpq_q_")
    path = os.path.join(base, "idx")
    build_ann_index(
        spark, emb, path, id_col="vec_id",
        cell_of=_sem_cell_col, code_of=pq_grid_encode,
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_search_pq(
        spark, queries, path, k=TOP_K, refine=_PQ_REFINE,
        cell_of=_sem_cell_col,
    )


@_register(
    "embedding-hard-pairs",
    f"""
    WITH {_VECS},
    l AS (SELECT n.vec_id, n.v, n.nrm, e2.label
          FROM n JOIN embeddings e2 USING (vec_id)),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, label AS ql
          FROM l WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS cid, q.ql, c.label AS cl,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4)
               AS s
      FROM q JOIN l c ON c.vec_id <> q.query_id
    ),
    neg AS (
      SELECT query_id, cid AS hard_neg_id, s AS hard_neg_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY s DESC, cid) AS rn
            FROM scored WHERE ql <> cl) WHERE rn = 1
    ),
    pos AS (
      SELECT query_id, cid AS hard_pos_id, s AS hard_pos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY s ASC, cid) AS rn
            FROM scored WHERE ql = cl) WHERE rn = 1
    )
    SELECT q.query_id, neg.hard_neg_id, neg.hard_neg_sim,
           pos.hard_pos_id, pos.hard_pos_sim
    FROM q LEFT JOIN neg USING (query_id)
    LEFT JOIN pos USING (query_id)
    ORDER BY q.query_id
    """,
)
def embedding_hard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (operators/similarity.py
    hard_pair_mining): for each of the first 10 vectors, the hardest
    negative (top-cosine different-label row) and hardest positive
    (bottom-cosine same-label row) — the mining step that turns a
    labeled embedding corpus into contrastive training pairs. Exact
    arm graded (rounded-cosine ranking, id tie-break); at corpus
    scale candidate generation swaps to the ANN index per label
    partition, feeding the same two windows."""
    from data_engineering_pipeline_spark.operators.similarity import (
        hard_pair_mining,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), "embedding", "label"
    )
    return hard_pair_mining(queries, corpus).orderBy("query_id")


@_register(
    "curation-cluster-balance",
    f"""
    WITH {_VECS},
    g AS (SELECT vec_id, {_sem_cell_sql('v')} AS cell FROM n),
    c AS (SELECT cell, count(*) AS n_vecs FROM g GROUP BY cell),
    p AS (SELECT cell, n_vecs,
                 CAST(floor(sqrt(CAST(min(n_vecs) OVER () AS DOUBLE)
                                 / n_vecs) * 1000000.0) AS BIGINT)
                   AS keep_ppm
          FROM c),
    k AS (
      SELECT g.cell, count(*) AS n_kept, sum(g.vec_id) AS kept_id_sum
      FROM g JOIN p USING (cell)
      WHERE ((g.vec_id * 69069 + 1) % 4294967296) % 1000000
            < p.keep_ppm
      GROUP BY g.cell
    )
    SELECT CAST(p.cell AS BIGINT) AS cell,
           CAST(p.n_vecs AS BIGINT) AS n_vecs, p.keep_ppm,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           k.kept_id_sum
    FROM p LEFT JOIN k ON k.cell = p.cell
    ORDER BY p.cell
    """,
)
def curation_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling: temperature rebalance
    (alpha=0.5) with EMBEDDING-SPACE CLUSTERS as the strata instead of
    metadata — the topic-balance step (DoReMi-style domain reweighting
    when no domain labels exist: over-represented regions of embedding
    space are downsampled by the sqrt law). Graded with the
    deterministic grid quantizer shared with dedup-semantic so the
    oracle computes identical cells; production swaps in the KMeans
    quantizer (train_ivf_centroids) with the same stratum contract.
    Scale: cell assignment is map-side arithmetic; the rebalancer
    shuffles only the |cells|-row count table — the corpus is
    filtered in place (the temperature_rebalance plan)."""
    from data_engineering_pipeline_spark.operators.sampling import (
        temperature_rebalance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id", _sem_cell_col(F.col("embedding")).alias("cell")
    )
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    mn = counts.agg(F.min("n_vecs").alias("__min_n"))
    ppm = counts.join(F.broadcast(mn)).select(
        "cell",
        "n_vecs",
        F.floor(
            F.sqrt(F.col("__min_n").cast("double") / F.col("n_vecs"))
            * F.lit(1_000_000.0)
        ).cast("long").alias("keep_ppm"),
    )
    kept = (
        temperature_rebalance(cells, "cell", 0.5, F.col("vec_id"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("__n_kept"),
            F.sum("vec_id").alias("__kept_sum"),
        )
    )
    return (
        ppm.join(kept, "cell", "left")
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            "keep_ppm",
            F.coalesce("__n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.col("__kept_sum").alias("kept_id_sum"),
        )
        .orderBy("cell")
    )
