"""Similarity search over embedding columns (array<float>).

- cosine(): pure built-in expression (zip_with + aggregate in DOUBLE) —
  JVM-side, no Python, exact enough to oracle-check at 4 dp.
- ann_topk_brute(): exact top-k per query via broadcast of the query set
  over the corpus — the baseline and the verifier for approximate paths.
  The corpus is never shuffled: queries broadcast, per-partition partial
  top-k via window over (query, rounded score, id).
- ann_topk_lsh(): the scale path — random-hyperplane LSH buckets the
  corpus; each query probes only its own buckets. Multiprobe
  (probe_radius) also visits buckets within hamming distance r of the
  query signature, trading candidates for tables; probe_radius >= bits
  makes the candidate set provably exhaustive (== brute force), which
  is how the graded query variant earns an exact oracle.
- cosine_pairs(): all-pairs near-dup over embeddings (a < b, cosine >=
  threshold), brute force with an explicit small-n gate — it is the
  verifier, not the scale path.
- cosine_pairs_lsh(): the scale path for embedding near-dup — bucket
  once per table, pair only within buckets, exact-verify the cosine.
  Self-join multiprobe with radius r covers signature hamming <= 2r,
  so 2*r >= bits is provably exhaustive (graded config).
- ann_topk_ivf(): KMeans coarse quantizer; corpus_assign > 1 indexes
  each corpus vector in its top-a cells (storage-for-recall trade, the
  FAISS-style replication trick), n_probe == n_cells is provably
  exhaustive. Norms are precomputed once per row on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_ratio(num: Column, den: Column) -> Column:
    """dot / (|a|*|b|) with a ZERO-NORM GUARD: this project runs Spark
    with ANSI mode on, where a plain division by a zero norm raises
    DIVIDE_BY_ZERO and kills the whole job (and permanently wedges a
    replaying stream) the moment one all-zero embedding appears —
    exactly the degenerate input the LSH docstrings call out.
    try_divide yields NULL instead: NULL similarities rank LAST under
    the desc orderings every top-k uses and fail every >= threshold
    pair filter, i.e. a direction-free vector is simply never
    similar to anything."""
    return F.try_divide(num, den)


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    return cosine_ratio(dot(da, db), norm(da) * norm(db))


def _rank_topk(scored: DataFrame, query_id: str, corpus_id: str,
               score_col: str, k: int) -> DataFrame:
    """The shared top-k tail of every ANN scorer: per-query rank by
    (score desc, corpus id) — the deterministic engine-independent
    ordering the oracles replay — keep rank <= k. One definition so a
    tie-break change can never silently diverge across the brute /
    LSH / IVF / PQ paths.

    NaN contract (r10 review): a NaN score ranks FIRST — Spark and
    DuckDB both order NaN above every number, so this is still
    engine-parity — meaning one corrupt (NaN/inf) corpus vector tops
    every query's result. Corrupt vectors should be sanitized
    upstream (the IVF quantizer already skips them for its FIT); a
    production ingest gate belongs before the index, not hidden in
    the ranking tail."""
    w = Window.partitionBy(query_id).orderBy(
        F.col(score_col).desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    scale: int = 4,
) -> DataFrame:
    """Exact cosine top-k per query. Ranking uses the ROUNDED score with
    the corpus id as tie-break, so results are deterministic across
    engines (raw float ordering is not). Output: (query_id, corpus_id,
    cos_sim, rank)."""
    # Norms are computed ONCE per row in their own projections (higher-
    # order-function lambdas don't codegen, so per-pair recomputation is
    # the dominant cost); the per-pair work is a single dot product. The
    # arithmetic (dot / (qn * cn)) matches the oracle exactly.
    q = queries.select(
        F.col(query_id),
        _as_double(F.col(vec_col)).alias("__qv"),
    ).select(query_id, "__qv", norm(F.col("__qv")).alias("__qn"))
    c = corpus.select(
        F.col(corpus_id),
        _as_double(F.col(vec_col)).alias("__cv"),
    ).select(corpus_id, "__cv", norm(F.col("__cv")).alias("__cn"))
    sim = F.round(
        cosine_ratio(dot(F.col("__qv"), F.col("__cv")),
                     F.col("__qn") * F.col("__cn")),
        scale,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, sim.alias("cos_sim"))
    )
    return _rank_topk(scored, query_id, corpus_id, "cos_sim", k)


def hyperplane_signature(
    vec: Column, dim: int, bits: int = 8, seed: int = 7
) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(v . r_i). Hyperplanes
    are seeded literals compiled into the plan — no side data to ship.

    Expression shape matters here: the obvious form (one 64-literal
    array + expanded dot product PER BIT, times tables, times both join
    sides) builds a plan tree with tens of thousands of literal nodes,
    and analysis+codegen of that tree cost a measured ~6-7 s of
    data-independent wall time per query (BASELINE.md round-5 probe).
    Instead all bits*dim components go into ONE flat array literal that
    constant-folds to a single Literal node, referenced once, and both
    the bit loop and the dim loop are higher-order aggregates — the
    whole signature is ~100 tree nodes regardless of dim/bits. Per-row
    arithmetic is unchanged (same left-to-right fold, identical IEEE
    doubles, bit i still weights 2^i), so signatures — and therefore
    buckets and pairs — are bit-identical to the unrolled form."""
    import random

    rng = random.Random(seed)
    # row-major: plane i occupies flat[i*dim:(i+1)*dim] — the same
    # generation order as the per-plane form, so seeds stay compatible
    flat = [rng.gauss(0.0, 1.0) for _ in range(bits * dim)]
    planes = F.lit(flat)  # folds to one ArrayType literal
    pow2 = F.lit([1 << i for i in range(bits)])
    v = _as_double(vec)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(dim)),
                F.lit(0.0),
                lambda a, j: a
                + F.element_at(v, j) * F.element_at(planes, i * dim + j),
            )
            > 0,
            F.element_at(pow2, i + 1),
        ).otherwise(F.lit(0)),
    )


def _probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks of hamming weight <= radius over `bits` bits —
    the multiprobe neighborhood of a signature."""
    return [m for m in range(1 << bits) if bin(m).count("1") <= radius]


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    n_tables: int = 4,
    probe_radius: int = 0,
    scale: int = 4,
) -> DataFrame:
    """Approximate top-k: n_tables independent hyperplane signatures; a
    query only scores corpus vectors sharing a bucket in some table.
    probe_radius > 0 turns on multiprobe: each query additionally visits
    buckets within that hamming distance of its own signature (fewer
    tables needed for the same recall; radius >= bits degenerates to an
    exhaustive scan, used by the oracle-graded query config). Output
    schema matches ann_topk_brute (rank over the candidate set)."""
    def banded(df: DataFrame, id_col: str, masks: list[int]) -> DataFrame:
        # keys-only banding: the bucket join and candidate distinct
        # shuffle (id, tbl, sig) rows; vectors are fetched back by id
        # for the candidate-set scoring only.
        # Sign ONCE per (row, table), then explode the XOR masks over
        # the 8-byte signature — baking masks into the signature array
        # re-evaluated the full hyperplane expression (bits x dim dot
        # products) per mask, a 256x redundancy at the graded
        # radius==bits config.
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    hyperplane_signature(
                        F.col(vec_col), dim, bits, seed=7 + t
                    ).alias("sig0"),
                )
                for t in range(n_tables)
            ]
        )
        return (
            df.select(F.col(id_col), F.explode(tables).alias("b"))
            .select(
                id_col,
                F.col("b.tbl").alias("tbl"),
                F.col("b.sig0").alias("sig0"),
                F.explode(F.array(*[F.lit(m) for m in masks])).alias("__m"),
            )
            .select(
                id_col,
                "tbl",
                F.col("sig0").bitwiseXOR(F.col("__m")).alias("sig"),
            )
        )

    # multiprobe perturbs only the query side; the corpus is indexed once
    qb = banded(queries, query_id, _probe_masks(bits, probe_radius))
    cb = banded(corpus, corpus_id, [0])
    cand = (
        qb.join(cb, ["tbl", "sig"])
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id)
        .distinct()
    )
    qv = queries.select(
        F.col(query_id), _as_double(F.col(vec_col)).alias("__qvd")
    ).select(query_id, "__qvd", norm(F.col("__qvd")).alias("__qn"))
    cv = corpus.select(
        F.col(corpus_id), _as_double(F.col(vec_col)).alias("__cvd")
    ).select(corpus_id, "__cvd", norm(F.col("__cvd")).alias("__cn"))
    sim = F.round(
        cosine_ratio(dot(F.col("__qvd"), F.col("__cvd")),
                     F.col("__qn") * F.col("__cn")),
        scale,
    )
    scored = (
        cand.join(F.broadcast(qv), query_id)
        .join(cv, corpus_id)
        .select(query_id, corpus_id, sim.alias("cos_sim"))
    )
    return _rank_topk(scored, query_id, corpus_id, "cos_sim", k)


def _guard_small_n(df: DataFrame, max_rows: int, op_name: str) -> None:
    """Refuse to run an O(n^2) plan on a big input. The bounded
    limit+count early-terminates the scan, so the guard costs one cheap
    job, not a full pass."""
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"{op_name} is all-pairs (O(n^2)) and gated to {max_rows} rows;"
            " use the LSH-bucketed variant for larger inputs"
        )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    scale: int = 4,
    max_rows: int = 100_000,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold (embedding near-dup).
    Output: (id_a, id_b, cos_sim).

    Brute force — the exact baseline and the verifier for
    cosine_pairs_lsh, NOT the scale path: gated to max_rows (quadratic
    beyond that is a scale-killer; pass max_rows explicitly to raise the
    gate deliberately)."""
    _guard_small_n(df, max_rows, "cosine_pairs")
    a = df.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("__va")
    ).select("id_a", "__va", norm(F.col("__va")).alias("__na"))
    b = df.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("__vb")
    ).select("id_b", "__vb", norm(F.col("__vb")).alias("__nb"))
    sim = F.round(
        cosine_ratio(dot(F.col("__va"), F.col("__vb")),
                     F.col("__na") * F.col("__nb")),
        scale,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    bits: int = 12,
    n_tables: int = 6,
    probe_radius: int = 0,
    scale: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-LSH bucket the corpus
    (n_tables independent signatures), pair rows only within a shared
    bucket, then exact-verify cosine >= threshold. Cost is
    O(n * tables * probes) + intra-bucket pairs instead of O(n^2).

    Multiprobe on a SELF-join: every row probes buckets within
    probe_radius of its signature, so a pair is paired iff their
    signatures are within 2*probe_radius — 2*probe_radius >= bits is
    therefore provably exhaustive (== cosine_pairs), which is the
    oracle-graded configuration; production keeps bits large and
    radius small. Output: (id_a, id_b, cos_sim), same as cosine_pairs.

    `max_bucket_size` (off by default) drops the MEMBERS of hyperplane
    buckets whose true occupancy exceeds the cap from that table's
    banding — a degenerate embedding region (zero vectors, template
    docs embedded identically) floods one home bucket per table and
    would cost size^2 pairs in every bucket it probes, which neither
    salting nor AQE can reduce; rows outside hot buckets keep all
    their pairs (cf. dedup.cap_hot_buckets, the unprobed analogue).

    Constant-cost note (measured, BASELINE.md round-5 scale probe): the
    hyperplane literals compile n_tables x bits x dim doubles into the
    plan, so plan build + codegen is a data-independent ~seconds at
    bits=12/t=6 — invisible at cluster scale, dominant on tiny local
    inputs. Don't misread a flat small-scale timing as runtime cost."""
    masks = _probe_masks(bits, probe_radius)
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_signature(F.col(vec_col), dim, bits, seed=7 + t).alias(
                    "sig0"
                ),
            )
            for t in range(n_tables)
        ]
    )
    # Banded rows carry ONLY (id, tbl, sig): the bucket self-join and
    # the candidate distinct shuffle 24-byte rows, never the vectors.
    # Carrying both 64-dim arrays through the distinct was measured as
    # a multi-GB shuffle at the graded (exhaustive) config on sf0.1 —
    # the candidate set is pair-count-sized, so keys-only + two hash
    # joins back to the (small per candidate set) vector base is the
    # minhash_lsh_pairs discipline applied here. Signatures are
    # computed once per (row, table); probe masks XOR the 8-byte
    # signature after the explode, never re-evaluating the hyperplanes.
    banded = (
        df.select(F.col(id_col), F.explode(tables).alias("b"))
        .select(
            F.col(id_col).alias("__id"),
            F.col("b.tbl").alias("tbl"),
            F.col("b.sig0").alias("sig0"),
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("__m"),
        )
        .select(
            "__id",
            "tbl",
            F.col("sig0").bitwiseXOR(F.col("__m")).alias("sig"),
            # the unprobed copy marks TRUE bucket membership — the cap
            # below must count occupancy, not probe fan-out
            (F.col("__m") == 0).alias("__home"),
        )
    )
    if max_bucket_size is not None:
        # Cap by TRUE occupancy (home rows — each row lives in exactly
        # one bucket per table before probing), then drop the hot
        # buckets' MEMBER ROWS from that table's banding entirely:
        # a degenerate cluster pays its size^2 cost in EVERY bucket it
        # probes, so bucket-level dropping would have to use the
        # probe-inflated counts — which evicts genuinely small buckets
        # (and their real pairs) just because neighbors probe into
        # them. Member-level dropping kills the cluster's pairs
        # everywhere and touches nobody else. Hot members are
        # cluster-sized by construction — broadcast anti-join.
        home = banded.filter(F.col("__home"))
        hot = (
            home.groupBy("tbl", "sig")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_bucket_size)
            .select("tbl", "sig")
        )
        hot_members = home.join(
            F.broadcast(hot), ["tbl", "sig"], "left_semi"
        ).select("tbl", "__id")
        banded = banded.join(
            F.broadcast(hot_members), ["tbl", "__id"], "left_anti"
        )
    banded = banded.drop("__home")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
        )
        .distinct()
    )
    base = df.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    ).select("__id", "__v", norm(F.col("__v")).alias("__n"))
    va = base.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__vad"),
        F.col("__n").alias("__na"),
    )
    vb = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vbd"),
        F.col("__n").alias("__nb"),
    )
    sim = F.round(
        cosine_ratio(dot(F.col("__vad"), F.col("__vbd")),
                     F.col("__na") * F.col("__nb")),
        scale,
    )
    # The threshold filter is pushed into the vector join's condition
    # (slower per-eval locus than an aggregate input — BASELINE.md opt
    # log #11) but it prunes 99%+ of pairs before they materialize;
    # relocating it behind a HAVING-style pass-through aggregate was
    # MEASURED WORSE here (8.5 vs 7.1 s at the graded config, sf0.1):
    # the extra hash-agg stage over the full pair set costs more than
    # the locus saves. semantic_dedup differs — its aggregate already
    # exists, so relocation there added no stage.
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int = 12,
    n_tables: int = 6,
) -> DataFrame:
    """Persistable hyperplane-LSH index rows for a batch of embeddings:
    one row per (vector, table) with schema (__id, __v array<double>,
    __n, tbl, sig). The norm is computed once per vector BEFORE the
    per-table explode (higher-order-function lambdas don't CSE), and the
    vector rides along because near-dup needs the exact cosine verify.
    On disk, partition/bucket by (tbl, sig) so a later probe batch scans
    only colliding buckets."""
    base = df.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).select("__id", "__v", norm(F.col("__v")).alias("__n"))
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_signature(F.col("__v"), dim, bits, seed=7 + t).alias(
                    "sig"
                ),
            )
            for t in range(n_tables)
        ]
    )
    return base.select(
        "__id", "__v", "__n", F.explode(tables).alias("b")
    ).select(
        "__id", "__v", "__n",
        F.col("b.tbl").alias("tbl"), F.col("b.sig").alias("sig"),
    )


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    existing_index: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    dim: int = 64,
    bits: int = 12,
    n_tables: int = 6,
    probe_radius: int = 0,
    scale: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingestion embedding near-dup: test a NEW batch against
    everything already indexed without re-scoring the corpus — the
    embedding twin of dedup.incremental_minhash_dedup (same state
    contract: persist the returned index, feed it back next batch; ids
    are assumed globally unique across batches).

    Only the new batch is signed and (multi)probed; existing index rows
    are touched solely through the (tbl, sig) equi-join, so old-old
    pairs are never re-examined and per-batch cost is
    O(batch * tables * probes) + colliding candidates. Candidates get
    the exact cosine verify, so LSH only affects WHICH pairs are
    examined, never a reported score. probe_radius covers signature
    hamming <= radius for BOTH new-vs-index and new-vs-new pairs (only
    the probe side is XOR-masked; the new batch's own rows sit unprobed
    in the index side of the join, so within-batch coverage is the same
    radius, not 2x); radius >= bits is provably exhaustive (the graded
    config in tests).

    Returns (updated_index, dup_pairs): updated_index = existing + this
    batch's index rows (embedding_index schema); dup_pairs = (id_a,
    id_b, cos_sim) with id_a < id_b, cosine >= threshold, covering
    new-vs-old and new-vs-new. Ids already present in the existing
    index are NOT re-appended (keys-only anti-join), so a replayed batch
    converges to the same state instead of duplicating index rows and
    fanning out every future candidate join."""
    new_idx = embedding_index(new_vecs, id_col, vec_col, dim, bits, n_tables)
    if existing_index is None:
        all_idx = new_idx
    else:
        all_idx = existing_index.unionByName(new_idx.join(
            existing_index.select("__id"), "__id", "left_anti"
        ))
    masks = _probe_masks(bits, probe_radius)
    probed = new_idx.select(
        "__id", "tbl",
        F.explode(F.array(*[F.lit(m) for m in masks])).alias("__m"),
        F.col("sig").alias("__sig0"),
    ).select(
        "__id", "tbl",
        F.col("__sig0").bitwiseXOR(F.col("__m")).alias("sig"),
    )
    a = probed.alias("a")
    b = all_idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.__id") != F.col("b.__id")),
        )
        # orient every candidate (id_a < id_b) so the same pair found in
        # several tables/probes — or in both orders within the new
        # batch — collapses in one keys-only distinct; vectors are
        # fetched back by id for the verify (never shuffled with pairs)
        .select(
            F.least(F.col("a.__id"), F.col("b.__id")).alias("id_a"),
            F.greatest(F.col("a.__id"), F.col("b.__id")).alias("id_b"),
        )
        .distinct()
    )
    # one (vector, norm) row per id: every id appears once per table in
    # the index, and table 0 always exists
    base = all_idx.filter(F.col("tbl") == 0).select("__id", "__v", "__n")
    va = base.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sim = F.round(
        cosine_ratio(dot(F.col("__va"), F.col("__vb")),
                     F.col("__na") * F.col("__nb")),
        scale,
    )
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    return all_idx, pairs


def train_ivf_centroids(
    corpus: DataFrame, vec_col: str, n_cells: int = 16, seed: int = 7
) -> list[list[float]]:
    """Coarse quantizer for IVF: distributed KMeans over L2-normalized
    vectors (normalized euclidean == cosine ordering). Only the k x dim
    centroid matrix comes back to the driver — at 100 TB the fit is the
    distributed part and the centroids are still tiny literals."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Materialize the norm in its own projection: norm(v) inside the
    # transform lambda would be re-evaluated per ELEMENT (no CSE inside
    # lambda functions) — O(dim^2) per row.
    pre = corpus.select(_as_double(F.col(vec_col)).alias("__v")).select(
        F.col("__v"), norm(F.col("__v")).alias("__n")
    )
    # zero-norm vectors carry no direction — they cannot inform the
    # quantizer, and under ANSI mode dividing by their norm would
    # raise DIVIDE_BY_ZERO and kill the fit. They still get ASSIGNED a
    # cell later (raw-dot argmax needs no division). The NaN guard is
    # load-bearing: Spark ORDERS NaN above every number, so `NaN > 0`
    # is TRUE and a NaN/inf vector would sail through into the KMeans
    # fit, which rejects non-finite values (r10 review).
    pre = pre.filter(
        (F.col("__n") > 0)
        & ~F.isnan(F.col("__n"))
        & (F.col("__n") < F.lit(float("inf")))
    )
    unit = F.transform(F.col("__v"), lambda x: x / F.col("__n"))
    feats = pre.select(array_to_vector(unit).alias("features"))
    if feats.limit(1).isEmpty():
        # fail loudly with the actual cause instead of KMeans' opaque
        # Py4J error: a corpus that is empty (or entirely zero-norm)
        # cannot train a quantizer (r10 review)
        raise ValueError(
            "train_ivf_centroids: corpus has no vectors with a "
            "positive norm; cannot fit the coarse quantizer"
        )
    model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(feats)
    cents = []
    for c in model.clusterCenters():
        vals = [float(x) for x in c]
        mag = sum(x * x for x in vals) ** 0.5 or 1.0
        # unit-normalized so ranking cells by raw dot(v, c) IS the
        # cosine ranking (|v| is constant across cells) — no per-row
        # normalization needed at assignment/probe time
        cents.append([x / mag for x in vals])
    return cents


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of struct(dot, idx) of the raw vector against every UNIT
    centroid — |v| is a constant factor across cells, so argmax/sort by
    dot equals the cosine ordering without normalizing v (which would
    re-evaluate norm(v) per element inside the lambda)."""
    v = _as_double(vec)
    return F.array(
        *[
            F.struct(
                dot(v, F.array(*[F.lit(x) for x in c])).alias("dot"),
                F.lit(i).alias("idx"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def ann_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    corpus_assign: int = 1,
    seed: int = 7,
    scale: int = 4,
) -> DataFrame:
    """IVF search: corpus vectors are indexed in their corpus_assign
    nearest centroids' cells; each query scores only its n_probe nearest
    cells. Scored pairs per query ~ (corpus_assign * n_probe / n_cells)
    of the corpus instead of a full scan; corpus_assign > 1 buys recall
    with index storage instead of probe width (the replication trick —
    on hard uniform corpora it is worth ~+0.08 recall at equal scan
    fraction, measured in tests/test_similarity.py). n_probe == n_cells
    is provably exhaustive (== brute force): the graded query config.
    Norms are computed once per row on both sides (never per pair).
    Output schema matches ann_topk_brute."""
    if corpus.limit(1).isEmpty():
        # no corpus -> no neighbors, same contract as ann_topk_brute on
        # an empty corpus; without this the KMeans fit dies on zero
        # rows with an opaque Py4J error (r10 review). An empty corpus
        # is routine at scale (a partition filter that matched nothing).
        ct = corpus.schema[corpus_id].dataType
        return queries.limit(0).select(
            F.col(query_id),
            F.lit(None).cast(ct).alias(corpus_id),
            F.lit(None).cast("double").alias("cos_sim"),
            F.lit(None).cast("int").alias("rank"),
        )
    centroids = train_ivf_centroids(corpus, vec_col, n_cells, seed)

    def top_cells(vec: Column, n: int) -> Column:
        return F.transform(
            F.slice(
                F.reverse(F.array_sort(_cell_scores(vec, centroids))),
                1,
                n,
            ),
            lambda s: s["idx"],
        )

    # norm materialized BEFORE the cell explode so it is computed once
    # per vector, not once per (vector, cell)
    corpus_cells = (
        corpus.select(F.col(corpus_id), _as_double(F.col(vec_col)).alias("__cv"))
        .select(corpus_id, "__cv", norm(F.col("__cv")).alias("__cn"))
        .select(
            corpus_id,
            "__cv",
            "__cn",
            F.explode(top_cells(F.col("__cv"), corpus_assign)).alias("cell"),
        )
    )
    query_cells = (
        queries.select(F.col(query_id), _as_double(F.col(vec_col)).alias("__qv"))
        .select(query_id, "__qv", norm(F.col("__qv")).alias("__qn"))
        .select(
            query_id,
            "__qv",
            "__qn",
            F.explode(top_cells(F.col("__qv"), n_probe)).alias("cell"),
        )
    )
    sim = F.round(
        cosine_ratio(dot(F.col("__qv"), F.col("__cv")),
                     F.col("__qn") * F.col("__cn")),
        scale,
    )
    # distinct: with corpus_assign > 1 a (query, corpus) pair can share
    # several cells; the duplicate rows are identical after projection
    scored = (
        query_cells.join(corpus_cells, "cell")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, sim.alias("cos_sim"))
        .distinct()
    )
    return _rank_topk(scored, query_id, corpus_id, "cos_sim", k)


def grid_cell(
    vec: Column, bounds: list[tuple[float, float]], bits: int = 2
) -> Column:
    """Deterministic coarse quantizer: bin dimension j of `vec` (1-based
    element j+1) onto [0, 2^bits) with known bounds via zorder.grid_coord,
    and combine the digits into one cell id. A stateless per-row
    expression — no model fit, no shuffle — and, unlike KMeans cells,
    exactly mirrorable in plain SQL (floor/least/greatest on doubles), so
    a multi-cell semantic-dedup config quantized this way can be graded
    against a DuckDB oracle while running the production cell equi-join.
    Quantizing only the first few dims is coarser than KMeans (more
    cross-cell misses on adversarial data) but the pairing machinery
    downstream is identical."""
    from data_engineering_pipeline_spark.sources.zorder import grid_coord

    cells = 1 << bits
    cell = F.lit(0).cast("long")
    for j, (lo, hi) in enumerate(bounds):
        cell = cell * cells + grid_coord(
            F.element_at(vec, j + 1), lo, hi, bits
        )
    return cell


def _split_hot_cells(
    assigned: DataFrame,
    max_cell_rows: int,
    seed: int,
    max_levels: int = 3,
) -> DataFrame:
    """Recursively re-quantize OVERSIZED cells with a second-level
    KMeans: any cell holding more than `max_cell_rows` rows is refit on
    its own rows into ~2·ceil(size/cap) subclusters (factor 2 of slack
    because KMeans cells are not balanced), until every cell fits or
    `max_levels` is reached. This bounds the within-cell self-join's
    sum(cell_size²) directly — the failure mode AQE skew-join can only
    soften (it balances tasks, not the quadratic pair count).

    Driver cost: one keys-only size aggregate per level plus one
    distributed KMeans fit per hot cell — hot cells are by definition
    the outlier tail, so the loop count stays small. Cell ids are
    re-namespaced per level (cold: id·shift, hot: id·shift+1+sub) to
    stay collision-free longs. The refined assignment is
    localCheckpoint'd: it feeds both sides of the self-join and the
    final keep-join, and carrying a per-level union lineage into those
    would re-run every KMeans assignment."""
    import math

    for level in range(max_levels):
        hot = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_cell_rows)
            .collect()
        )
        if not hot:
            break
        ks = {
            r["cell"]: min(256, max(2, 2 * math.ceil(r["n"] / max_cell_rows)))
            for r in hot
        }
        shift = max(ks.values()) + 1
        hot_ids = list(ks)
        pieces = [
            assigned.filter(~F.col("cell").isin(hot_ids)).withColumn(
                "cell", F.col("cell") * shift
            )
        ]
        for i, (c, k) in enumerate(sorted(ks.items())):
            cell_df = assigned.filter(F.col("cell") == c)
            cents = train_ivf_centroids(
                cell_df, "__v", k, seed + 31 * (level + 1) + i
            )
            sub = F.element_at(
                F.reverse(F.array_sort(_cell_scores(F.col("__v"), cents))), 1
            )["idx"]
            pieces.append(
                cell_df.withColumn(
                    "cell", F.col("cell") * shift + 1 + sub.cast("long")
                )
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        assigned = out.localCheckpoint(eager=True)
    return assigned


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_cells: int = 16,
    seed: int = 7,
    scale: int = 4,
    cell_of=None,
    max_rows: int = 100_000,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): KMeans-cluster the corpus into coarse cells,
    compare pairs only WITHIN a cell, and drop every row that has a
    lower-id near-duplicate (cosine >= threshold) in its cell.

    Output: (id, kept BOOLEAN, n_lower_dups BIGINT) for every input row
    — kept == no lower-id within-cell neighbor at or above threshold.
    The drop rule is "any lower-id neighbor", not the greedy
    keep-set-relative rule, so the result is order-free and (at
    n_cells=1) expressible in plain SQL — that is the graded config,
    provably identical to exact all-pairs dedup and sharing machinery
    with the production config.

    Scale: the whole point is that the within-cell self-join bounds the
    pairwise work to sum(cell_size^2) instead of N^2. At 100 TB pick
    n_cells ~ N / target_cell_size (e.g. 1e6 cells for 1e9 docs at
    ~1000 docs/cell); the KMeans fit runs distributed and only the
    k x dim centroid matrix returns to the driver, cell assignment is
    one map-side argmax over broadcast centroid literals (no shuffle),
    and the self-join shuffles each side once on the cell id. Skewed
    (oversized) cells are the known failure mode: pass `max_cell_rows`
    to recursively re-quantize hot cells with a second-level KMeans
    (_split_hot_cells) until every cell's pair count is bounded — AQE
    skew-join only balances tasks, it cannot shrink the quadratic pair
    count inside a hot cell. Cross-cell duplicates are the accepted
    approximation (the paper's tradeoff); recall vs the exact verifier
    — and bounded pair counts on a planted hot cluster — are measured
    in tests/test_similarity.py on clustered corpora.

    `cell_of` swaps the KMeans quantizer for a caller-supplied
    deterministic one (a Column function over the double-cast vector,
    e.g. grid_cell) — same within-cell machinery, SQL-mirrorable
    assignment. n_cells == 1 (one cell holds everything) degenerates to
    the exact all-pairs rule: Catalyst constant-folds the cell
    equi-predicate away and the join is O(n^2), so that path is gated to
    max_rows like the other exact verifiers."""
    if cell_of is not None:
        # A caller-supplied deterministic quantizer usually has a FIXED
        # cell count (e.g. grid_cell's 2^(bits*dims)), so within-cell
        # pair work grows quadratically with corpus size — gate it like
        # the other bounded-cell paths. A production-scale deterministic
        # quantizer (cells ~ N / target_cell_size) should pass a
        # correspondingly larger max_rows.
        _guard_small_n(df, max_rows, "semantic_dedup(cell_of=...)")
        best_cell = cell_of(F.col("__v"))
    elif n_cells == 1:
        # degenerate quantizer: one cell holds everything and the
        # centroid never affects assignment (MLlib KMeans also rejects
        # k=1) — the provably-exhaustive verifier path, all-pairs by
        # construction, hence gated
        _guard_small_n(df, max_rows, "semantic_dedup(n_cells=1)")
        best_cell = F.lit(0)
    else:
        centroids = train_ivf_centroids(df, vec_col, n_cells, seed)
        best_cell = F.element_at(
            F.reverse(F.array_sort(_cell_scores(F.col("__v"), centroids))), 1
        )["idx"]
    assigned = (
        df.select(F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v"))
        .select("__id", "__v", norm(F.col("__v")).alias("__n"))
        .withColumn("cell", best_cell)
    )
    if max_cell_rows is not None and cell_of is None and n_cells > 1:
        # hot-cell bound applies to the production (KMeans) path; the
        # deterministic-quantizer and exhaustive paths keep their exact
        # SQL-mirrorable assignment (they are gated to max_rows anyway)
        assigned = _split_hot_cells(assigned, max_cell_rows, seed)
    a = assigned.alias("a")
    b = assigned.alias("b")
    sim = F.round(
        cosine_ratio(dot(F.col("a.__v"), F.col("b.__v")),
                     F.col("a.__n") * F.col("b.__n")),
        scale,
    )
    # pairs (a < b) within a cell at/above threshold; b is the dropped
    # side. The threshold lives INSIDE the aggregate (sum of a CASE),
    # not in a filter: a filter here is pushed into the join condition,
    # and higher-order-function expressions evaluated as a join
    # predicate fall out of codegen — measured 5.5 s -> 3.2 s at sf0.1
    # (476k within-cell pairs) just by moving the sim evaluation to the
    # aggregate input. Same rows reach the dot product either way.
    n_lower = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(F.col("b.__id").alias("__dup_id"))
        .agg(
            F.sum(F.when(sim >= F.lit(threshold), 1).otherwise(0))
            .cast("long")
            .alias("n_lower_dups")
        )
        .filter(F.col("n_lower_dups") > 0)
    )
    return assigned.join(
        n_lower, assigned.__id == F.col("__dup_id"), "left"
    ).select(
        F.col("__id").alias(id_col),
        F.col("__dup_id").isNull().alias("kept"),
        F.coalesce("n_lower_dups", F.lit(0).cast("long")).alias("n_lower_dups"),
    )


# ---------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid 2011): split the vector
# into m subspaces, quantize each against its own small codebook, store
# m small codes per vector instead of dim floats (here 4 bytes vs 256 —
# 64x), and score queries against CODES via asymmetric distance
# computation (ADC): per subspace, dot(query_sub, centroid(code)),
# summed. At 100 TB this is the memory story for vector search — the
# corpus side of the scoring join carries codes, not vectors, and the
# per-pair work is m lookups instead of a dim-length dot product.
#
# Two paths, the same split as semantic_dedup/IVF:
#  - GRADED grid config: codebook = a 2-bit/dim grid over the first two
#    dims of each subspace, centers at cell midpoints (exact binary
#    fractions), codes by closed-form floor quantization — a DuckDB
#    oracle reproduces codes, ADC scores, and ranking bit for bit.
#  - production: per-subspace KMeans codebooks (pq_train_codebooks) +
#    argmin encoding (pq_encode) — recall/reconstruction measured in
#    tests/test_similarity.py.

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (m * sub = 64 = EMBED_DIM)
PQ_BITS = 2  # grid bits per quantized dim -> 16 codes/subspace
PQ_LO, PQ_HI = -0.5, 0.5


def _pq_axis_code(x: Column, bits: int, lo: float, hi: float) -> Column:
    # NOTE: semantically the same clamped floor-grid quantizer as
    # zorder.grid_coord (and bit-identical at the PQ defaults, where
    # hi-lo and step are exact binary fractions). Kept as a separate
    # /step form because the DuckDB oracle in queries/similarity.py
    # mirrors THIS expression textually — consolidating would require
    # changing the frozen graded oracle in the same commit.
    cells = 1 << bits
    step = (hi - lo) / cells
    raw = F.floor((x - F.lit(lo)) / F.lit(step)).cast("long")
    return F.greatest(F.least(raw, F.lit(cells - 1)), F.lit(0))


def _pq_axis_center(code: Column, bits: int, lo: float, hi: float) -> Column:
    step = (hi - lo) / (1 << bits)
    return F.lit(lo) + (code.cast("double") + F.lit(0.5)) * F.lit(step)


def pq_grid_encode(
    vec: Column,
    m: int = PQ_M,
    sub_dim: int = PQ_SUB,
    bits: int = PQ_BITS,
    lo: float = PQ_LO,
    hi: float = PQ_HI,
) -> Column:
    """array<long> of m grid codes: subspace j's code quantizes dims
    (j*sub_dim, j*sub_dim+1) at `bits` bits each, packed x-major.
    Closed-form floor quantization — no codebook object, no ties."""
    codes = []
    for j in range(m):
        x = F.element_at(vec, j * sub_dim + 1).cast("double")
        y = F.element_at(vec, j * sub_dim + 2).cast("double")
        cx = _pq_axis_code(x, bits, lo, hi)
        cy = _pq_axis_code(y, bits, lo, hi)
        codes.append(cx * F.lit(1 << bits) + cy)
    return F.array(*codes)


def pq_grid_adc(
    qv: Column,
    codes: Column,
    m: int = PQ_M,
    sub_dim: int = PQ_SUB,
    bits: int = PQ_BITS,
    lo: float = PQ_LO,
    hi: float = PQ_HI,
) -> Column:
    """ADC approximate dot product of a query VECTOR against a code
    array: sum over subspaces of dot(query_sub, center(code_j)) — the
    grid centers are zero outside the two quantized dims, so each term
    is two multiply-adds. Strict left-to-right fold (term j added in
    order), mirroring the oracle's textual expression."""
    total: Column | None = None
    for j in range(m):
        code = F.element_at(codes, j + 1)
        cx = _pq_axis_center(
            F.shiftright(code, bits), bits, lo, hi
        )
        cy = _pq_axis_center(code % F.lit(1 << bits), bits, lo, hi)
        qx = F.element_at(qv, j * sub_dim + 1).cast("double")
        qy = F.element_at(qv, j * sub_dim + 2).cast("double")
        term = qx * cx + qy * cy
        total = term if total is None else total + term
    return total


def ann_topk_pq_grid(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k per query by PQ ADC score (grid config). The corpus side
    is REDUCED TO CODES before the scoring join — the join input per
    corpus row is one small int array, the PQ memory win — and the
    query side broadcasts like ann_topk_brute. Scores are sums of
    exact-binary-fraction products, bit-deterministic cross-engine;
    ties broken by corpus id. Output:
    (query_id, corpus_id, adc, rank)."""
    q = queries.select(
        F.col(query_id), _as_double(F.col(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id),
        pq_grid_encode(_as_double(F.col(vec_col))).alias("__codes"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            pq_grid_adc(F.col("__qv"), F.col("__codes")).alias("adc"),
        )
    )
    return _rank_topk(scored, query_id, corpus_id, "adc", k)


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    sub_dim: int = PQ_SUB,
    codes: int = 16,
    seed: int = 7,
) -> list[list[list[float]]]:
    """Production codebooks: one KMeans per subspace over the corpus'
    sub-vectors. Returns m codebooks of `codes` centroids each
    (driver-side floats, tiny — they fold into scoring expressions as
    literals). The fit is the distributed part; like IVF's
    train_ivf_centroids the model never ships to executors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    v = _as_double(F.col(vec_col))
    out = []
    for j in range(m):
        sub = df.select(
            array_to_vector(
                F.slice(v, j * sub_dim + 1, sub_dim)
            ).alias("features")
        )
        model = KMeans(k=codes, seed=seed + j, maxIter=20).fit(sub)
        out.append([list(map(float, c)) for c in model.clusterCenters()])
    return out


def pq_encode(
    vec: Column,
    codebooks: list[list[list[float]]],
    sub_dim: int = PQ_SUB,
) -> Column:
    """array<int> of nearest-centroid codes (L2, lowest code wins
    ties) against arbitrary codebooks. Each codebook is folded into
    ONE flat array literal (see hyperplane_signature for why: per-
    center literal trees cost seconds of analysis time); the argmin
    is an aggregate over code ids carrying (best_dist, best_code)."""
    out = []
    for j, cb in enumerate(codebooks):
        flat = F.lit([x for c in cb for x in c])
        sub = F.slice(vec, j * sub_dim + 1, sub_dim)
        n_codes = len(cb)

        def dist_to(code: Column, sub=sub, flat=flat) -> Column:
            cslice = F.slice(
                flat, code * sub_dim + 1, sub_dim
            )
            d = F.zip_with(sub, cslice, lambda a, b: (a - b) * (a - b))
            return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)

        # argmin via array_min over (dist, code) structs: struct
        # comparison is lexicographic, so the smallest distance wins
        # with ties to the lowest code — and each distance is
        # evaluated ONCE (the aggregate-with-F.when form evaluated
        # dist_to twice per candidate; lambda bodies get no CSE)
        best = F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda code: F.struct(
                    dist_to(code).alias("d"),
                    code.alias("code"),
                ),
            )
        )
        out.append(best["code"])
    return F.array(*out)


def pq_adc(
    qv: Column,
    codes: Column,
    codebooks: list[list[list[float]]],
    sub_dim: int = PQ_SUB,
) -> Column:
    """ADC dot product against arbitrary codebooks: per subspace, the
    centroid slice is selected from the flat literal by the stored
    code and dotted with the query sub-vector."""
    total: Column | None = None
    for j, cb in enumerate(codebooks):
        flat = F.lit([x for c in cb for x in c])
        code = F.element_at(codes, j + 1)
        cslice = F.slice(flat, code * sub_dim + 1, sub_dim)
        qsub = F.slice(qv, j * sub_dim + 1, sub_dim)
        term = dot(qsub, cslice)
        total = term if total is None else total + term
    return total


def hard_pair_mining(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 4,
) -> DataFrame:
    """Contrastive-pair mining over a labeled embedding corpus: for
    every query, the HARD NEGATIVE (highest-cosine row with a
    DIFFERENT label — the near-miss a contrastive loss learns most
    from) and the HARD POSITIVE (lowest-cosine row with the SAME
    label — the far in-class example). The standard mining step that
    turns a curated labeled corpus into contrastive training pairs
    (Schroff et al. 2015's semi-hard mining, batch-global form).

    Output: (query_id, hard_neg_id, hard_neg_sim, hard_pos_id,
    hard_pos_sim) — ids NULL when the corpus has no opposite-label /
    no other same-label row. Ranking uses the ROUNDED cosine with id
    tie-break (the _rank_topk discipline), so mining is deterministic
    and oracle-replayable.

    Scale: this is the exact arm — scoring is query-broadcast x
    corpus, norms computed once per row. At corpus scale swap the
    candidate generation for the ANN index (ann_index_search top-k
    per label partition feeds the same two windows); the windows
    below are per-query and see only candidates."""
    q = queries.select(
        F.col(query_id),
        F.col(label_col).alias("__ql"),
        _as_double(F.col(vec_col)).alias("__qv"),
    ).select(query_id, "__ql", "__qv", norm(F.col("__qv")).alias("__qn"))
    c = corpus.select(
        F.col(corpus_id),
        F.col(label_col).alias("__cl"),
        _as_double(F.col(vec_col)).alias("__cv"),
    ).select(corpus_id, "__cl", "__cv", norm(F.col("__cv")).alias("__cn"))
    sim = F.round(
        cosine_ratio(dot(F.col("__qv"), F.col("__cv")),
                     F.col("__qn") * F.col("__cn")),
        scale,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id, corpus_id, "__ql", "__cl", sim.alias("__sim")
        )
    )
    wn = Window.partitionBy(query_id).orderBy(
        F.col("__sim").desc(), F.col(corpus_id)
    )
    neg = (
        scored.filter(F.col("__ql") != F.col("__cl"))
        .withColumn("__rn", F.row_number().over(wn))
        .filter(F.col("__rn") == 1)
        .select(
            query_id,
            F.col(corpus_id).alias("hard_neg_id"),
            F.col("__sim").alias("hard_neg_sim"),
        )
    )
    # asc_nulls_last, NOT asc: Spark ASC is nulls-FIRST while the
    # oracle's ORDER BY s ASC is nulls-LAST — a zero-norm/NULL
    # embedding yields a NULL sim (try_divide) and plain asc would
    # mine it as EVERY query's hard positive
    wp = Window.partitionBy(query_id).orderBy(
        F.col("__sim").asc_nulls_last(), F.col(corpus_id)
    )
    pos = (
        scored.filter(F.col("__ql") == F.col("__cl"))
        .withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") == 1)
        .select(
            query_id,
            F.col(corpus_id).alias("hard_pos_id"),
            F.col("__sim").alias("hard_pos_sim"),
        )
    )
    return (
        queries.select(query_id)
        .join(neg, query_id, "left")
        .join(pos, query_id, "left")
    )
