"""Streaming sinks: idempotent upsert per micro-batch and watermarked
stream deduplication.

foreachBatch bridges the streaming plan to the batch upsert writer
(operators/upsert.py): each micro-batch merges by key, so replayed
batches (at-least-once sources, restarts) do not duplicate — the
streaming form of the reference's ON CONFLICT idempotency
(database.py:124-130, README1.md:128-132). dropDuplicates on a
watermarked stream bounds the dedup state: only keys within the
watermark horizon are remembered, which is the only dedup that works on
an unbounded stream."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-KEY within the watermark horizon
    (dropDuplicatesWithinWatermark): a re-delivery of the same key
    with a DIFFERENT event time — a producer retry that re-stamps
    ingestion time — still dedups, which plain
    dropDuplicates(keys + [ts]) would let through. State stays
    bounded by the watermark exactly as before."""
    return events.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(keys)


def _has_parquet(path: str) -> bool:
    """A store 'exists' only if it holds at least one part-file: a
    crash between _append_parquet's makedirs and its first rename can
    leave an EMPTY directory, and reading that raises on every replay
    (permanently wedging the stream) if existence means isdir."""
    import os

    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def _append_parquet(df: DataFrame, dest: str, batch_id: int = 0) -> None:
    """Append `df` to the flat parquet directory `dest` by staging to a
    temp dir and MOVING the part-files in under unique names — prior
    files are never rewritten, so the append is O(df), not O(dest).
    A crash mid-move leaves a prefix of the batch's files in place;
    callers must make re-appending converge (here: the keys-only
    anti-join in the incremental operators re-derives only the
    still-missing rows on replay). File names carry the batch id AND a
    full-width uuid: a short token's birthday collision across a
    long stream's many batches would silently os.rename OVER an
    earlier batch's file (row loss). A write that raises removes its
    staging dir before the error propagates."""
    import os
    import shutil
    import uuid

    tmp = f"{dest}.__app__{uuid.uuid4().hex}"
    try:
        df.write.mode("overwrite").parquet(tmp)
        os.makedirs(dest, exist_ok=True)
        tok = f"{batch_id}-{uuid.uuid4().hex}"
        for i, f in enumerate(sorted(os.listdir(tmp))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, f),
                    os.path.join(dest, f"app-{tok}-{i:05d}.parquet"),
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _sweep_stale_appends(path: str) -> None:
    """Remove {path}.__app__* staging dirs left by a crash between the
    stage write and its cleanup — replays re-stage under a fresh name,
    so anything matching is garbage; without the sweep each crash
    strands a full staged copy of a batch forever."""
    import glob
    import shutil

    for d in glob.glob(f"{path}.__app__*"):
        shutil.rmtree(d, ignore_errors=True)


def _incremental_dedup_sink(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str,
    probe_fn,
    commit_fn,
) -> StreamingQuery:
    """Shared core of the streaming near-dup sinks: per micro-batch,
    `probe_fn(batch_df) -> (state_delta, pairs)` produces duplicate
    pairs against everything seen so far plus the batch's FRESH state
    rows, and `commit_fn(state_delta, batch_id)` lands the fresh state
    — the drop rule and the append discipline are identical for any
    incremental pair producer (MinHash text, hyperplane embeddings...).
    State storage is the provider's concern: both sinks probe/commit
    through a bucketed append store (operators/sig_store.py
    BandedSignatureStore, operators/vec_store.py VecIndexStore).

    Both the output table and the state store are APPEND-organized:
    each batch moves only its own part-files into the directory (ids
    are globally unique across batches, so a survivor row never needs
    updating). Per-batch write cost is therefore O(batch) — the
    previous stage-and-swap rewrote the full store every batch, an
    O(corpus) write that would dominate a long-running stream.

    Crash/replay contract: a crash anywhere between the appends and the
    checkpoint commit re-delivers the batch; the keys-only anti-joins
    (against the state store inside probe_fn, against the output ids
    here) re-derive only the still-missing rows, so append + replay
    CONVERGES — no remnant dirs, no healing pass needed. The only
    start-up sweep removes the output's crashed append stages.

    Drop rule per new doc: it loses to ANY earlier-seen near-duplicate,
    and to a same-batch near-duplicate with a lower id — the streaming
    form of exact_dedup's deterministic keep-lowest-id."""
    from pyspark.sql import functions as F

    # crashed append stages from a previous run
    _sweep_stale_appends(out_path)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta, pairs = probe_fn(batch_df)
        new_ids = batch_df.select(F.col(id_col).alias("__o")).distinct()
        edges = pairs.select(
            F.col("id_a").alias("__d"), F.col("id_b").alias("__o")
        ).unionByName(
            pairs.select(F.col("id_b").alias("__d"), F.col("id_a").alias("__o"))
        )
        drop_ids = (
            edges.join(
                new_ids.withColumn("__in_batch", F.lit(True)), "__o", "left"
            )
            # counterpart seen in an earlier batch -> drop; counterpart in
            # this batch -> lowest id wins
            .filter(
                F.col("__in_batch").isNull() | (F.col("__o") < F.col("__d"))
            )
            .select(F.col("__d").alias(id_col))
            .distinct()
        )
        survivors = batch_df.join(drop_ids, id_col, "left_anti")
        if _has_parquet(out_path):
            # replay guard: ids already written survive the re-append
            # as no-ops (single-column read, not an O(corpus) rewrite)
            out_ids = spark.read.parquet(out_path).select(id_col)
            survivors = survivors.join(out_ids, id_col, "left_anti")
        _append_parquet(survivors, out_path, batch_id)
        commit_fn(delta, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def near_dedup_sink(
    stream_docs: DataFrame,
    out_path: str,
    sig_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> StreamingQuery:
    """Streaming near-duplicate filter over document micro-batches: each
    batch is MinHash-signed and probed against the persisted signature
    store of everything seen so far (operators/dedup.py
    incremental_minhash_dedup) — the corpus itself is never re-scanned.
    Surviving docs and the batch's fresh signatures are APPENDED to
    out_path / sig_path (ids are unique across batches; replayed
    batches converge through keys-only anti-joins, see
    _incremental_dedup_sink).

    Scale: state is one row of K minhashes per document ever seen —
    tiny next to the corpus — and it lives in the band-bucketed
    BandedSignatureStore (operators/sig_store.py): band buckets are
    persisted once at commit time (never re-derived per batch), the
    probe lists only the (band, bucket-prefix) dirs the batch's own
    buckets hash into, and the candidate join broadcasts the batch
    side, so the store is scanned (pruned), never shuffled.
    Single-writer, like the reference."""
    from data_engineering_pipeline_spark.operators.sig_store import (
        BandedSignatureStore,
    )

    holder: dict = {}

    def _store(spark):
        if "s" not in holder:
            holder["s"] = BandedSignatureStore(
                spark, sig_path, id_col=id_col, text_col=text_col
            )
        return holder["s"]

    def _probe(batch_df):
        # max_bucket_size: sig_store.probe's hot-bucket cap (default
        # off = oracle-exact; a long-lived production stream facing
        # template floods should set it — see the curation pipeline's
        # probe_max_bucket, which defaults it on)
        return _store(batch_df.sparkSession).probe(
            batch_df, threshold=threshold, max_bucket_size=max_bucket_size
        )

    def _commit(delta, batch_id):
        _store(delta.sparkSession).commit(delta, batch_id)

    return _incremental_dedup_sink(
        stream_docs, out_path, checkpoint, id_col, _probe, _commit
    )


def embedding_near_dedup_sink(
    stream_vecs: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    dim: int = 64,
    bits: int = 12,
    n_tables: int = 6,
    probe_radius: int = 0,
    max_bucket_size: int | None = None,
) -> StreamingQuery:
    """Streaming embedding near-duplicate filter — the semantic twin of
    near_dedup_sink: each micro-batch is hyperplane-signed and probed
    against the persisted LSH index of everything seen so far,
    candidates exact-cosine-verified, survivors and fresh index rows
    appended (replay-convergent, see _incremental_dedup_sink). Same
    drop rule and state discipline; only the signer differs.

    Scale (r12): state lives in the bucketed VecIndexStore
    (operators/vec_store.py) — the probe opens only the (tbl,
    sig-prefix) dirs the batch's probe signatures hash into and the
    exact-cosine verify fetches only the candidate ids' vector
    prefixes, where the old flat index re-read every row (with the
    vector duplicated per hash table) per micro-batch. The batch's
    signatures are localCheckpointed inside the store probe (the old
    pin_batch: the signer compiles tables x bits x dim literals into
    the plan — addendum 4's ~25 s/batch constant)."""
    from data_engineering_pipeline_spark.operators.vec_store import (
        VecIndexStore,
    )

    holder: dict = {}

    def _store(spark):
        if "s" not in holder:
            holder["s"] = VecIndexStore(
                spark, index_path, id_col=id_col, vec_col=vec_col,
                dim=dim, bits=bits, n_tables=n_tables,
            )
        return holder["s"]

    def _probe(batch_df):
        return _store(batch_df.sparkSession).probe(
            batch_df, threshold=threshold, probe_radius=probe_radius,
            max_bucket_size=max_bucket_size,
        )

    def _commit(delta, batch_id):
        _store(delta.sparkSession).commit(delta, batch_id)

    return _incremental_dedup_sink(
        stream_vecs, out_path, checkpoint, id_col, _probe, _commit
    )


def upsert_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """writeStream.foreachBatch -> merge_last_write_wins per micro-batch.
    Replaying a batch converges to the same table state (idempotent).
    With `partition_cols`, each micro-batch merges partition-scoped
    (dynamic partition overwrite): only the partitions the batch
    touches are read or rewritten — the form that holds up when the
    table is 100 TB and a micro-batch touches a few partitions of it.
    Each merge heals a previous run's interrupted swap before it reads
    the table (sources/dirswap.py)."""
    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet(
            batch_df.sparkSession, path, batch_df, keys, order_col,
            partition_cols,
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def snapshot_append_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
) -> StreamingQuery:
    """writeStream.foreachBatch -> SnapshotTable.append with a
    (app_id, batch_id) txn stamp: EXACTLY-ONCE streaming ingest into
    the transactional table. foreachBatch alone is at-least-once (a
    crash between the batch write and the checkpoint commit replays
    the batch); stamping the snapshot commit with the txn id makes the
    replay a log-checked no-op — the Delta txnAppId/txnVersion
    protocol. Unlike upsert_sink's converge-by-merge idempotence this
    needs no keys: blind appends become exactly-once too.

    Scale: the per-batch overhead is one O(versions) driver-side log
    scan + one O_EXCL create; data-plane cost is the batch itself
    (append stages only the batch's files — never touches the table's
    existing data)."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = SnapshotTable(batch_df.sparkSession, path)
        t.append(batch_df, txn=(app_id, batch_id))

    return (
        stream_df.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ann_index_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Stream embeddings into the persistent IVF index
    (operators/ann_index.py): each micro-batch is assigned to the
    index's frozen centroids and appended cell-clustered under the
    (app_id, batch_id) txn stamp — exactly-once, same protocol as
    snapshot_append_sink. The index must already be built (centroids
    are the frozen side state); searches see each batch as soon as its
    commit lands. Rebuild cadence is the caller's policy via
    index_stats' imbalance metric."""
    from data_engineering_pipeline_spark.operators.ann_index import (
        ann_index_add,
    )

    def _add(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ann_index_add(
            batch_df.sparkSession, batch_df, path,
            id_col=id_col, vec_col=vec_col, txn=(app_id, batch_id),
        )

    return (
        stream_df.writeStream.foreachBatch(_add)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def curation_sink(
    stream_df: DataFrame,
    work_dir: str,
    checkpoint: str,
    app_id: str = "curate-stream",
    **curate_kwargs,
) -> StreamingQuery:
    """Streaming front door of the end-to-end curation pipeline
    (plans/curation_pipeline.py): every micro-batch of raw documents
    runs gate -> landing -> incremental dedup -> quality ->
    temperature -> curated table -> shard refresh. The landing append
    uses the micro-batch id as its txn version, so the whole chain is
    exactly-once under replay — each downstream stage is either
    idempotent (deterministic rebuild) or watermark-guarded (shard
    refresh).

    `app_id` namespaces this query's landing txns separately from
    batch curate_batch/curate_increment callers ("curate") — without
    it, micro-batch 0 against a work_dir BOOTSTRAPPED by a batch
    rebuild collides with the bootstrap's ("curate", 0) txn and the
    whole first micro-batch is silently swallowed as a replay
    (r9 review, regression-pinned). Two different streaming queries
    feeding one work_dir need two app_ids.

    `curate_kwargs` pass straight to curate_increment, so the
    streaming door runs the same funnel configurations as batch:
    mode='delta' for O(batch) increments, ppl_gate=..., split_
    threshold=..., decontaminate=... (delta mode screens against the
    FROZEN artifacts a prior rebuild left in work_dir — pass
    decontaminate=True; rebuild mode per batch needs the eval frame)."""
    from data_engineering_pipeline_spark.plans.curation_pipeline import (
        curate_increment,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curate_increment(
            batch_df.sparkSession, batch_df, work_dir,
            batch_id=batch_id, txn_app=app_id, **curate_kwargs,
        )

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def aggregate_refresh_sink(
    stream_df: DataFrame,
    src_path: str,
    agg_path: str,
    checkpoint: str,
    app_id: str,
    keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
) -> StreamingQuery:
    """Bronze -> silver streaming materialization: each micro-batch
    lands in the snapshot SOURCE table (txn exactly-once), then the
    grouped count/sum MATERIALIZATION refreshes from the change feed
    (sources/snapshot_table.py refresh_aggregate). Every layer is
    watermarked — the landing by (app, batch_id), the aggregate by its
    applied-source-version txn — so crash/replay anywhere in the chain
    converges, and the refresh cost per batch tracks the batch, not
    the table."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
        refresh_aggregate,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        src = SnapshotTable(spark, src_path)
        src.append(batch_df, txn=(app_id, batch_id))
        refresh_aggregate(
            src, SnapshotTable(spark, agg_path),
            keys, group_cols, sum_cols,
        )

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def join_refresh_sink(
    stream_df: DataFrame,
    fact_path: str,
    dim_path: str,
    view_path: str,
    checkpoint: str,
    app_id: str,
    fact_keys: list[str],
    dim_keys: list[str],
    on: list[str],
    dedupe_source: str | None = None,
) -> StreamingQuery:
    """Bronze -> silver for the JOIN materialization: each micro-batch
    MERGEs into the snapshot FACT table (txn exactly-once, file-pruned
    upsert), then the materialized fact-dim join refreshes from BOTH
    change feeds (sources/snapshot_table.py refresh_join) — dimension
    updates committed by other writers between batches are folded in
    on the same cadence, without the stream ever scanning the
    dimension for its own sake. Crash/replay anywhere in the chain
    converges: the merge is (app, batch)-stamped and the refresh is
    watermarked by the encoded pair of applied head versions, so a
    replayed batch is a log-checked no-op at every layer. Per-batch
    cost tracks the batch and the dimension churn, never the fact or
    view size."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
        refresh_join,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fact = SnapshotTable(spark, fact_path)
        fact.merge_into(
            batch_df, fact_keys, txn=(app_id, batch_id),
            dedupe_source=dedupe_source,
        )
        refresh_join(
            fact, SnapshotTable(spark, dim_path),
            SnapshotTable(spark, view_path),
            fact_keys, dim_keys, on,
        )

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def snapshot_merge_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    keys: list[str],
    dedupe_source: str | None = None,
    mode: str = "cow",
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
) -> StreamingQuery:
    """Exactly-once streaming MERGE into the snapshot table: each
    micro-batch upserts by key through the file-pruned copy-on-write
    merge, stamped with (app_id, batch_id) so a replayed batch is a
    log-checked no-op — the third leg of the streaming-DML matrix
    after snapshot_append_sink (blind rows) and upsert_sink (plain
    parquet LWW). Serializable merge conflicts with a concurrent
    writer raise into the stream (the query fails loud; rerun resumes
    from the checkpoint), matching the table's documented isolation.

    A micro-batch that updates the same key twice would be rejected by
    the merge's duplicate-source guard; pass `dedupe_source=<order
    col>` (event time, offset) to collapse in-batch updates
    last-write-wins before the merge.

    `mode='mor'` is the long-running-stream configuration: each
    micro-batch writes its rows plus a deletion vector instead of
    rewriting every file its keys land in — per-batch write IO stays
    O(batch) no matter how the keys scatter. Pair it with
    `maintain_every=N` to run the table's housekeeping (DV purge /
    compaction / retention / vacuum) every N batches from inside the
    sink, so masks and small files never accumulate unboundedly."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = SnapshotTable(batch_df.sparkSession, path)
        t.merge_into(batch_df, keys, txn=(app_id, batch_id),
                     dedupe_source=dedupe_source, mode=mode)
        if maintain_every and batch_id > 0 and \
                batch_id % maintain_every == 0:
            t.maintain(**(maintain_kwargs or {}))

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _sketch_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    build_fn,
    merge_fn,
) -> StreamingQuery:
    """Shared core of the four sketch sinks: per micro-batch, build
    the batch's own sketch (`build_fn(batch_df) -> frame`), merge it
    with the stored one (`merge_fn(stored, fresh) -> frame`), and
    overwrite the snapshot table under the txn protocol — exactly-once
    by construction: a replayed batch finds its (app_id, batch_id)
    high-water mark committed and no-ops, so additive counters are
    never double-added and max-merged registers never drift. State is
    sketch-sized (cells/registers/points), so the read-merge-overwrite
    cycle is O(1) per batch regardless of corpus size."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    def _add(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = SnapshotTable(batch_df.sparkSession, path)
        if t.txn_version(app_id) >= batch_id:
            return  # replay of an already-committed batch
        fresh = build_fn(batch_df)
        if t.latest_version() is not None:
            fresh = merge_fn(t.read(), fresh)
        t.overwrite(fresh, txn=(app_id, batch_id))

    return (
        stream_df.writeStream.foreachBatch(_add)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cms_sketch_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    value_col: str,
    hasher=None,
) -> StreamingQuery:
    """Maintain a corpus-wide Count-Min frequency sketch incrementally:
    each micro-batch builds its own CMS (operators/sketch.py cms_build
    — one map-side aggregation over the batch) and ADDS it cell-wise
    into a snapshot-table-backed running sketch (the same
    union + group-sum additive merge refresh_cms_sketch uses).
    Exactly-once via the shared _sketch_sink txn protocol. Point
    estimates at any time: cms_estimate(SnapshotTable(spark,
    path).read(), items, col) — the sketch answers frequency queries
    over everything ingested so far without any n-gram table existing
    anywhere."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.operators.sketch import cms_build

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return (
            old.unionByName(new)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _sketch_sink(
        stream_df, path, checkpoint, app_id,
        lambda b: cms_build(b, F.col(value_col), hasher), merge,
    )


def hll_sketch_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    group_col: str,
    value_col: str,
    hasher=None,
) -> StreamingQuery:
    """Maintain per-group HyperLogLog register tables incrementally:
    each micro-batch's registers merge with the stored sketch by
    per-(group, reg) MAX — idempotent and commutative, so the running
    sketch always equals the sketch of everything ingested regardless
    of batch boundaries or arrival order. State is at most HLL_M rows
    per group (vs k longs for KMV) and the per-batch work is one
    map-side-combined aggregate with no distinct pass. Exactly-once
    via the shared _sketch_sink txn protocol. Estimates at any time:
    hll_estimate_from_registers(SnapshotTable(...).read())."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.operators.sketch import (
        hll_merge,
        hll_registers,
    )

    return _sketch_sink(
        stream_df, path, checkpoint, app_id,
        lambda b: hll_registers(b, group_col, F.col(value_col), hasher),
        hll_merge,
    )


def qsketch_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    group_col: str,
    value_col: str,
) -> StreamingQuery:
    """Maintain per-group dyadic quantile sketches incrementally: each
    micro-batch's (group, bid, cnt) cells ADD into the stored sketch —
    the additive merge rule, so the running sketch always equals the
    sketch of everything ingested and any quantile is readable at any
    time via qsketch_quantiles(SnapshotTable(...).read(), pcts).
    Exactly-once via the shared _sketch_sink txn protocol. State is
    bounded by the bucket universe (~52 * 2^S rows per group), not by
    data volume — the streaming complement of op-percentile for
    latency/length/size distributions at 100 TB."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_merge,
    )

    return _sketch_sink(
        stream_df, path, checkpoint, app_id,
        lambda b: qsketch_build(b, group_col, F.col(value_col)),
        qsketch_merge,
    )


def kmv_sketch_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    group_col: str,
    value_col: str,
    k: int = 64,
    hasher=None,
) -> StreamingQuery:
    """Maintain per-group KMV distinct-count sketches incrementally:
    each micro-batch's (group, u) points union with the stored sketch
    and the bottom-k per group is kept — the KMV merge rule, so the
    running sketch always equals the sketch of everything ingested.
    Exactly-once via the shared _sketch_sink txn protocol. State is at
    most k rows per group. Estimates at any time:
    kmv_estimate_from_sketch(SnapshotTable(...).read(), k)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_points,
    )

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        w = Window.partitionBy("group").orderBy("u")
        return (
            old.unionByName(new)
            .distinct()
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk")
        )

    def build(b: DataFrame) -> DataFrame:
        pts = kmv_points(b, group_col, F.col(value_col), hasher)
        # a first batch larger than k must still store only bottom-k
        return merge(pts.limit(0), pts)

    return _sketch_sink(
        stream_df, path, checkpoint, app_id, build, merge,
    )
