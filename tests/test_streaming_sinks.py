"""Streaming sink semantics: foreachBatch upsert converges (replays
don't duplicate) and watermarked dropDuplicates removes duplicate keys
within the horizon."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.streaming.events import read_events_stream
from data_engineering_pipeline_spark.streaming.sinks import (
    dedup_stream,
    upsert_sink,
)


def _events_input(tmp_path, sf_smoke, name="in1"):
    d = tmp_path / name
    d.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", d / "a.parquet")
    return str(d)


def test_upsert_sink_idempotent_across_restarts(spark, tmp_path, sf_smoke):
    src = _events_input(tmp_path, sf_smoke)
    out = str(tmp_path / "out")
    ck1 = str(tmp_path / "ck1")
    ck2 = str(tmp_path / "ck2")

    stream = read_events_stream(spark, src)
    upsert_sink(stream, out, ["event_id"], "ts", ck1).awaitTermination()
    n1 = spark.read.parquet(out).count()

    # replay the SAME data with a fresh checkpoint (simulates an
    # at-least-once source replaying everything): merged state unchanged
    stream2 = read_events_stream(spark, src)
    upsert_sink(stream2, out, ["event_id"], "ts", ck2).awaitTermination()
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_stream_starts_on_empty_landing_dir(spark, tmp_path, sf_smoke):
    """The landing-zone pattern: the stream may start BEFORE the first
    upstream file lands. An empty directory must fall back to the static
    schema instead of failing the schema probe, and files that land
    later must flow through the same normalized ts type."""
    d = tmp_path / "landing"
    d.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    stream = read_events_stream(spark, str(d))  # must not raise
    assert dict(stream.dtypes)["ts"] == "timestamp"
    # drain the empty dir: no batches, no output, no crash
    upsert_sink(stream, out, ["event_id"], "ts", ck).awaitTermination()

    # first file lands; the restarted stream picks it up from the same
    # checkpoint and the sink sees normalized timestamps
    shutil.copy(f"{sf_smoke}/events.parquet", d / "a.parquet")
    stream2 = read_events_stream(spark, str(d))
    upsert_sink(stream2, out, ["event_id"], "ts", ck).awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert dict(got.dtypes)["ts"] == "timestamp"


def test_near_dedup_sink_cross_batch(spark, tmp_path, sf_smoke):
    """Two micro-batches through the streaming near-dup filter: batch 2
    contains an exact copy and a near-copy of batch-1 docs plus one
    genuinely new doc — only the new doc survives from batch 2."""
    import os
    import time

    from data_engineering_pipeline_spark.streaming.sinks import (
        near_dedup_sink,
    )

    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(60)) for i in range(20)
    }
    b1 = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    near = texts[3].replace(texts[3].split()[0], "zzz", 1)  # 1-token change
    b2 = spark.createDataFrame(
        [
            (1000, texts[5], "en", "src0", len(texts[5])),  # exact copy
            (1001, near, "en", "src0", len(near)),           # near copy
            (1002, "entirely novel words " * 10, "en", "src0", 200),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    src = tmp_path / "dedup_src"
    src.mkdir()
    b1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    for i, d in enumerate(["b1", "b2"]):
        part = next(
            p for p in os.listdir(tmp_path / d) if p.endswith(".parquet")
        )
        dst = src / f"{d}.parquet"
        os.rename(tmp_path / d / part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "dedup_out")
    sig = str(tmp_path / "dedup_sig")
    q = near_dedup_sink(
        stream, out, sig, str(tmp_path / "dedup_ck"), threshold=0.7
    )
    q.awaitTermination()

    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert set(range(20)) <= kept          # batch 1 all kept
    assert 1002 in kept                    # novel doc survives
    assert 1000 not in kept                # exact cross-batch copy dropped
    assert 1001 not in kept                # near cross-batch copy dropped
    # signature store covers every doc ever seen (dups included) —
    # r11: state lives in the band-bucketed store's sigs/ partition
    sig_ids = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(sig, "sigs")).collect()
    }
    assert set(range(20)) | {1000, 1001, 1002} <= sig_ids


def test_dedup_stream_drops_same_key(spark, tmp_path, sf_smoke):
    # duplicate the entire input file -> every (event_id, ts) twice
    d = tmp_path / "in2"
    d.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_smoke}/events.parquet", d / "b.parquet")

    deduped = dedup_stream(
        read_events_stream(spark, str(d)), keys=["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) c, count(DISTINCT event_id) d FROM dedup_out").collect()[0]
    expected = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert got.c == got.d == expected


def test_embedding_near_dedup_sink_cross_batch(spark, tmp_path):
    """Two micro-batches through the streaming embedding near-dup
    filter (exhaustive graded LSH config): batch 2 holds an exact copy
    and a near copy of batch-1 vectors plus one genuinely different
    vector — only the different one survives from batch 2."""
    import os
    import random
    import time

    from data_engineering_pipeline_spark.streaming.sinks import (
        embedding_near_dedup_sink,
    )

    rng = random.Random(11)
    vecs = {
        i: [rng.gauss(0.0, 1.0) for _ in range(16)] for i in range(12)
    }
    near = list(vecs[4])
    near[0] += 0.01  # tiny perturbation: cosine ~ 1
    novel = [(-1.0) ** j * (j + 1.0) for j in range(16)]
    b1 = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    b2 = spark.createDataFrame(
        [(1000, vecs[7]), (1001, near), (1002, novel)],
        "vec_id long, embedding array<double>",
    )

    src = tmp_path / "emb_src"
    src.mkdir()
    b1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "e1"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "e2"))
    for i, d in enumerate(["e1", "e2"]):
        part = next(
            p for p in os.listdir(tmp_path / d) if p.endswith(".parquet")
        )
        dst = src / f"{d}.parquet"
        os.rename(tmp_path / d / part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "emb_out")
    idx = str(tmp_path / "emb_idx")
    q = embedding_near_dedup_sink(
        stream, out, idx, str(tmp_path / "emb_ck"),
        threshold=0.95, dim=16, bits=4, n_tables=1, probe_radius=4,
    )
    q.awaitTermination()

    kept = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert set(range(12)) <= kept         # batch 1 all kept
    assert 1002 in kept                   # novel vector survives
    assert 1000 not in kept               # exact cross-batch copy dropped
    assert 1001 not in kept               # near cross-batch copy dropped
    # index covers every vector ever seen — r12: state lives in the
    # bucketed store's vecs/ partition (one row per VECTOR now, not
    # per table)
    idx_ids = {
        r["__id"]
        for r in spark.read.parquet(os.path.join(idx, "vecs")).collect()
    }
    assert set(range(12)) | {1000, 1001, 1002} <= idx_ids


def test_upsert_sink_partition_scoped(spark, tmp_path):
    """upsert_sink with partition_cols merges each micro-batch through
    the partition-scoped path: untouched partitions keep their exact
    files across batches."""
    import glob
    import os
    import time

    b1 = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "en", "b", 1)],
        "k long, lang string, v string, ver long",
    )
    b2 = spark.createDataFrame(
        [(1, "de", "a2", 2)],
        "k long, lang string, v string, ver long",
    )
    src = tmp_path / "up_src"
    src.mkdir()
    for i, (nm, df) in enumerate([("a", b1), ("b", b2)]):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / nm))
        part = next(
            p for p in os.listdir(tmp_path / nm) if p.endswith(".parquet")
        )
        dst = src / f"{nm}.parquet"
        os.rename(tmp_path / nm / part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    out = str(tmp_path / "up_out")
    stream = (
        spark.readStream.schema("k long, lang string, v string, ver long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = upsert_sink(
        stream, out, ["k"], "ver", str(tmp_path / "up_ck"),
        partition_cols=["lang"],
    )
    q.awaitTermination()
    rows = {r.k: (r.lang, r.v, r.ver) for r in spark.read.parquet(out).collect()}
    assert rows == {1: ("de", "a2", 2), 2: ("en", "b", 1)}
    assert glob.glob(f"{out}/lang=de/*.parquet")  # hive layout preserved


def test_upsert_sink_self_heals_interrupted_swap(
    spark, tmp_path, monkeypatch
):
    """A previous run crashed between the upsert's renames (the live
    table renamed aside, the merged copy not yet in): the sink's first
    merge heals the table before it reads it, then merges the stream
    on top, and leaves no remnant."""
    import os
    import time

    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    out = str(tmp_path / "heal_out")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, ver long"
    )
    upsert_parquet(spark, out, base, ["k"], "ver")
    real_rename = os.rename

    def crash_swap_in(src, dst):
        if dst == out:
            raise OSError("crash before the swap-in")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_swap_in)
        with pytest.raises(OSError, match="crash before the swap-in"):
            upsert_parquet(spark, out, spark.createDataFrame(
                [(3, "c", 1)], "k long, v string, ver long"
            ), ["k"], "ver")
    assert not os.path.exists(out)

    batch = spark.createDataFrame(
        [(1, "a2", 2)], "k long, v string, ver long"
    )
    src = tmp_path / "heal_src"
    src.mkdir()
    batch.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "hb"))
    part = next(
        p for p in os.listdir(tmp_path / "hb") if p.endswith(".parquet")
    )
    os.rename(tmp_path / "hb" / part, src / "b.parquet")
    os.utime(src / "b.parquet", (time.time(), time.time()))

    stream = (
        spark.readStream.schema("k long, v string, ver long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = upsert_sink(stream, out, ["k"], "ver", str(tmp_path / "heal_ck"))
    q.awaitTermination()
    rows = {r.k: (r.v, r.ver) for r in spark.read.parquet(out).collect()}
    # the crashed merge rolled forward, then the stream merged
    assert rows == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}
    assert not [
        d for d in os.listdir(tmp_path) if d.startswith("heal_out.")
    ]


def test_state_store_is_append_organized(spark, tmp_path, sf_smoke):
    """The scale contract of the incremental sinks: each batch must
    APPEND its fresh state/output rows as new part-files, never rewrite
    prior batches' files — per-batch write cost O(batch), not
    O(corpus). Pinned by file identity: the exact file names present
    after batch 1 must still be present (untouched) after batch 2."""
    import os
    import time

    from data_engineering_pipeline_spark.streaming.sinks import (
        near_dedup_sink,
    )

    src = tmp_path / "app_src"
    src.mkdir()
    out, sig = str(tmp_path / "app_out"), str(tmp_path / "app_sig")

    def land(batch_df, name, order):
        d = tmp_path / f"w_{name}"
        batch_df.coalesce(1).write.mode("overwrite").parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"{name}.parquet"
        os.rename(d / part, dst)
        os.utime(dst, (time.time() + order, time.time() + order))

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    land(b1, "b1", 0)
    q = near_dedup_sink(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(src)),
        out, sig, str(tmp_path / "app_ck"),
    )
    q.awaitTermination()

    def _sig_files():
        # r11: bucketed store — file identity tracked recursively
        import glob as _g

        return set(_g.glob(os.path.join(sig, "**", "*.parquet"),
                           recursive=True))

    sig_files_1 = _sig_files()
    out_files_1 = set(os.listdir(out))
    assert sig_files_1 and out_files_1

    b2 = spark.createDataFrame(
        [(3, "totally different text about ships and sails")],
        "doc_id long, text string",
    )
    land(b2, "b2", 1)
    q = near_dedup_sink(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(src)),
        out, sig, str(tmp_path / "app_ck"),
    )
    q.awaitTermination()
    # batch 1's files survive bit-for-bit under their original names;
    # batch 2 only added files
    assert sig_files_1 <= _sig_files()
    assert out_files_1 <= set(os.listdir(out))
    assert len(_sig_files()) > len(sig_files_1)
    ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert ids == {1, 2, 3}
    sig_ids = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(sig, "sigs")).collect()
    }
    assert sig_ids == {1, 2, 3}


def test_incremental_ops_delta_state_mode(spark):
    """state_mode='delta' returns only the batch's fresh rows; feeding
    full state back next batch must equal the old full-mode union."""
    from data_engineering_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (2, "gg hh ii jj kk ll")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "gg hh ii jj kk ll"), (3, "mm nn oo pp qq rr")],
        "doc_id long, text string",
    )
    full1, _ = incremental_minhash_dedup(b1, None)
    delta2, _ = incremental_minhash_dedup(b2, full1, state_mode="delta")
    # id 2 already in state: delta carries ONLY id 3
    assert {r.doc_id for r in delta2.select("doc_id").collect()} == {3}
    full2, _ = incremental_minhash_dedup(b2, full1)
    assert sorted(
        r.doc_id for r in full2.select("doc_id").collect()
    ) == [1, 2, 3]


def test_snapshot_append_sink_exactly_once(spark, tmp_path, sf_smoke):
    """Exactly-once streaming ingest into the transactional table: a
    full replay of the SAME micro-batches (fresh checkpoint, same
    app_id) finds its (app_id, batch_id) txns already committed and
    appends nothing; new data under a later batch id still lands."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        snapshot_append_sink,
    )

    src = _events_input(tmp_path, sf_smoke, "snap_in")
    tbl = str(tmp_path / "snap_tbl")
    ck1 = str(tmp_path / "snap_ck1")
    ck2 = str(tmp_path / "snap_ck2")

    stream = read_events_stream(spark, src)
    snapshot_append_sink(stream, tbl, ck1, "ingest-app").awaitTermination()
    t = SnapshotTable(spark, tbl)
    n1 = t.read().count()
    v1 = t.latest_version()
    assert n1 > 0

    # at-least-once replay: same files, fresh checkpoint -> same batch
    # ids -> every append is a txn-checked no-op
    stream2 = read_events_stream(spark, src)
    snapshot_append_sink(stream2, tbl, ck2, "ingest-app").awaitTermination()
    assert t.read().count() == n1
    assert t.latest_version() == v1

    # a DIFFERENT app is not deduped against this app's history
    ck3 = str(tmp_path / "snap_ck3")
    stream3 = read_events_stream(spark, src)
    snapshot_append_sink(stream3, tbl, ck3, "other-app").awaitTermination()
    assert t.read().count() == 2 * n1


def test_aggregate_refresh_sink_bronze_to_silver(spark, tmp_path):
    """Streamed batches land in the source table and the grouped
    materialization refreshes incrementally per batch; a full replay
    changes neither layer, and the final aggregate equals a direct
    recompute over everything streamed."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        aggregate_refresh_sink,
    )

    land = tmp_path / "in"
    land.mkdir()
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 5)).alias("grp"),
        (F.col("id") % 97).alias("cents"),
    )
    df.coalesce(1).write.parquet(str(land / "files"))
    src_p, agg_p = str(tmp_path / "src"), str(tmp_path / "agg")

    def run(ck):
        stream = spark.readStream.schema(
            "k long, grp string, cents long"
        ).option("maxFilesPerTrigger", "1").parquet(str(land / "files"))
        aggregate_refresh_sink(
            stream, src_p, agg_p, str(tmp_path / ck), "b2s",
            ["k"], ["grp"], ["cents"],
        ).awaitTermination()

    run("ck1")
    agg = SnapshotTable(spark, agg_p)
    got = {r.grp: (r.cnt, r.sum_cents) for r in agg.read().collect()}
    want = {
        r.grp: (r.cnt, r.s)
        for r in df.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("s"))
        .collect()
    }
    assert got == want
    v_src = SnapshotTable(spark, src_p).latest_version()
    v_agg = agg.latest_version()

    run("ck2")  # full replay, fresh checkpoint
    assert SnapshotTable(spark, src_p).latest_version() == v_src
    assert agg.latest_version() == v_agg
    assert {r.grp: (r.cnt, r.sum_cents)
            for r in agg.read().collect()} == want


def test_snapshot_merge_sink_exactly_once_upserts(spark, tmp_path):
    """Streaming MERGE: two micro-batches upsert by key (update +
    insert) through the table format; a full replay with a fresh
    checkpoint finds its txns and changes neither version nor rows."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        snapshot_merge_sink,
    )

    land = tmp_path / "in"
    land.mkdir()
    spark.createDataFrame(
        [(1, "a1"), (2, "b1")], "k long, val string"
    ).coalesce(1).write.parquet(str(land / "files" / "b0"))
    spark.createDataFrame(
        [(2, "b2"), (3, "c2")], "k long, val string"
    ).coalesce(1).write.parquet(str(land / "files" / "b1"))
    tbl = str(tmp_path / "tbl")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, val string")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(land / "files"))
        )
        snapshot_merge_sink(
            stream, tbl, str(tmp_path / ck), "merge-app", ["k"]
        ).awaitTermination()

    run("ck1")
    t = SnapshotTable(spark, tbl)
    rows = {r.k: r.val for r in t.read().collect()}
    assert rows == {1: "a1", 2: "b2", 3: "c2"}
    v = t.latest_version()

    run("ck2")  # replay everything
    assert t.latest_version() == v
    assert {r.k: r.val for r in t.read().collect()} == rows


def test_snapshot_merge_sink_mor_mode(spark, tmp_path):
    """Streaming MERGE in merge-on-read mode: micro-batches mask +
    append instead of rewriting, the replayed stream is still a
    no-op, results equal the cow sink, and in-sink maintenance
    (maintain_every) purges the accumulated masks."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        snapshot_merge_sink,
    )

    land = tmp_path / "in"
    land.mkdir()
    batches = [
        [(1, "a1"), (2, "b1"), (3, "c1")],
        [(2, "b2"), (4, "d2")],
        [(1, "a3"), (4, "d3"), (5, "e3")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k long, val string").coalesce(
            1
        ).write.parquet(str(land / "files" / f"b{i}"))
    tbl = str(tmp_path / "tbl_mor")

    def run(ck):
        stream = (
            spark.readStream.schema("k long, val string")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(land / "files"))
        )
        snapshot_merge_sink(
            stream, tbl, str(tmp_path / ck), "merge-app", ["k"],
            mode="mor", maintain_every=2,
            maintain_kwargs={"max_dv_files": 0, "keep_versions": 100},
        ).awaitTermination()

    run("ck1")
    t = SnapshotTable(spark, tbl)
    want = {1: "a3", 2: "b2", 3: "c1", 4: "d3", 5: "e3"}
    assert {r.k: r.val for r in t.read().collect()} == want
    # batch 2 triggered maintain(max_dv_files=0) AFTER its merge: no
    # live file carries a mask any more, and the purge shows in history
    masked = [e for e in t._live_files().values() if e.get("dvs")]
    assert masked == []
    assert any(h["op"] == "purge" for h in t.history())

    v = t.latest_version()
    run("ck2")  # full replay: txn-stamped no-ops
    assert t.latest_version() == v
    assert {r.k: r.val for r in t.read().collect()} == want


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_join_refresh_sink_fact_dim_materialization(spark, tmp_path):
    """Streamed fact batches merge into the fact table and the
    materialized fact-dim join refreshes from both change feeds per
    batch; a dimension update landing between runs is folded in; a
    full replay changes no layer."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        join_refresh_sink,
    )

    land = tmp_path / "in"
    land.mkdir()
    fact_df = spark.range(90).select(
        F.col("id").alias("ak"),
        (F.col("id") % 4).alias("j"),
        (F.col("id") * 10).alias("aval"),
    )
    fact_df.repartition(3).write.parquet(str(land / "files"))
    dim_p = str(tmp_path / "dim")
    dim = SnapshotTable(spark, dim_p)
    dim.append(spark.createDataFrame(
        [(j, f"dim{j}") for j in range(4)], "j long, bval string"
    ))
    fact_p, view_p = str(tmp_path / "fact"), str(tmp_path / "view")

    def run(ck):
        stream = spark.readStream.schema(
            "ak long, j long, aval long"
        ).option("maxFilesPerTrigger", "1").parquet(str(land / "files"))
        join_refresh_sink(
            stream, fact_p, dim_p, view_p, str(tmp_path / ck),
            "jrs", ["ak"], ["j"], ["j"],
        ).awaitTermination()

    def recompute():
        return sorted(
            tuple(r) for r in
            SnapshotTable(spark, fact_p).read()
            .join(dim.read(), ["j"])
            .select("j", "ak", "aval", "bval").collect()
        )

    def view_rows():
        return sorted(
            tuple(r) for r in
            SnapshotTable(spark, view_p).read()
            .select("j", "ak", "aval", "bval").collect()
        )

    run("ck1")
    assert view_rows() == recompute()
    # a dimension writer updates between batches: next run folds it in
    dim.merge_into(
        spark.createDataFrame([(2, "DIM2")], "j long, bval string"), ["j"]
    )
    spark.createDataFrame(
        [(1000, 2, -5), (45, 1, -6)], "ak long, j long, aval long"
    ).coalesce(1).write.mode("append").parquet(str(land / "files"))
    run("ck1")  # same checkpoint: only the new file is a new batch
    got = view_rows()
    assert got == recompute()
    assert {r[3] for r in got if r[0] == 2} == {"DIM2"}
    assert (2, 1000, -5, "DIM2") in got and (1, 45, -6, "dim1") in got

    v = tuple(
        SnapshotTable(spark, p).latest_version()
        for p in (fact_p, view_p)
    )
    run("ck2")  # full replay from a fresh checkpoint: all no-ops
    assert tuple(
        SnapshotTable(spark, p).latest_version()
        for p in (fact_p, view_p)
    ) == v
    assert view_rows() == recompute()


def test_cms_sketch_sink_accumulates_and_survives_replay(
    spark, tmp_path
):
    """Two micro-batches of values accumulate into one running CMS;
    replaying batch data under a fresh checkpoint (at-least-once
    source) must NOT double the counters — the additive-sink failure
    mode the txn stamp exists to prevent."""
    from data_engineering_pipeline_spark.operators.sketch import (
        cms_estimate,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        cms_sketch_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [("alpha beta",)] * 30 + [("gamma delta",)] * 5, "v string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    table = str(tmp_path / "sketch")

    def drain(ck):
        stream = spark.readStream.schema("v string").parquet(
            str(src / "*")
        )
        cms_sketch_sink(
            stream, table, str(tmp_path / ck), "cmsapp", "v"
        ).awaitTermination()

    drain("ck1")
    # second batch lands: counts add
    spark.createDataFrame(
        [("alpha beta",)] * 12, "v string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    drain("ck1")

    items = spark.createDataFrame([("alpha beta",), ("gamma delta",)], "v string")
    cms = SnapshotTable(spark, table).read()
    est = {r.v: r.n_est for r in cms_estimate(cms, items, "v").collect()}
    assert est["alpha beta"] >= 42 and est["gamma delta"] >= 5
    before = dict(est)

    # full replay with a FRESH checkpoint but the same app id: every
    # batch re-arrives, the txn marks make each a no-op
    drain("ck2")
    cms2 = SnapshotTable(spark, table).read()
    est2 = {r.v: r.n_est for r in cms_estimate(cms2, items, "v").collect()}
    assert est2 == before


def test_kmv_sketch_sink_merges_and_survives_replay(spark, tmp_path):
    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_estimate_from_sketch,
        kmv_points,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        kmv_sketch_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [("g", f"value-{i}") for i in range(300)], "grp string, v string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    table = str(tmp_path / "kmv")

    def drain(ck):
        stream = spark.readStream.schema("grp string, v string").parquet(
            str(src / "*")
        )
        kmv_sketch_sink(
            stream, table, str(tmp_path / ck), "kmvapp", "grp", "v", k=32
        ).awaitTermination()

    drain("ck1")
    spark.createDataFrame(
        [("g", f"value-{i}") for i in range(200, 500)],  # 200 overlap
        "grp string, v string",
    ).coalesce(1).write.parquet(str(src / "b2"))
    drain("ck1")

    stored = SnapshotTable(spark, table).read()
    # incremental sketch == batch sketch over the union (merge rule)
    union = spark.createDataFrame(
        [("g", f"value-{i}") for i in range(500)], "grp string, v string"
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    w = Window.partitionBy("group").orderBy("u")
    direct = (
        kmv_points(union, "grp", FF.col("v"))
        .withColumn("__rk", FF.row_number().over(w))
        .filter(FF.col("__rk") <= 32)
        .drop("__rk")
    )
    assert {tuple(r) for r in stored.collect()} == {
        tuple(r) for r in direct.collect()
    }
    est = kmv_estimate_from_sketch(stored, 32).collect()[0]
    assert est.n_seen == 32 and abs(est.n_est - 500) / 500 < 0.6

    before = {tuple(r) for r in stored.collect()}
    drain("ck2")  # full replay, fresh checkpoint, same app id
    after = {
        tuple(r) for r in SnapshotTable(spark, table).read().collect()
    }
    assert after == before


def test_hll_sketch_sink_merges_and_survives_replay(spark, tmp_path):
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        hll_sketch_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [("g", f"value-{i}") for i in range(300)], "grp string, v string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    table = str(tmp_path / "hll")

    def drain(ck):
        stream = spark.readStream.schema("grp string, v string").parquet(
            str(src / "*")
        )
        hll_sketch_sink(
            stream, table, str(tmp_path / ck), "hllapp", "grp", "v"
        ).awaitTermination()

    drain("ck1")
    spark.createDataFrame(
        [("g", f"value-{i}") for i in range(200, 500)],  # 200 overlap
        "grp string, v string",
    ).coalesce(1).write.parquet(str(src / "b2"))
    drain("ck1")

    stored = SnapshotTable(spark, table).read()
    # incremental register table == batch registers over the union
    from pyspark.sql import functions as FF

    union = spark.createDataFrame(
        [("g", f"value-{i}") for i in range(500)], "grp string, v string"
    )
    direct = hll_registers(union, "grp", FF.col("v"))
    assert {tuple(r) for r in stored.collect()} == {
        tuple(r) for r in direct.collect()
    }
    est = hll_estimate_from_registers(stored).collect()[0]
    assert abs(est.n_est - 500) / 500 < 0.4

    before = {tuple(r) for r in stored.collect()}
    drain("ck2")  # full replay, fresh checkpoint, same app id
    after = {
        tuple(r) for r in SnapshotTable(spark, table).read().collect()
    }
    assert after == before


def test_qsketch_sink_adds_and_survives_replay(spark, tmp_path):
    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_quantiles,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )
    from data_engineering_pipeline_spark.streaming.sinks import (
        qsketch_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    b1 = [("g", i * 13 % 5003) for i in range(1500)]
    b2 = [("g", i * 29 % 5003) for i in range(1200)]
    spark.createDataFrame(b1, "grp string, x long").coalesce(1).write.parquet(
        str(src / "b1")
    )
    table = str(tmp_path / "qsk")

    def drain(ck):
        stream = spark.readStream.schema("grp string, x long").parquet(
            str(src / "*")
        )
        qsketch_sink(
            stream, table, str(tmp_path / ck), "qskapp", "grp", "x"
        ).awaitTermination()

    drain("ck1")
    spark.createDataFrame(b2, "grp string, x long").coalesce(1).write.parquet(
        str(src / "b2")
    )
    drain("ck1")

    stored = SnapshotTable(spark, table).read()
    # incremental sketch == batch sketch over the concatenation
    union = spark.createDataFrame(b1 + b2, "grp string, x long")
    from pyspark.sql import functions as FF

    direct = qsketch_build(union, "grp", FF.col("x"))
    assert {tuple(r) for r in stored.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # a quantile read from the stored sketch brackets the exact value
    q = qsketch_quantiles(stored, [90]).collect()[0]
    xs = sorted(v for _, v in b1 + b2)
    exact = xs[(q.n - 1) * 90 // 100]
    assert q.lo <= exact <= q.hi and q.n == len(xs)

    before = {tuple(r) for r in stored.collect()}
    drain("ck2")  # full replay, fresh checkpoint, same app id
    after = {
        tuple(r) for r in SnapshotTable(spark, table).read().collect()
    }
    assert after == before


def test_dedup_stream_drops_same_key_different_ts(spark, tmp_path, sf_smoke):
    """Per-KEY semantics (dropDuplicatesWithinWatermark): a replayed
    event whose producer re-stamped the timestamp still dedups —
    plain dropDuplicates(keys + [ts]) would pass both copies."""
    import pyspark.sql.functions as F

    import glob as _glob

    d = tmp_path / "in3"
    d.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", d / "a.parquet")
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    # the "retry" copy: same event_ids, ts shifted by one second —
    # written as ONE flat file so the stream's glob picks it up
    stage = tmp_path / "shift"
    ev.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
    ).coalesce(1).write.parquet(str(stage))
    shutil.move(
        _glob.glob(str(stage / "part-*.parquet"))[0], d / "b.parquet"
    )

    deduped = dedup_stream(
        read_events_stream(spark, str(d)), keys=["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT count(*) c, count(DISTINCT event_id) d FROM dedup_out2"
    ).collect()[0]
    assert got.c == got.d == ev.count()


def test_append_parquet_failed_write_cleans_up(spark, tmp_path):
    """A staged write that raises leaves the destination as it was and
    no `<dest>.__app__*` staging dir behind."""
    import glob

    from data_engineering_pipeline_spark.streaming.sinks import (
        _append_parquet,
    )

    dest = str(tmp_path / "store")
    _append_parquet(spark.range(3), dest)
    before = sorted(os.listdir(dest))
    boom = F.udf(lambda x: 1 // 0, "long")
    with pytest.raises(Exception, match="ZeroDivisionError"):
        _append_parquet(spark.range(3).select(boom("id").alias("id")),
                        dest, batch_id=1)
    assert glob.glob(f"{dest}.__app__*") == []
    assert sorted(os.listdir(dest)) == before
    assert sorted(r.id for r in spark.read.parquet(dest).collect()) == [
        0, 1, 2]
