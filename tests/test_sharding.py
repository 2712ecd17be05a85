"""Deterministic shard export: assignment/order are data-derived (not
partitioning-derived), the written layout is hive-partitioned and
sorted, and epochs produce different permutations."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sampling import key_hash
from data_engineering_pipeline_spark.operators.sharding import (
    export_shards,
    shuffle_shard,
)


def _docs(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc-"), F.col("id")).alias("text"),
    )



def _mixed_py(epoch, key):
    """Python mirror of operators/sampling.py mixed_key_hash: the
    epoch-keyed LCG fold + the sketches' two-round quadratic
    cross-mix (r10: shard order moved off the bare LCG, whose values
    are affine in contiguous ids)."""
    h = ((0 + epoch) * 69069 + 1) % 2**32
    h = ((h + key) * 69069 + 1) % 2**32
    h1, h2 = h % 1_000_000_007, h % 999_999_937
    for _ in range(2):
        h1, h2 = (
            (h1 * h1 + 48271 * h1 + h2) % 1_000_000_007,
            (h2 * h2 + 69621 * h2 + h1) % 999_999_937,
        )
    return h1 * 999_999_937 + h2


def test_export_layout_sorted_and_complete(spark, tmp_path):
    out = str(tmp_path / "shards")
    export_shards(_docs(spark), out, 4, ["doc_id"])
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert sorted(r.doc_id for r in back.collect()) == list(range(500))
    # within one shard file the rows are in (hash, key) shuffle order
    import pyarrow.parquet as pq

    d0 = os.path.join(out, "shard=0")
    f0 = [f for f in os.listdir(d0) if f.endswith(".parquet")]
    assert len(f0) == 1  # one writer task per shard
    ids = pq.read_table(os.path.join(d0, f0[0]))["doc_id"].to_pylist()
    hk = [_mixed_py(0, i) for i in ids]
    assert hk == sorted(hk)
    # and the scramble means shuffle order is NOT id order (r10)
    assert ids != sorted(ids)


def test_shard_contents_partitioning_independent(spark):
    """The property df.repartition(N).write lacks: reshaping the input
    must not change which rows land in which shard, nor their order."""
    docs = _docs(spark, 300)
    a = shuffle_shard(docs, 8, F.col("doc_id"))
    b = shuffle_shard(docs.repartition(13), 8, F.col("doc_id"))
    rows_a = sorted((r["shard"], r["__h"], r["doc_id"]) for r in a.collect())
    rows_b = sorted((r["shard"], r["__h"], r["doc_id"]) for r in b.collect())
    assert rows_a == rows_b
    # balanced by construction: uniform hash over 300 rows / 8 shards
    sizes = [
        r["count"] for r in a.groupBy("shard").count().collect()
    ]
    assert len(sizes) == 8 and max(sizes) < 2.5 * min(sizes)


def test_epoch_reshuffles(spark):
    docs = _docs(spark, 200)
    e0 = {r.doc_id: r.shard for r in
          shuffle_shard(docs, 8, F.col("doc_id"), epoch=0).collect()}
    e1 = {r.doc_id: r.shard for r in
          shuffle_shard(docs, 8, F.col("doc_id"), epoch=1).collect()}
    moved = sum(1 for k in e0 if e0[k] != e1[k])
    assert moved > 100  # a genuinely different permutation


def test_hash_matches_operator(spark):
    """shuffle_shard's hash must be exactly mixed_key_hash(epoch, key)
    — the cross-engine scrambled LCG the oracle reproduces."""
    from data_engineering_pipeline_spark.operators.sampling import (
        mixed_key_hash,
    )

    docs = _docs(spark, 50)
    sh = shuffle_shard(docs, 4, F.col("doc_id"), epoch=3)
    ref = docs.select(
        "doc_id", mixed_key_hash(F.lit(3), F.col("doc_id")).alias("h")
    )
    j = sh.join(ref, "doc_id")
    assert j.filter(F.col("__h") != F.col("h")).count() == 0


def test_epoch0_hash_key_in_oracle_form(spark):
    """The epoch-0 shuffle hash folds to the scrambled
    ((1+key)*69069+1) % 2^32 — the closed form the curation-shards
    oracle SQL mirrors (LCG seed + two quadratic cross-mix rounds)."""
    sh = shuffle_shard(_docs(spark, 20), 4, F.col("doc_id"))
    for r in sh.collect():
        assert r["__h"] == _mixed_py(0, r["doc_id"])


def test_refresh_shards_rebuilds_only_affected(spark, tmp_path):
    """Incremental export maintenance: after a merge touching two
    docs, only their shards' directories are rebuilt (mtime witness on
    the untouched dirs), the refreshed export equals a from-scratch
    export of the current snapshot, and a no-change refresh rebuilds
    nothing."""
    import os
    import time

    from data_engineering_pipeline_spark.operators.sharding import (
        refresh_shards,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.append(_docs(spark, 400))
    out = str(tmp_path / "shards")
    res = refresh_shards(src, out, 8, ["doc_id"])
    assert res["rebuilt"] == list(range(8))

    before = {
        d: os.path.getmtime(os.path.join(out, d))
        for d in os.listdir(out) if d.startswith("shard=")
    }
    time.sleep(0.05)
    upd = spark.createDataFrame(
        [(3, "UPDATED"), (7, "UPDATED")], "doc_id long, text string"
    )
    src.merge_into(upd, ["doc_id"])
    res2 = refresh_shards(src, out, 8, ["doc_id"])
    # doc 3 -> shard of hash(3), doc 7 -> shard of hash(7)
    want = sorted({_mixed_py(0, 3) % 8, _mixed_py(0, 7) % 8})
    assert res2["rebuilt"] == want
    after = {
        d: os.path.getmtime(os.path.join(out, d))
        for d in os.listdir(out) if d.startswith("shard=")
    }
    for d in before:
        shard_no = int(d.split("=")[1])
        if shard_no in want:
            assert after[d] != before[d]
        else:
            assert after[d] == before[d]

    # refreshed export == from-scratch export of the current snapshot
    fresh_dir = str(tmp_path / "fresh")
    export_shards(src.read(), fresh_dir, 8, ["doc_id"])
    a = spark.read.parquet(out).orderBy("doc_id").collect()
    b = spark.read.parquet(fresh_dir).orderBy("doc_id").collect()
    assert a == b
    assert {r.text for r in a if r.doc_id in (3, 7)} == {"UPDATED"}

    # nothing new -> no shard touched
    assert refresh_shards(src, out, 8, ["doc_id"])["rebuilt"] == []


def test_refresh_shards_survives_expired_watermark(spark, tmp_path):
    """Retention can expire the version the applied watermark points
    at; the refresh must fall back to a full rebuild instead of
    raising on every run forever (the wedge ADVICE r6 flagged). The
    rebuilt export must equal a from-scratch export of the head."""
    from data_engineering_pipeline_spark.operators.sharding import (
        refresh_shards,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    src = SnapshotTable(spark, str(tmp_path / "src_exp"))
    src.append(_docs(spark, 100))
    out = str(tmp_path / "shards_exp")
    refresh_shards(src, out, 4, ["doc_id"])

    for i in range(3):
        src.append(
            spark.createDataFrame(
                [(1000 + i, f"late{i}")], "doc_id long, text string"
            )
        )
    src.expire_versions(keep_last=1, grace_seconds=0.0)

    res = refresh_shards(src, out, 4, ["doc_id"])
    assert res["rebuilt"] == [0, 1, 2, 3]  # full rebuild, not a wedge
    fresh = str(tmp_path / "fresh_exp")
    export_shards(src.read(), fresh, 4, ["doc_id"])
    a = spark.read.parquet(out).orderBy("doc_id").collect()
    b = spark.read.parquet(fresh).orderBy("doc_id").collect()
    assert a == b
    # watermark re-stamped at head: the next refresh is a clean no-op
    assert refresh_shards(src, out, 4, ["doc_id"])["rebuilt"] == []


def test_string_keys_shard_correctly(spark, tmp_path):
    """key_hash casts to long, which turns string keys into NULL — the
    name-based entry points must hash strings (xxhash64) instead of
    silently writing the whole corpus into one null-shard dir."""
    import glob
    import os

    docs = spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(200)], "doc_id string, v long"
    )
    out = str(tmp_path / "s")
    export_shards(docs, out, 4, ["doc_id"])
    dirs = sorted(
        os.path.basename(d) for d in glob.glob(os.path.join(out, "shard=*"))
    )
    assert "shard=__HIVE_DEFAULT_PARTITION__" not in dirs
    assert len(dirs) == 4
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert back.filter("shard IS NULL").count() == 0
    # the Column-based API raises loudly instead of null-sharding
    import pytest as _pytest

    with _pytest.raises(Exception, match="NULL"):
        shuffle_shard(docs, 4, F.col("doc_id")).select("shard").collect()


def test_full_rebuild_stages_and_recovers(spark, tmp_path, monkeypatch):
    """A param-change full rebuild must not overwrite the live export
    in place: when the staged rebuild fails, the pre-rebuild export
    keeps serving and no stage is left beside it; the retried rebuild
    round-trips. (A crash at every swap step is swept in
    tests/test_dirswap.py.)"""
    import os

    from data_engineering_pipeline_spark.operators import sharding
    from data_engineering_pipeline_spark.operators.sharding import (
        refresh_shards,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "src"))
    t.append(
        spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("tag")
        )
    )
    out = str(tmp_path / "shards")
    refresh_shards(t, out, 4, ["doc_id"])
    n_before = spark.read.parquet(out).count()

    real_export = sharding.export_shards

    def failing_export(*a, **kw):
        real_export(*a, **kw)  # leave a staged export to clean up
        raise RuntimeError("rebuild write failed")

    monkeypatch.setattr(sharding, "export_shards", failing_export)
    with pytest.raises(RuntimeError, match="rebuild write failed"):
        refresh_shards(t, out, 8, ["doc_id"])
    monkeypatch.undo()
    assert sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    ) == [f"shard={k}" for k in range(4)]
    assert spark.read.parquet(out).count() == n_before
    assert not [
        d for d in os.listdir(tmp_path) if d.startswith("shards.")
    ]
    # and a real param-change rebuild (n_shards 4 -> 8) round-trips
    res = refresh_shards(t, out, 8, ["doc_id"])
    assert res["rebuilt"] == list(range(8))
    assert spark.read.parquet(out).count() == n_before


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_shard_manifest_audits_string_keyed_export(spark, tmp_path):
    """ADVICE r9: shard_manifest with key NAMES must agree row-for-row
    with the layout export_shards wrote for a STRING key — same shard
    membership, same in-shard order — and mixing names with Columns is
    rejected."""
    import pytest as _pytest

    from data_engineering_pipeline_spark.operators.sharding import (
        shard_manifest,
    )

    docs = spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(200)], "doc_id string, v long"
    )
    out = str(tmp_path / "s")
    export_shards(docs, out, 4, ["doc_id"])
    back = spark.read.parquet(out)

    mf = shard_manifest(docs, 4, "doc_id")
    assert mf.filter("shard IS NULL").count() == 0
    # per shard: the manifest's pos-ordered keys == the written order
    for s in range(4):
        wrote = [
            r.doc_id
            for r in spark.read.parquet(os.path.join(out, f"shard={s}"))
            .collect()
        ]
        audited = [
            r.doc_id
            for r in mf.filter(F.col("shard") == s).orderBy("pos").collect()
        ]
        assert wrote == audited, s
        n_docs = {r.n_docs for r in mf.filter(F.col("shard") == s).collect()}
        assert n_docs == {len(wrote)}

    with _pytest.raises(ValueError, match="all as names"):
        shard_manifest(docs, 4, "doc_id", F.col("v"))


def test_curriculum_interleave_exact_mixture_per_cycle(spark):
    """curriculum_interleave (r10): while every domain still has rows,
    EVERY cycle of width sum(weights) carries exactly the target mix;
    positions are unique; epoch re-keys the within-domain order; and
    non-positive weights are rejected."""
    import pytest as _pytest

    from data_engineering_pipeline_spark.operators.sharding import (
        curriculum_interleave,
    )

    rows = (
        [(i, "en") for i in range(30)]
        + [(100 + i, "de") for i in range(20)]
        + [(200 + i, "fr") for i in range(10)]
        + [(300 + i, "xx") for i in range(5)]  # unspecified: dropped
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    weights = {"en": 3, "de": 2, "fr": 1}
    out = curriculum_interleave(
        df, "domain", weights, F.col("doc_id")
    ).collect()
    assert len(out) == 60  # xx dropped
    assert len({r.pos for r in out}) == 60  # dense-unique schedule
    by_pos = {r.pos: r.domain for r in out}
    # fr exhausts last here (10 cycles of 6 slots = 60 = all rows), so
    # every cycle is full and carries exactly 3 en + 2 de + 1 fr
    for c in range(10):
        window = [by_pos[c * 6 + s] for s in range(6)]
        assert sorted(window) == ["de", "de", "en", "en", "en", "fr"]

    e1 = {r.doc_id: r.pos for r in curriculum_interleave(
        df, "domain", weights, F.col("doc_id"), epoch=1).collect()}
    e0 = {r.doc_id: r.pos for r in out}
    assert e0 != e1  # epoch re-keys the permutation
    assert set(e0) == set(e1)  # same rows scheduled

    with _pytest.raises(ValueError, match="positive"):
        curriculum_interleave(df, "domain", {"en": 0}, F.col("doc_id"))


def test_curriculum_bucketed_rank_bit_equal_and_partitioned(spark):
    """The production rank path (rank_buckets=N: equal-width hash
    buckets + driver prefix sums + per-(domain,bucket) windows) is
    BIT-IDENTICAL to the single-window graded path, and its physical
    plan windows on (domain, bucket), never on domain alone."""
    from data_engineering_pipeline_spark.operators.sharding import (
        curriculum_interleave,
    )

    rows = (
        [(i, "en") for i in range(120)]
        + [(1000 + i, "de") for i in range(80)]
        + [(2000 + i, "fr") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    weights = {"en": 3, "de": 2, "fr": 1}
    base = {(r.doc_id, r.pos) for r in curriculum_interleave(
        df, "domain", weights, F.col("doc_id")).collect()}
    for n_b in (2, 7, 64):
        got = {(r.doc_id, r.pos) for r in curriculum_interleave(
            df, "domain", weights, F.col("doc_id"),
            rank_buckets=n_b).collect()}
        assert got == base, f"rank_buckets={n_b} diverged"

    plan = curriculum_interleave(
        df, "domain", weights, F.col("doc_id"), rank_buckets=8
    )._jdf.queryExecution().executedPlan().toString()
    import re
    for m in re.finditer(r"partitionBy=\[([^\]]*)\]", plan):
        assert "__b" in m.group(1) or "domain" not in m.group(1)


def test_refresh_shards_hash_version_forces_rebuild(spark, tmp_path):
    """ADVICE r11: shard ASSIGNMENT is a pure function of the key-hash
    algorithm, so a watermark written under an older hash (r10 moved
    key_hash -> mixed_key_hash) must NOT refresh incrementally —
    untouched shard dirs would keep old-hash placement while changed
    docs land at new-hash shards, duplicating/dropping rows. A state
    file without the "hash" stamp (or with a different one) forces a
    full rebuild; the current stamp refreshes incrementally."""
    import json

    from data_engineering_pipeline_spark.operators.sharding import (
        refresh_shards,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.append(_docs(spark, 200))
    out = str(tmp_path / "shards")
    assert refresh_shards(src, out, 4, ["doc_id"])["rebuilt"] == list(
        range(4)
    )
    state_path = os.path.join(out, "_shards_state.json")
    with open(state_path) as fh:
        st = json.load(fh)
    assert st["hash"] == "mixed-v2"

    # simulate a pre-stamp export: drop the hash key, bump nothing else
    del st["hash"]
    with open(state_path, "w") as fh:
        json.dump(st, fh)
    upd = spark.createDataFrame(
        [(3, "UPDATED")], "doc_id long, text string"
    )
    src.merge_into(upd, ["doc_id"])
    res = refresh_shards(src, out, 4, ["doc_id"])
    assert res["rebuilt"] == list(range(4))  # full rebuild, not 1 shard

    # with the current stamp, the next change refreshes incrementally
    src.merge_into(
        spark.createDataFrame(
            [(5, "UPDATED2")], "doc_id long, text string"
        ),
        ["doc_id"],
    )
    res2 = refresh_shards(src, out, 4, ["doc_id"])
    assert res2["rebuilt"] == [_mixed_py(0, 5) % 4]
