"""Band-bucketed signature store (operators/sig_store.py): probe
parity with the flat incremental operator, replay/crash convergence,
partition-pruned reads (the file-open witness), and the structural
meta guard."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.dedup import (
    incremental_minhash_dedup,
)
from data_engineering_pipeline_spark.operators.sig_store import (
    BandedSignatureStore,
)


def _docs(spark, ids, mutate=None):
    """Deterministic docs with heavy shingle overlap inside id-pairs:
    even ids and their +1 neighbors share most 3-shingles."""
    rows = []
    for i in ids:
        base = i - (i % 2)
        words = [f"w{base}_{k}" for k in range(12)]
        if i % 2:
            words[-1] = "tail_variant"
        if mutate:
            words = mutate(i, words)
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairset(pairs_df):
    return {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in pairs_df.collect()
    }


def test_store_probe_matches_flat_operator(spark, tmp_path):
    """Two sequential batches through the store produce EXACTLY the
    flat operator's pair sets (ids and estimators) — the store is a
    layout change, not a semantics change."""
    b1 = _docs(spark, range(0, 20))
    b2 = _docs(spark, list(range(20, 30)) + [100, 101])

    flat_state, flat_p1 = incremental_minhash_dedup(b1, None)
    _, flat_p2 = incremental_minhash_dedup(b2, flat_state)

    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    f1, p1 = st.probe(b1)
    assert _pairset(p1) == _pairset(flat_p1)
    st.commit(f1, 1)
    f2, p2 = st.probe(b2)
    assert _pairset(p2) == _pairset(flat_p2)
    st.commit(f2, 2)

    # store contents == flat state (same rows, bucketed layout)
    got_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "st" / "sigs")).collect()
    }
    assert got_ids == {r.doc_id for r in flat_state.collect()} | {
        r.doc_id for r in f2.collect()
    }


def test_replayed_batch_converges(spark, tmp_path):
    """Re-probing an already-committed batch: fresh is EMPTY, pairs
    are recomputed identically (the sinks' drop rule replays), and the
    re-commit adds zero files."""
    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    b = _docs(spark, range(0, 12))
    f, p = st.probe(b)
    st.commit(f, 1)
    files0 = set(glob.glob(str(tmp_path / "st" / "**" / "*.parquet"),
                           recursive=True))
    f2, p2 = st.probe(b)
    assert f2.count() == 0
    assert _pairset(p2) == _pairset(p)
    st.commit(f2, 1)
    files1 = set(glob.glob(str(tmp_path / "st" / "**" / "*.parquet"),
                           recursive=True))
    assert files0 == files1


def test_crash_between_banded_and_sigs_converges(spark, tmp_path):
    """The one ordered crash window: band rows land, signature rows
    do not. The replayed commit re-derives the SAME fresh set (ids
    still absent from sigs/), re-appends band rows (duplicates are
    absorbed by the candidate distinct), and lands the signatures —
    after which probes see every doc exactly once."""
    from data_engineering_pipeline_spark.operators import sig_store

    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    b1 = _docs(spark, range(0, 10))
    f1, _ = st.probe(b1)

    real_move = sig_store._move_partition_files
    calls = {"n": 0}

    def crashing(stage, dest, tok):
        calls["n"] += 1
        moved = real_move(stage, dest, tok)
        if calls["n"] == 1:  # banded moved -> crash before sigs
            raise RuntimeError("simulated crash after banded move")
        return moved

    sig_store._move_partition_files = crashing
    try:
        with pytest.raises(RuntimeError):
            st.commit(f1, 1)
    finally:
        sig_store._move_partition_files = real_move

    assert not st.exists()  # sigs never landed
    # replay: same batch probes fresh again and commits cleanly
    st2 = BandedSignatureStore(spark, str(tmp_path / "st"))
    f1b, p1b = st2.probe(b1)
    assert f1b.count() == 10
    st2.commit(f1b, 1)
    # a colliding follow-up batch still finds its cross-batch dup once
    b2 = _docs(spark, [1000], mutate=lambda i, w: [f"w0_{k}" for k in range(12)])
    _, p2 = st2.probe(b2)
    got = [(a, b) for a, b, _ in _pairset(p2)]
    assert (0, 1000) in got            # the cross-batch dup is found
    assert len(got) == len(set(got))   # and found exactly once


def test_probe_prunes_partition_dirs(spark, tmp_path):
    """File-open witness (addendum-42 form): a 3-doc batch against a
    500-doc store lists only the (band, bpfx) dirs its own buckets
    hash into — a strict subset of the store's dirs. Pruning needs a
    multi-prefix store, so the moduli are set explicitly (a store
    this small stays at the modulus-1 default)."""
    st = BandedSignatureStore(spark, str(tmp_path / "st"),
                              sig_pfx=32, bucket_pfx=32)
    f, _ = st.probe(_docs(spark, range(0, 500)))
    st.commit(f, 1)
    stats: dict = {}
    _, p = st.probe(_docs(spark, [900, 901, 902]), stats=stats)
    p.count()
    assert stats["banded_dirs_total"] >= 200  # 8 bands x 32 bpfx, populated
    # 3 docs -> at most 24 band buckets -> at most 24 dirs listed
    assert stats["banded_dirs_opened"] <= 24
    assert stats["banded_files_opened"] < stats["banded_files_total"] / 4


def _part_dirs(root, *levels):
    return sorted(
        os.path.relpath(d, root)
        for d in glob.glob(os.path.join(root, *levels))
    )


def test_default_store_is_one_row_dir_plus_one_dir_per_band(
    spark, tmp_path
):
    """A default store starts at modulus 1 in both layouts: one sigs
    dir and one bucket dir per band — not bands x 32 + 32 dirs of
    near-empty files."""
    root = str(tmp_path / "st")
    st = BandedSignatureStore(spark, root)
    f, _ = st.probe(_docs(spark, range(0, 40)))
    st.commit(f, 1)
    assert (st.sig_pfx, st.bucket_pfx) == (1, 1)
    assert _part_dirs(root, "sigs", "pfx=*") == ["sigs/pfx=0"]
    assert _part_dirs(root, "banded", "band=*", "bpfx=*") == [
        f"banded/band={b}/bpfx=0" for b in range(st.bands)
    ]


def test_bootstrap_commit_past_byte_budget_grows_moduli(spark, tmp_path):
    """The commit that takes a layout past AUTO_GROW_DIR_BYTES raises
    its modulus in that same commit (no COMPACT_THRESHOLD-commit
    wait), and the grown store's pairs equal a fixed-moduli store's."""
    b1 = _docs(spark, range(0, 60))
    fixed = BandedSignatureStore(spark, str(tmp_path / "fixed"))
    f1, _ = fixed.probe(b1)
    fixed.commit(f1, 1)
    assert (fixed.sig_pfx, fixed.bucket_pfx) == (1, 1)
    # a budget a third of the smallest dir: both layouts must grow
    smallest = min(
        sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(str(tmp_path / "fixed" / "*" / "**" / "*pfx=0"),
                           recursive=True)
    )

    root = str(tmp_path / "grown")
    grown = BandedSignatureStore(spark, root)
    grown.AUTO_GROW_DIR_BYTES = smallest // 3
    g1, _ = grown.probe(b1)
    grown.commit(g1, 1)
    assert grown.sig_pfx > 1 and grown.bucket_pfx > 1
    assert len(_part_dirs(root, "sigs", "pfx=*")) > 1
    assert len(_part_dirs(root, "banded", "band=0", "bpfx=*")) > 1
    # the new moduli are stamped: a default handle adopts them
    reopened = BandedSignatureStore(spark, root)
    assert (reopened.sig_pfx, reopened.bucket_pfx) == (
        grown.sig_pfx, grown.bucket_pfx)

    b2 = _docs(spark, list(range(60, 70)) + [5, 200, 201],
               mutate=lambda i, w: [f"w4_{k}" for k in range(12)]
               if i == 200 else w)
    f2, p2 = fixed.probe(b2)
    g2, q2 = grown.probe(b2)
    assert _pairset(q2) == _pairset(p2)
    assert any(a == 4 and b == 200 for a, b, _ in _pairset(p2))
    fixed.commit(f2, 2)
    grown.commit(g2, 2)
    b3 = _docs(spark, [61, 300, 301])
    assert _pairset(grown.probe(b3)[1]) == _pairset(fixed.probe(b3)[1])


def test_meta_guard_rejects_structural_mismatch(spark, tmp_path):
    st = BandedSignatureStore(spark, str(tmp_path / "st"), bands=8)
    f, _ = st.probe(_docs(spark, range(0, 4)))
    st.commit(f, 1)
    with pytest.raises(ValueError, match="structural"):
        BandedSignatureStore(spark, str(tmp_path / "st"), bands=4)


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_compact_folds_files(spark, tmp_path):
    """Compaction folds per-batch files without changing contents."""
    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    f1, _ = st.probe(_docs(spark, range(0, 20)))
    st.commit(f1, 1)
    before = _pairset(st.probe(_docs(spark, [500, 501]))[1])
    f2, _ = st.probe(_docs(spark, range(20, 40)))
    st.commit(f2, 2)
    n_files0 = len(glob.glob(str(tmp_path / "st" / "**" / "*.parquet"),
                             recursive=True))
    st.compact()
    n_files1 = len(glob.glob(str(tmp_path / "st" / "**" / "*.parquet"),
                             recursive=True))
    assert n_files1 < n_files0  # two commits' files fold to one per dir
    assert spark.read.parquet(str(tmp_path / "st" / "sigs")).count() == 40
    after = _pairset(st.probe(_docs(spark, [500, 501]))[1])
    assert before == after


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_commit_auto_compacts_at_threshold(spark, tmp_path, monkeypatch):
    """A long stream of commits must not accumulate one file per batch
    per partition dir forever: when a sampled sigs dir crosses
    COMPACT_THRESHOLD the commit folds the store to one file per dir,
    and probe results are unchanged across the fold."""
    monkeypatch.setattr(BandedSignatureStore, "COMPACT_THRESHOLD", 3)
    st = BandedSignatureStore(spark, str(tmp_path / "st"),
                              sig_pfx=2, bucket_pfx=2)
    for b in range(6):
        f, _ = st.probe(_docs(spark, range(b * 10, b * 10 + 10)))
        st.commit(f, b)
    sig_files = glob.glob(
        str(tmp_path / "st" / "sigs" / "**" / "*.parquet"),
        recursive=True,
    )
    # 6 commits over 2 pfx dirs would be ~6 files/dir uncompacted;
    # the fold bounds each dir at threshold + 1
    per_dir: dict = {}
    for f in sig_files:
        per_dir.setdefault(os.path.dirname(f), 0)
        per_dir[os.path.dirname(f)] += 1
    assert max(per_dir.values()) <= 4
    # contents intact: every committed id still present and probeable
    ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "st" / "sigs")).collect()
    }
    assert ids == set(range(0, 10)) | set(range(10, 20)) | set(
        range(20, 30)) | set(range(30, 40)) | set(range(40, 50)) | set(
        range(50, 60))
    _, p = st.probe(
        _docs(spark, [2000], mutate=lambda i, w: [f"w20_{k}" for k in range(12)])
    )
    assert any(a == 20 for a, b, _ in _pairset(p))


def test_compact_crash_window_heals(spark, tmp_path):
    """compact()'s swap window: rename(base->aside) then
    rename(stage->base). A crash between the two leaves the live dir
    MISSING with the aside as the only copy — the next open must
    restore it (and sweep stale compact stages), or the store
    silently forgets the corpus."""
    import shutil

    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    f, _ = st.probe(_docs(spark, range(0, 20)))
    st.commit(f, 1)

    sigs = str(tmp_path / "st" / "sigs")
    # simulate the crash: live -> aside, a stale stage left behind
    os.rename(sigs, sigs + ".old-deadbeef")
    os.makedirs(sigs + ".compact-feedface")
    st2 = BandedSignatureStore(spark, str(tmp_path / "st"))
    assert st2.exists()
    assert not os.path.isdir(sigs + ".old-deadbeef")
    assert not os.path.isdir(sigs + ".compact-feedface")
    ids = {r.doc_id for r in spark.read.parquet(sigs).collect()}
    assert ids == set(range(20))
    shutil.rmtree(str(tmp_path / "st"), ignore_errors=True)


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_commit_auto_compacts_on_skewed_dirs(spark, tmp_path, monkeypatch):
    """The compaction trigger must watch the FULLEST sigs dir, not a
    fixed sample: batches whose ids all hash into one pfx dir pile
    files there while the lexicographically-first dir stays thin
    (r11 ADVICE item 3)."""
    monkeypatch.setattr(BandedSignatureStore, "COMPACT_THRESHOLD", 3)
    st = BandedSignatureStore(spark, str(tmp_path / "st"),
                              sig_pfx=2, bucket_pfx=2)

    # split a candidate id range by the store's own pfx hash
    cand = spark.range(0, 400).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(2)).alias("p"),
    ).collect()
    pfx0 = [r.id for r in cand if r.p == 0]
    pfx1 = [r.id for r in cand if r.p == 1]
    assert len(pfx0) >= 10 and len(pfx1) >= 60

    # one mixed batch so BOTH dirs exist, then pfx1-only batches
    f, _ = st.probe(_docs(spark, pfx0[:10] + pfx1[:10]))
    st.commit(f, 0)
    for b in range(1, 6):
        f, _ = st.probe(_docs(spark, pfx1[b * 10: b * 10 + 10]))
        st.commit(f, b)

    per_dir: dict = {}
    for f_ in glob.glob(str(tmp_path / "st" / "sigs" / "**" / "*.parquet"),
                        recursive=True):
        per_dir.setdefault(os.path.dirname(f_), 0)
        per_dir[os.path.dirname(f_)] += 1
    # without the max() trigger, pfx=1 holds 6 files (threshold 3)
    assert max(per_dir.values()) <= 4
    ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "st" / "sigs")).collect()
    }
    assert ids == set(pfx0[:10]) | set(pfx1[:60])


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_compact_migrates_prefix_moduli(spark, tmp_path):
    """r12 VERDICT item 5: compact(to_*) re-partitions the store to
    higher prefix moduli (the one legal migration point — it rewrites
    every file anyway). Probe results are unchanged, a fresh
    default-constructed handle ADOPTS the migrated moduli instead of
    raising, and the file-open witness shows a small probe opening a
    strict fraction of the larger dir set."""
    st = BandedSignatureStore(spark, str(tmp_path / "st"),
                              bands=4, sig_pfx=2, bucket_pfx=2)
    for b in range(2):
        f, _ = st.probe(_docs(spark, range(b * 20, b * 20 + 20)))
        st.commit(f, b)
    probe_docs = _docs(spark, [500, 501, 0, 1])
    before = _pairset(st.probe(probe_docs)[1])

    st.compact(to_sig_pfx=8, to_bucket_pfx=8)
    assert st.sig_pfx == 8 and st.bucket_pfx == 8
    # hive values recomputed under the new moduli
    bp = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(str(tmp_path / "st" / "banded" / "band=*" / "bpfx=*"))
    }
    sp = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(str(tmp_path / "st" / "sigs" / "pfx=*"))
    }
    assert max(bp) >= 2 and bp <= set(range(8))
    assert max(sp) >= 2 and sp <= set(range(8))
    assert _pairset(st.probe(probe_docs)[1]) == before

    # a new handle with DEFAULT moduli adopts the store's (bands is
    # still structural and still raises — pinned elsewhere)
    st2 = BandedSignatureStore(spark, str(tmp_path / "st"), bands=4)
    assert st2.sig_pfx == 8 and st2.bucket_pfx == 8
    assert _pairset(st2.probe(probe_docs)[1]) == before

    # pruning witness at the new moduli: a 2-doc probe opens a strict
    # fraction of the banded dirs
    stats: dict = {}
    st2.probe(_docs(spark, [900, 901]), stats=stats)
    assert stats["banded_dirs_opened"] < stats["banded_dirs_total"]


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_migration_crash_between_layout_swaps(spark, tmp_path):
    """Dying between compact()'s banded swap and sigs swap leaves the
    two layouts under DIFFERENT moduli. Each dir carries its own
    _layout.json, so the next open reads each under its true modulus
    and probes stay exact."""
    import shutil as _sh

    root = str(tmp_path / "st")
    st = BandedSignatureStore(spark, root, bands=4,
                              sig_pfx=2, bucket_pfx=2)
    f, _ = st.probe(_docs(spark, range(0, 30)))
    st.commit(f, 1)
    probe_docs = _docs(spark, [500, 501, 2, 3])
    before = _pairset(st.probe(probe_docs)[1])

    # simulate the crash: run the full migration, then put the OLD
    # sigs layout back (its _layout.json still says sig_pfx=2) and
    # the OLD meta back — exactly the on-disk state of a crash after
    # the banded swap
    _sh.copytree(os.path.join(root, "sigs"), str(tmp_path / "old_sigs"))
    old_meta = open(os.path.join(root, "_meta.json")).read()
    st.compact(to_sig_pfx=8, to_bucket_pfx=8)
    _sh.rmtree(os.path.join(root, "sigs"))
    _sh.copytree(str(tmp_path / "old_sigs"), os.path.join(root, "sigs"))
    with open(os.path.join(root, "_meta.json"), "w") as fh:
        fh.write(old_meta)

    st2 = BandedSignatureStore(spark, root, bands=4)
    assert st2.bucket_pfx == 8  # banded migrated
    assert st2.sig_pfx == 2     # sigs not yet
    assert _pairset(st2.probe(probe_docs)[1]) == before
    # re-running the interrupted migration converges
    st2.compact(to_sig_pfx=8, to_bucket_pfx=8)
    st3 = BandedSignatureStore(spark, root, bands=4)
    assert st3.sig_pfx == 8 and st3.bucket_pfx == 8
    assert _pairset(st3.probe(probe_docs)[1]) == before


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_auto_grow_doubles_moduli_when_dirs_outgrow_budget(
    spark, tmp_path, monkeypatch
):
    """The commit-time auto-compaction passes auto_grow=True: when a
    partition dir's bytes outgrow AUTO_GROW_DIR_BYTES the fold doubles
    the prefix moduli, so probe read volume stays batch-proportional
    as the corpus grows."""
    monkeypatch.setattr(BandedSignatureStore, "COMPACT_THRESHOLD", 2)
    monkeypatch.setattr(BandedSignatureStore, "AUTO_GROW_DIR_BYTES", 3000)
    monkeypatch.setattr(BandedSignatureStore, "MAX_PFX", 8)
    st = BandedSignatureStore(spark, str(tmp_path / "st"),
                              bands=4, sig_pfx=2, bucket_pfx=2)
    for b in range(4):
        f, _ = st.probe(_docs(spark, range(b * 25, b * 25 + 25)))
        st.commit(f, b)
    assert st.bucket_pfx > 2 or st.sig_pfx > 2  # the fold grew the store
    # contents and probe semantics intact after the growth
    ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "st" / "sigs")).collect()
    }
    assert ids == set(range(100))
    _, p = st.probe(
        _docs(spark, [2000],
              mutate=lambda i, w: [f"w20_{k}" for k in range(12)])
    )
    assert any(a == 20 for a, b, _ in _pairset(p))


def test_probe_hot_bucket_cap_bounds_candidates(spark, tmp_path):
    """Planted-template flood (the addendum-65 adversary): 60
    identical docs flood every band bucket. With max_bucket_size the
    store side of the candidate join is truncated to the bucket's
    smallest ids, so candidate volume is batch-bounded — while every
    later template copy STILL collides with the cluster's lowest-id
    representative (the survivor under the greatest-id-loses rule),
    so flood dup detection, exact copies included, is intact."""
    tmpl = " ".join(["template"] * 12)

    def plant(threshold_id):
        def mutate(i, words):
            return tmpl.split() if i >= threshold_id else words
        return mutate

    b1 = _docs(spark, list(range(0, 40)) + list(range(1000, 1060)),
               mutate=plant(1000))
    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    f1, _ = st.probe(b1)
    st.commit(f1, 1)

    b2 = _docs(spark, [50, 51, 2000, 2001, 2002], mutate=plant(2000))
    nocap: dict = {}
    _, p_nocap = st.probe(b2, max_bucket_size=None, stats=nocap)
    pairs_nocap = _pairset(p_nocap)
    cap: dict = {}
    _, p_cap = st.probe(b2, max_bucket_size=8, stats=cap)
    pairs_cap = _pairset(p_cap)

    # uncapped: each batch copy pairs with all 60 flood members
    assert nocap["cand_pairs"] > 150
    # capped: each batch copy pairs with at most 8 representatives
    assert cap["cand_pairs"] <= 3 * 8 + 5
    assert cap["capped_buckets"] >= 1
    # every new template copy is still caught as a dup of the
    # cluster's lowest-id representative at estimator 1.0
    for dup in (2000, 2001, 2002):
        assert any(
            b == dup and a == 1000 and est == 1.0
            for a, b, est in pairs_cap
        )
    # non-flood pairs are untouched by the cap
    assert {(a, b) for a, b, _ in pairs_cap if b < 2000} == {
        (a, b) for a, b, _ in pairs_nocap if b < 2000
    }

    # normal batch against the same store: cap on == cap off exactly
    b3 = _docs(spark, [60, 61])
    _, q_nocap = st.probe(b3)
    _, q_cap = st.probe(b3, max_bucket_size=8)
    assert _pairset(q_cap) == _pairset(q_nocap)


def test_modulus_one_store_matches_multi_prefix_store(spark, tmp_path):
    """sig_pfx=1 / bucket_pfx=1 engages the probe's skip-the-pruning-
    collect fast paths (r13: the prefix collects are constants at
    modulus 1 and run as extra serial driver jobs) — the pair sets
    must still be EXACTLY the multi-prefix store's on the same
    batches: the moduli are layout, never semantics."""
    b1 = _docs(spark, range(0, 20))
    b2 = _docs(spark, list(range(20, 30)) + [100, 101])

    multi = BandedSignatureStore(
        spark, str(tmp_path / "multi"), sig_pfx=4, bucket_pfx=4
    )
    one = BandedSignatureStore(
        spark, str(tmp_path / "one"), sig_pfx=1, bucket_pfx=1
    )
    fm1, pm1 = multi.probe(b1)
    fo1, po1 = one.probe(b1)
    assert _pairset(po1) == _pairset(pm1)
    multi.commit(fm1, 1)
    one.commit(fo1, 1)
    _, pm2 = multi.probe(b2)
    _, po2 = one.probe(b2)
    assert _pairset(po2) == _pairset(pm2)
    # stats-carrying probes still work on the modulus-1 layout (the
    # cand count forces the checkpointed branch)
    st: dict = {}
    _, po2s = one.probe(b2, stats=st)
    assert _pairset(po2s) == _pairset(pm2)
    assert st["cand_pairs"] >= len(_pairset(pm2))


def test_probe_precomputed_shingles_parity(spark, tmp_path):
    """probe(shingles=...) with a caller-precomputed shingle_sets
    frame must produce EXACTLY the internal-shingling probe's fresh
    ids and pair sets — the parameter shares a tokenization pass
    between a caller's probe and verify arms (r14 verdict item 1),
    never changes semantics. Covers both the against-empty-store and
    against-committed-store probes, and the assume_fresh fast path."""
    from data_engineering_pipeline_spark.operators.dedup import (
        shingle_sets,
    )

    b1 = _docs(spark, range(0, 20))
    b2 = _docs(spark, list(range(20, 30)) + [100, 101])
    sh1 = shingle_sets(b1, "doc_id", "text", 3)
    sh2 = shingle_sets(b2, "doc_id", "text", 3)

    ref = BandedSignatureStore(spark, str(tmp_path / "ref"))
    pre = BandedSignatureStore(spark, str(tmp_path / "pre"))
    fr1, pr1 = ref.probe(b1, threshold=0.0)
    fp1, pp1 = pre.probe(b1, threshold=0.0, shingles=sh1)
    assert _pairset(pp1) == _pairset(pr1)
    assert sorted(r.doc_id for r in fp1.select("doc_id").collect()) == \
        sorted(r.doc_id for r in fr1.select("doc_id").collect())
    ref.commit(fr1, 1)
    pre.commit(fp1, 1)
    _, pr2 = ref.probe(b2, threshold=0.0)
    _, pp2 = pre.probe(
        b2, threshold=0.0, assume_fresh=True, shingles=sh2
    )
    assert _pairset(pp2) == _pairset(pr2)
