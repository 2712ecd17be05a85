"""Bucketed vector index store (operators/vec_store.py): pair parity
with the flat incremental operator, replay convergence, pruned reads
(file-open witness), crash heal, and the prefix-moduli migration — the embedding twin of tests/test_sig_store.py."""

from __future__ import annotations

import glob
import os
import random

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.similarity import (
    incremental_embedding_dedup,
)
from data_engineering_pipeline_spark.operators.vec_store import (
    VecIndexStore,
)

CFG = dict(dim=16, bits=4, n_tables=2)
FLAT_CFG = dict(dim=16, bits=4, n_tables=2, probe_radius=1,
                threshold=0.9)


def _vecs(spark, ids, seed=3):
    """Deterministic vectors: even ids and their +1 neighbors are
    near-identical (cosine ~ 1); different even bases are random."""
    rows = []
    for i in ids:
        rng = random.Random(1000 + (i - (i % 2)))
        v = [rng.gauss(0.0, 1.0) for _ in range(16)]
        if i % 2:
            v = [x + 0.005 for x in v]
        rows.append((i, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _pairset(pairs_df):
    return {
        (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in pairs_df.collect()
    }


def test_store_probe_matches_flat_operator(spark, tmp_path):
    """Two sequential batches through the store produce EXACTLY the
    flat operator's pair sets — the store is a layout change, not a
    semantics change."""
    b1 = _vecs(spark, range(0, 16))
    b2 = _vecs(spark, list(range(16, 24)) + [100, 101])

    flat_state, flat_p1 = incremental_embedding_dedup(
        b1, None, **FLAT_CFG
    )
    _, flat_p2 = incremental_embedding_dedup(b2, flat_state, **FLAT_CFG)

    st = VecIndexStore(spark, str(tmp_path / "st"), **CFG)
    f1, p1 = st.probe(b1, threshold=0.9, probe_radius=1)
    assert _pairset(p1) == _pairset(flat_p1)
    st.commit(f1, 1)
    f2, p2 = st.probe(b2, threshold=0.9, probe_radius=1)
    assert _pairset(p2) == _pairset(flat_p2)
    st.commit(f2, 2)

    got = {
        r["__id"]
        for r in spark.read.parquet(str(tmp_path / "st" / "vecs")).collect()
    }
    assert got == set(range(0, 24)) | {100, 101}


def test_replayed_batch_converges(spark, tmp_path):
    """Re-probing an already-committed batch: fresh is EMPTY, pairs
    recompute identically, re-commit adds zero files."""
    st = VecIndexStore(spark, str(tmp_path / "st"), **CFG)
    b = _vecs(spark, range(0, 10))
    f, p = st.probe(b, threshold=0.9, probe_radius=1)
    st.commit(f, 1)
    files0 = set(glob.glob(str(tmp_path / "st" / "**" / "*.parquet"),
                           recursive=True))
    f2, p2 = st.probe(b, threshold=0.9, probe_radius=1)
    assert f2.count() == 0
    assert _pairset(p2) == _pairset(p)
    st.commit(f2, 1)
    assert set(glob.glob(str(tmp_path / "st" / "**" / "*.parquet"),
                         recursive=True)) == files0


def test_probe_opens_fraction_of_dirs(spark, tmp_path):
    """The file-open witness: a small batch's probe opens only the
    (tbl, spfx) dirs its own probe signatures hash into."""
    st = VecIndexStore(spark, str(tmp_path / "st"), **CFG, spfx=8)
    f, _ = st.probe(_vecs(spark, range(0, 60)), probe_radius=0)
    st.commit(f, 1)
    stats: dict = {}
    st.probe(_vecs(spark, [500]), probe_radius=0, stats=stats)
    assert stats["signed_dirs_opened"] <= stats["signed_dirs_total"]
    # one vector signs once per table: at most n_tables dirs touched
    assert stats["signed_dirs_opened"] <= CFG["n_tables"]
    assert stats["signed_dirs_total"] > CFG["n_tables"]


def test_compact_migrates_moduli_and_heals_crash(spark, tmp_path):
    """compact(to_*) re-partitions both layouts; a simulated crash
    between the two layout swaps still reads each under its true
    modulus; banding params stay structural."""
    import shutil as _sh

    import pytest

    root = str(tmp_path / "st")
    st = VecIndexStore(spark, root, **CFG, spfx=2, vpfx=2)
    f, _ = st.probe(_vecs(spark, range(0, 20)), probe_radius=1)
    st.commit(f, 1)
    probe = _vecs(spark, [500, 1])
    before = _pairset(st.probe(probe, threshold=0.9, probe_radius=1)[1])

    _sh.copytree(os.path.join(root, "vecs"), str(tmp_path / "old_vecs"))
    old_meta = open(os.path.join(root, "_meta.json")).read()
    st.compact(to_spfx=8, to_vpfx=8)
    assert st.spfx == 8 and st.vpfx == 8
    after = _pairset(st.probe(probe, threshold=0.9, probe_radius=1)[1])
    assert after == before
    # fresh default-moduli handle adopts; signer params still raise
    st2 = VecIndexStore(spark, root, **CFG)
    assert st2.spfx == 8 and st2.vpfx == 8
    with pytest.raises(ValueError):
        VecIndexStore(spark, root, dim=16, bits=5, n_tables=2)

    # crash window: vecs restored to the OLD modulus, meta rolled back
    _sh.rmtree(os.path.join(root, "vecs"))
    _sh.copytree(str(tmp_path / "old_vecs"), os.path.join(root, "vecs"))
    with open(os.path.join(root, "_meta.json"), "w") as fh:
        fh.write(old_meta)
    st3 = VecIndexStore(spark, root, **CFG)
    assert st3.spfx == 8 and st3.vpfx == 2  # per-layout truth
    assert _pairset(
        st3.probe(probe, threshold=0.9, probe_radius=1)[1]
    ) == before
    st3.compact(to_spfx=8, to_vpfx=8)  # interrupted migration replays
    st4 = VecIndexStore(spark, root, **CFG)
    assert st4.vpfx == 8
    assert _pairset(
        st4.probe(probe, threshold=0.9, probe_radius=1)[1]
    ) == before


def test_swap_crash_heal_on_open(spark, tmp_path):
    """compact()'s rename window: live dir missing with only the aside
    on disk — the next open restores it and sweeps stale stages."""
    import shutil as _sh

    root = str(tmp_path / "st")
    st = VecIndexStore(spark, root, **CFG)
    f, _ = st.probe(_vecs(spark, range(0, 10)))
    st.commit(f, 1)
    vecs = os.path.join(root, "vecs")
    os.rename(vecs, vecs + ".old-deadbeef")
    os.makedirs(vecs + ".compact-feedface")
    st2 = VecIndexStore(spark, root, **CFG)
    assert st2.exists()
    assert not os.path.isdir(vecs + ".old-deadbeef")
    assert not os.path.isdir(vecs + ".compact-feedface")
    got = {r["__id"] for r in spark.read.parquet(vecs).collect()}
    assert got == set(range(10))
    _sh.rmtree(root, ignore_errors=True)


def test_probe_hot_bucket_cap_bounds_candidates(spark, tmp_path):
    """Embedding twin of the sig-store cap witness: 60 identical
    vectors flood their (tbl, sig) buckets; the cap truncates the
    store side to the smallest ids, bounding candidates while every
    new flood member still verifies against the cluster's lowest-id
    representative."""
    flood_v = [1.0 if k % 2 else -1.0 for k in range(16)]

    def flooded(spark_, ids, flood_ids):
        base = _vecs(spark_, ids)
        rows = [(i, flood_v) for i in flood_ids]
        extra = spark_.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        return base.unionByName(extra)

    st = VecIndexStore(spark, str(tmp_path / "st"), **CFG)
    b1 = flooded(spark, range(0, 20), range(1000, 1060))
    f1, _ = st.probe(b1, threshold=0.9, probe_radius=1)
    st.commit(f1, 1)

    b2 = flooded(spark, [30, 31], [2000, 2001, 2002])
    nocap: dict = {}
    _, p_nocap = st.probe(
        b2, threshold=0.9, probe_radius=1, stats=nocap
    )
    cap: dict = {}
    _, p_cap = st.probe(
        b2, threshold=0.9, probe_radius=1, max_bucket_size=8, stats=cap
    )
    pairs_cap = _pairset(p_cap)

    assert nocap["cand_pairs"] > 150
    # flood contribution drops from 3 x 60 pairs to <= 3 x 8; the
    # residual difference is random-vector candidates (bits=4 -> 16
    # buckets/table), identical in both runs and verify-rejected
    assert cap["cand_pairs"] <= nocap["cand_pairs"] - 120
    assert cap["capped_buckets"] >= 1
    for dup in (2000, 2001, 2002):
        assert any(
            b == dup and a == 1000 and sim >= 0.9
            for a, b, sim in pairs_cap
        )
    # non-flood pairs unaffected
    assert {(a, b) for a, b, _ in pairs_cap if b < 2000} == {
        (a, b) for a, b, _ in _pairset(p_nocap) if b < 2000
    }

    # normal batch: capped probe is pair-identical to uncapped
    b3 = _vecs(spark, [40, 41])
    _, q_nocap = st.probe(b3, threshold=0.9, probe_radius=1)
    _, q_cap = st.probe(
        b3, threshold=0.9, probe_radius=1, max_bucket_size=8
    )
    assert _pairset(q_cap) == _pairset(q_nocap)


def test_modulus_one_store_matches_multi_prefix_store(spark, tmp_path):
    """spfx=1 / vpfx=1 engages the probe's skip-the-pruning-collect
    fast paths (r13) — pair sets must exactly match the multi-prefix
    store's: moduli are layout, never semantics."""
    b1 = _vecs(spark, range(0, 16))
    b2 = _vecs(spark, list(range(16, 24)) + [100, 101])

    multi = VecIndexStore(
        spark, str(tmp_path / "multi"), **CFG, spfx=4, vpfx=4
    )
    one = VecIndexStore(
        spark, str(tmp_path / "one"), **CFG, spfx=1, vpfx=1
    )
    fm1, pm1 = multi.probe(b1, threshold=0.9, probe_radius=1)
    fo1, po1 = one.probe(b1, threshold=0.9, probe_radius=1)
    assert _pairset(po1) == _pairset(pm1)
    multi.commit(fm1, 1)
    one.commit(fo1, 1)
    _, pm2 = multi.probe(b2, threshold=0.9, probe_radius=1)
    _, po2 = one.probe(b2, threshold=0.9, probe_radius=1)
    assert _pairset(po2) == _pairset(pm2)
    st: dict = {}
    _, po2s = one.probe(b2, threshold=0.9, probe_radius=1, stats=st)
    assert _pairset(po2s) == _pairset(pm2)
    assert st["cand_pairs"] >= len(_pairset(pm2))
