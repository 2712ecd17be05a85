"""End-to-end curation pipeline composition: gates enforce, stages
reconcile, sequential increments converge to the one-shot result, and
replays are no-ops."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.plans.curation_pipeline import (
    curate_batch,
    curate_increment,
)
from data_engineering_pipeline_spark.sources.snapshot_table import (
    ExpectationViolation,
    SnapshotTable,
)

LANGS = ["en", "de", "fr"]


def _doc(i, lang, text):
    return (i, lang, text)


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def _corpus(base_id, n):
    rows = []
    for i in range(n):
        did = base_id + i
        lang = LANGS[i % 3]
        text = (
            f"document number {did} talks about topic {i % 7} in "
            f"considerable detail with plenty of ordinary words"
        )
        rows.append(_doc(did, lang, text))
    return rows


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_pipeline_increments_converge_to_one_shot(spark, tmp_path):
    b1 = _corpus(0, 60)
    # exact duplicate of doc 3, near-duplicate of doc 5, a too-short doc
    b1 += [
        _doc(900, "en", b1[3][2]),
        _doc(901, "de", b1[5][2].replace("ordinary", "usual")),
        _doc(902, "fr", "too short"),
    ]
    b2 = _corpus(100, 40)
    # cross-batch exact dup of doc 10 and near-dup of doc 11
    b2 += [
        _doc(950, "en", b1[10][2]),
        _doc(951, "de", b1[11][2].replace("plenty", "loads")),
    ]

    seq = str(tmp_path / "seq")
    s1 = curate_batch(spark, _mk_docs(spark, b1), seq)
    assert s1["landed"] == 62  # short doc dropped at the gate
    assert s1["after_dedup"] < s1["landed"]  # dup + near-dup gone
    assert s1["shards_rebuilt"] == 8
    s2 = curate_increment(spark, _mk_docs(spark, b2), seq, batch_id=1)
    assert s2["landed"] == 62 + 42

    one = str(tmp_path / "one")
    curate_batch(spark, _mk_docs(spark, b1 + b2), one)

    a = {tuple(r) for r in SnapshotTable(spark, f"{seq}/curated")
         .read().collect()}
    b = {tuple(r) for r in SnapshotTable(spark, f"{one}/curated")
         .read().collect()}
    assert a == b and len(a) > 0
    # cross-batch dups lost to their lower-id originals. Ids are read
    # BY NAME: the original positional {r[0]} read the first column,
    # which until the r9 rebalance fix was `lang` (the old USING-join
    # reordered columns) — making this assert vacuously compare doc
    # ids against language strings. Reading by name exposed that 951
    # ("plenty"->"loads", shingle Jaccard ~0.625) is genuinely BELOW
    # the 0.7 near-dup threshold and must survive; 901
    # ("ordinary"->"usual", ~0.733) and the exact dups are dropped.
    kept_ids = {
        r["doc_id"]
        for r in SnapshotTable(spark, f"{seq}/curated")
        .read().select("doc_id").collect()
    }
    assert 900 not in kept_ids and 950 not in kept_ids  # exact dups
    assert 901 not in kept_ids  # near-dup above threshold
    assert 951 in kept_ids  # below threshold: NOT a near-dup

    # the shard exports are byte-equivalent row sets
    sa = spark.read.parquet(f"{seq}/shards").orderBy("doc_id").collect()
    sb = spark.read.parquet(f"{one}/shards").orderBy("doc_id").collect()
    assert sa == sb

    # replaying the increment (same batch id) changes nothing
    v_before = SnapshotTable(spark, f"{seq}/curated").latest_version()
    s2r = curate_increment(spark, _mk_docs(spark, b2), seq, batch_id=1)
    assert SnapshotTable(spark, f"{seq}/curated").latest_version() \
        == v_before
    assert s2r["shards_rebuilt"] == 0


def test_pipeline_fail_gate_blocks_batch(spark, tmp_path):
    bad = spark.createDataFrame(
        [(None, "en", "this text is long enough to pass the length gate")],
        "doc_id long, lang string, text string",
    )
    with pytest.raises(ExpectationViolation, match="doc_id_present"):
        curate_batch(spark, bad, str(tmp_path / "w"))
    assert not os.path.isdir(str(tmp_path / "w" / "landing" / "_log"))


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_curation_sink_streaming(spark, tmp_path):
    """The streaming front door: documents landed as files flow through
    the full pipeline per micro-batch, and a replay with a fresh
    checkpoint leaves the curated table's version untouched."""
    from data_engineering_pipeline_spark.streaming.sinks import (
        curation_sink,
    )

    land = tmp_path / "in"
    land.mkdir()
    _mk_docs(spark, _corpus(0, 30)).coalesce(1).write.parquet(
        str(land / "b0")
    )
    work = str(tmp_path / "work")
    schema = "doc_id long, lang string, text string"

    stream = spark.readStream.schema(schema).parquet(str(land / "b0"))
    curation_sink(stream, work, str(tmp_path / "ck1")).awaitTermination()
    cur = SnapshotTable(spark, f"{work}/curated")
    n1, v1 = cur.read().count(), cur.latest_version()
    assert n1 > 0
    assert os.path.isdir(f"{work}/shards/shard=0")

    stream2 = spark.readStream.schema(schema).parquet(str(land / "b0"))
    curation_sink(stream2, work, str(tmp_path / "ck2")).awaitTermination()
    assert cur.latest_version() == v1 and cur.read().count() == n1


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_delta_mode_merges_and_retracts(spark, tmp_path):
    """O(batch) delta increments: batch survivors merge in under the
    FROZEN temperature rates, a pre-existing doc that loses to a
    lower-id newcomer is retracted, and a replayed delta converges."""
    work = str(tmp_path / "w")
    # imbalanced corpus: extra en docs force en's frozen keep rate
    # below 1e6, so the rate rule actually discriminates
    b1 = _corpus(100, 60) + [
        (500 + i, "en",
         f"extra english document {i} padding the en stratum with "
         f"plenty of additional very ordinary filler words here")
        for i in range(60)
    ]
    curate_batch(spark, _mk_docs(spark, b1), work)
    cur = SnapshotTable(spark, f"{work}/curated")
    before = {r.doc_id for r in cur.read().collect()}
    assert 105 in before  # the retraction target must start curated

    rates = {r.lang: r.keep_ppm for r in
             spark.read.parquet(f"{work}/frozen_rates").collect()}
    assert rates["en"] < 1_000_000  # the freeze is non-trivial

    # 5 is a near-dup of doc 105 with a LOWER id -> 105 must retract;
    # 2000/2001 are genuinely new docs
    b2 = [
        (5, b1[5][1], b1[5][2].replace("ordinary", "usual")),
        (2000, "en", "a brand new document about freshly minted "
                     "subjects with plenty of novel words inside"),
        (2001, "de", "another brand new document concerning different "
                     "freshly minted subjects and novel words"),
    ]
    s = curate_increment(
        spark, _mk_docs(spark, b2), work, batch_id=1, mode="delta"
    )
    assert s["retracted"] == 1
    after = {r.doc_id: r for r in cur.read().collect()}
    assert 105 not in after
    # every batch doc (including 5, which WON its pair) is kept iff
    # its hash passes the lang's frozen rate — the exact
    # temperature_rebalance rule under the freeze
    M, MOD = 69069, 2**32
    for did, lang, _ in b2:
        h = ((0 + did) * M + 1) % MOD
        expected_kept = h % 1_000_000 < rates.get(lang, 1_000_000)
        assert (did in after) == expected_kept, (did, lang)

    # replay: content unchanged
    n = cur.read().count()
    s2 = curate_increment(
        spark, _mk_docs(spark, b2), work, batch_id=1, mode="delta"
    )
    assert cur.read().count() == n and s2["shards_rebuilt"] == 0


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_crash_between_side_stores_converges(spark, tmp_path, monkeypatch):
    """ADVICE r6: a crash between the two side-store appends must not
    permanently lose a batch's near-dup drop decisions. The write
    order is losers THEN sigs — if the writer dies after losers land
    but before sigs do, the replay (new_docs still absent from the
    signature store) recomputes the pairs and converges to the
    one-shot result. Simulated by making the sigs append raise."""
    import data_engineering_pipeline_spark.plans.curation_pipeline as cp

    b1 = _corpus(0, 40)
    b2 = _corpus(100, 20) + [
        # near-duplicate of doc 7 — the drop decision the crash must
        # not lose
        _doc(990, "de", b1[7][2].replace("ordinary", "usual")),
    ]
    work = str(tmp_path / "w")
    curate_batch(spark, _mk_docs(spark, b1), work)

    real_store = cp.BandedSignatureStore

    class _CrashStore:
        """Store proxy whose .commit raises — the crash point (losers
        landed, signatures did not)."""

        def __init__(self, st):
            self._st = st

        def __getattr__(self, name):
            if name == "commit":
                raise RuntimeError("simulated crash before sigs append")
            return getattr(self._st, name)

    def crashing_store(spark_, root, **kw):
        return _CrashStore(real_store(spark_, root, **kw))

    monkeypatch.setattr(cp, "BandedSignatureStore", crashing_store)
    with pytest.raises(RuntimeError, match="simulated crash"):
        curate_increment(spark, _mk_docs(spark, b2), work, batch_id=1)
    monkeypatch.setattr(cp, "BandedSignatureStore", real_store)

    # losers landed, sigs did not — the exact crash window; the replay
    # must still drop doc 990 and converge to the one-shot pipeline
    curate_increment(spark, _mk_docs(spark, b2), work, batch_id=1)
    got = {r.doc_id for r in
           SnapshotTable(spark, f"{work}/curated").read().collect()}
    assert 990 not in got

    one = str(tmp_path / "one")
    curate_batch(spark, _mk_docs(spark, b1 + b2), one)
    want = {tuple(r) for r in
            SnapshotTable(spark, f"{one}/curated").read().collect()}
    have = {tuple(r) for r in
            SnapshotTable(spark, f"{work}/curated").read().collect()}
    assert have == want


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_delta_mode_multi_batch_convergence_and_obatch_writes(
    spark, tmp_path
):
    """VERDICT r6 item 6: a four-increment delta sequence with
    retractions (a later lower-id near-dup beating an already-curated
    doc), cross-batch duplicates, and a mid-sequence replay must
    converge BIT-EXACT to the one-shot pipeline over the same corpus,
    while each increment's curated-table write stays O(batch) —
    rows_added per merge commit is bounded by the batch, never the
    corpus (the merge-on-read path). alpha=1 keeps every stratum so
    frozen-rate drift is out of the picture and dedup/retraction
    logic is what's under test."""
    work = str(tmp_path / "w")
    kw = dict(alpha=1.0)

    b1 = _corpus(100, 40)
    # b2: new docs + an exact cross-batch dup of 105 + a near-dup of 110
    b2 = _corpus(200, 20) + [
        _doc(900, "en", b1[5][2]),
        _doc(901, "de", b1[10][2].replace("ordinary", "usual")),
    ]
    # b3: doc 50 arrives LATE with a LOWER id than its near-dup 205 ->
    # 205 (already curated in b2's increment) must retract
    b3 = _corpus(300, 20) + [
        _doc(50, "fr", b2[5][2].replace("ordinary", "usual")),
    ]
    # b4: plain growth + a near-dup pair entirely inside the batch
    b4 = _corpus(400, 20) + [
        _doc(950, "en", "a self contained batch about very specific "
                        "matters described with many plain words"),
        _doc(951, "en", "a self contained batch about very specific "
                        "matters described with many plain words ok"),
    ]

    curate_batch(spark, _mk_docs(spark, b1), work, **kw)
    cur = SnapshotTable(spark, f"{work}/curated")
    batches = [(1, b2), (2, b3), (3, b4)]
    corpus_n = 0
    for bid, batch in batches:
        corpus_n = cur.read().count()
        v_before = cur.latest_version()
        curate_increment(
            spark, _mk_docs(spark, batch), work, batch_id=bid,
            mode="delta", **kw
        )
        # O(batch) writes: every commit this increment added rows
        # bounded by the batch (merge-on-read: postimages + inserts,
        # never the resident corpus rewritten)
        for h in cur.history():
            if h["version"] > v_before:
                assert h["rows_added"] <= len(batch), h
        assert cur.read().count() > 0
    # retraction actually happened: 205 lost to the late lower-id 50
    ids = {r.doc_id for r in cur.read().collect()}
    assert 205 not in ids and 50 in ids
    assert 900 not in ids and 901 not in ids and 951 not in ids

    # mid-sequence replay: re-running increment 2 changes nothing
    n = cur.read().count()
    curate_increment(
        spark, _mk_docs(spark, b3), work, batch_id=2, mode="delta", **kw
    )
    assert cur.read().count() == n

    # bit-exact convergence with the one-shot pipeline
    one = str(tmp_path / "one")
    curate_batch(
        spark, _mk_docs(spark, b1 + b2 + b3 + b4), one, **kw
    )
    have = {tuple(r) for r in cur.read().collect()}
    want = {tuple(r) for r in
            SnapshotTable(spark, f"{one}/curated").read().collect()}
    assert have == want and len(have) > 0

    # and the shard exports agree row for row
    sa = spark.read.parquet(f"{work}/shards").orderBy("doc_id").collect()
    sb = spark.read.parquet(f"{one}/shards").orderBy("doc_id").collect()
    assert sa == sb


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_split_assignment_rebuild_and_delta_contract(spark, tmp_path):
    """split_threshold adds a leakage-safe split column at rebuild
    time: near-dup components share a split, singletons distribute
    ~90/5/5; delta increments merge new docs UNASSIGNED (null split —
    absent from every split until the next rebuild); a rebuild then
    assigns them and convergence still holds bit-exact."""
    wd = str(tmp_path / "wd")
    rows = _corpus(0, 120)
    # plant a near-dup pair that SURVIVES dedup (similar but below the
    # 0.7 dedup threshold, above the 0.45 split threshold)
    base = (
        "shared preamble words appear here in this planted document "
        "about topics alpha beta gamma delta epsilon zeta eta theta"
    )
    rows.append(_doc(1000, "en", base + " first variant tail words"))
    rows.append(_doc(1001, "en", base + " second variant ending here"))
    r0 = curate_batch(
        spark, _mk_docs(spark, rows), wd, split_threshold=0.45
    )
    assert r0["curated"] > 0
    cur = SnapshotTable(spark, os.path.join(wd, "curated")).read()
    assert "split" in cur.columns
    got = {r.doc_id: r.split for r in cur.collect()}
    assert set(got.values()) <= {"train", "val", "test"}
    if 1000 in got and 1001 in got:  # both survived dedup
        assert got[1000] == got[1001]  # planted pair co-located
    # delta increment: new docs arrive unassigned
    r1 = curate_increment(
        spark, _mk_docs(spark, _corpus(2000, 30)), wd, batch_id=1,
        mode="delta", split_threshold=0.45,
    )
    assert r1["batch_survivors"] > 0
    cur1 = SnapshotTable(spark, os.path.join(wd, "curated")).read()
    new_splits = [r.split for r in cur1.filter(F.col("doc_id") >= 2000).collect()]
    assert new_splits and all(s is None for s in new_splits)
    # old docs keep their rebuild-time split through the delta merge
    kept = {r.doc_id: r.split for r in cur1.filter(F.col("doc_id") < 2000).collect()}
    assert all(kept[d] == got[d] for d in kept)
    # next rebuild assigns everyone
    r2 = curate_increment(
        spark, _mk_docs(spark, _corpus(3000, 10)), wd, batch_id=2,
        mode="rebuild", split_threshold=0.45,
    )
    assert r2["curated"] > 0
    cur2 = SnapshotTable(spark, os.path.join(wd, "curated")).read()
    assert cur2.filter(F.col("split").isNull()).count() == 0


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_ppl_gate_rebuild_freeze_and_delta_convergence(spark, tmp_path):
    """ppl_gate wires the CCNet-style perplexity filter into the
    pipeline with the frozen-rate contract: the rebuild trains the KN
    LM on its quality survivors, freezes model + integer tercile
    cutoffs, and downsamples middle/tail buckets; a delta increment
    scores its batch against the FROZEN model (backoff for unseen
    bigrams) with O(batch) writes; a later rebuild retrains and the
    whole sequence converges bit-exact to the one-shot pipeline."""
    wd = str(tmp_path / "wd")
    gate = (500_000, 250_000)
    kw = dict(alpha=1.0, ppl_gate=gate)

    b1 = _corpus(0, 90)
    r0 = curate_batch(spark, _mk_docs(spark, b1), wd, **kw)
    # the gate actually filtered: mid bucket keeps ~50%, tail ~25%
    assert 0 < r0["after_ppl_gate"] < r0["after_quality"]
    # frozen artifacts exist beside the rates
    for part in ("lq", "ctx", "cont", "nb", "cuts"):
        assert os.path.isdir(os.path.join(wd, "frozen_ppl_lm", part))

    # delta increment scores against the FROZEN model; writes O(batch)
    b2 = _corpus(500, 30)
    cur = SnapshotTable(spark, os.path.join(wd, "curated"))
    v_before = cur.latest_version()
    r1 = curate_increment(
        spark, _mk_docs(spark, b2), wd, batch_id=1, mode="delta", **kw
    )
    assert r1["batch_survivors"] > 0
    for h in cur.history():
        if h["version"] > v_before:
            assert h["rows_added"] <= len(b2), h

    # rebuild retrains + refreezes; converges bit-exact with one-shot
    b3 = _corpus(700, 20)
    curate_increment(
        spark, _mk_docs(spark, b3), wd, batch_id=2, mode="rebuild", **kw
    )
    one = str(tmp_path / "one")
    curate_batch(spark, _mk_docs(spark, b1 + b2 + b3), one, **kw)
    have = {tuple(r) for r in cur.read().collect()}
    want = {tuple(r) for r in
            SnapshotTable(spark, os.path.join(one, "curated"))
            .read().collect()}
    assert have == want and len(have) > 0


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_ppl_gate_delta_requires_frozen_lm(spark, tmp_path):
    """Delta mode with ppl_gate but no frozen LM is an explicit error,
    not a silent ungated pass (same contract as the frozen rates)."""
    wd = str(tmp_path / "wd")
    curate_batch(spark, _mk_docs(spark, _corpus(0, 30)), wd, alpha=1.0)
    with pytest.raises(ValueError, match="frozen LM"):
        curate_increment(
            spark, _mk_docs(spark, _corpus(100, 10)), wd, batch_id=1,
            mode="delta", alpha=1.0, ppl_gate=(500_000, 250_000),
        )


def test_ppl_freeze_cutoffs_bit_match_ntile_and_use_no_window(
    spark, tmp_path
):
    """The rebuild-time tercile freeze must produce cutoffs BIT-EQUAL
    to the ntile(3) definition while never planning a no-partition
    window (single-partition sort at corpus scale — round-8 verdict).
    Recompute the frozen cuts independently with ntile over the same
    frozen-model scores and compare; then pin the plan property at the
    source level: the freeze path may not reference ntile/Window."""
    import inspect

    from pyspark.sql import Window

    from data_engineering_pipeline_spark.operators.lm import (
        bigram_explode,
        kn_doc_ce_backoff,
    )
    from data_engineering_pipeline_spark.plans import curation_pipeline
    from data_engineering_pipeline_spark.plans.curation_pipeline import (
        _freeze_ppl_lm,
    )

    docs = _mk_docs(spark, _corpus(0, 41))  # 41 % 3 == 2: uneven tiles
    lm_dir = str(tmp_path / "lm")
    _freeze_ppl_lm(spark, docs, lm_dir)
    frozen = {
        name: spark.read.parquet(os.path.join(lm_dir, name))
        for name in ("lq", "ctx", "cont", "nb")
    }
    scores = kn_doc_ce_backoff(bigram_explode(docs), frozen)
    w = Window.orderBy("ce_q", "doc_id")
    want = {
        r["__b"]: r["cut"]
        for r in scores.withColumn("__b", F.ntile(3).over(w))
        .groupBy("__b")
        .agg(F.max("ce_q").alias("cut"))
        .filter(F.col("__b") <= 2)
        .collect()
    }
    got = {
        r["bucket"]: r["cut"]
        for r in spark.read.parquet(
            os.path.join(lm_dir, "cuts")
        ).collect()
    }
    assert got == want and len(got) == 2

    src = inspect.getsource(curation_pipeline._freeze_ppl_lm)
    assert "F.ntile(" not in src and ".over(" not in src


def _eval_set(spark):
    return spark.createDataFrame(
        [("zebra quokka axolotl wombat narwhal benchmark question",)],
        "text string",
    )


def _contaminated_doc(did):
    # shares the shingles "zebra quokka axolotl" / "quokka axolotl
    # wombat" with the eval set; no overlap with the _corpus template
    return _doc(
        did, "en",
        f"filler{did} intro zebra quokka axolotl wombat closing remark",
    )


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_decontaminate_rebuild_delta_and_convergence(spark, tmp_path):
    """Eval-set decontamination as a pipeline stage under the frozen-
    artifact contract: the rebuild freezes the eval shingle Bloom +
    exact hash set and drops planted contaminated docs; a delta
    increment screens its batch against the FROZEN filter; the
    increment sequence converges bit-exact to the one-shot run."""
    wd = str(tmp_path / "wd")
    ev = _eval_set(spark)
    kw = dict(alpha=1.0, decontaminate=ev)

    b1 = _corpus(0, 60) + [_contaminated_doc(950)]
    r0 = curate_batch(spark, _mk_docs(spark, b1), wd, **kw)
    assert r0["after_decon"] == r0["after_quality"] - 1
    for part in ("bloom", "hashes"):
        assert os.path.isdir(os.path.join(wd, "frozen_decon", part))
    cur = SnapshotTable(spark, os.path.join(wd, "curated"))
    ids = {r.doc_id for r in cur.read().select("doc_id").collect()}
    assert 950 not in ids and 0 in ids

    # delta screens against the FROZEN filter (no eval frame re-read).
    # Batch texts are unique (no near-dup of anything landed) so the
    # only doc the stage chain may drop is the contaminated plant —
    # whose non-eval tokens differ entirely from doc 950's, keeping it
    # out of MinHash range of the batch-1 plant.
    b2 = [
        _doc(100 + i, "en",
             f"unique discourse {i} concerning {w} phenomena with many "
             f"clearly distinct supplementary tokens {i}")
        for i, w in enumerate(["glacial", "volcanic", "tidal", "karst"])
    ] + [_doc(960, "en",
              "gamma delta omega zebra quokka axolotl wombat epsilon "
              "theta lambda")]
    r1 = curate_increment(
        spark, _mk_docs(spark, b2), wd, batch_id=1, mode="delta",
        alpha=1.0, decontaminate=True,
    )
    assert r1["batch_survivors"] == len(b2) - 1
    ids = {r.doc_id for r in cur.read().select("doc_id").collect()}
    assert 960 not in ids and 100 in ids

    # rebuild refreezes + converges bit-exact with the one-shot run
    b3 = _corpus(200, 15)
    curate_increment(
        spark, _mk_docs(spark, b3), wd, batch_id=2, mode="rebuild", **kw
    )
    one = str(tmp_path / "one")
    curate_batch(spark, _mk_docs(spark, b1 + b2 + b3), one, **kw)
    have = {tuple(r) for r in cur.read().collect()}
    want = {tuple(r) for r in
            SnapshotTable(spark, os.path.join(one, "curated"))
            .read().collect()}
    assert have == want and len(have) > 0
    assert not any(t[0] in (950, 960) for t in have)


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_decontaminate_contract_errors(spark, tmp_path):
    """Delta without a frozen filter and rebuild without the eval
    frame are explicit errors, not silent unscreened passes."""
    wd = str(tmp_path / "wd")
    curate_batch(spark, _mk_docs(spark, _corpus(0, 30)), wd, alpha=1.0)
    with pytest.raises(ValueError, match="frozen eval filter"):
        curate_increment(
            spark, _mk_docs(spark, _corpus(100, 10)), wd, batch_id=1,
            mode="delta", alpha=1.0, decontaminate=True,
        )
    with pytest.raises(ValueError, match="eval DataFrame"):
        curate_batch(
            spark, _mk_docs(spark, _corpus(200, 10)),
            str(tmp_path / "wd2"), alpha=1.0, decontaminate=True,
        )


def test_kn_train_no_broadcast_matches_broadcast(spark):
    """ADVICE r9: kn_train(broadcast_model=False) must produce the
    identical frozen model via plain equi-joins — the escape hatch for
    vocabularies too large to broadcast (the scorers already had one;
    training did not)."""
    from data_engineering_pipeline_spark.operators.lm import (
        bigram_explode,
        kn_train,
    )

    docs = _mk_docs(spark, _corpus(0, 25))
    bg = bigram_explode(docs)
    a = kn_train(bg)
    b = kn_train(bg, broadcast_model=False)
    for name in ("lq", "ctx", "cont", "nb"):
        assert sorted(map(tuple, a[name].collect())) == sorted(
            map(tuple, b[name].collect())
        ), name
    # and the fallback actually dropped the FORCED vocab-side
    # broadcast hints (AQE may still convert small sides at runtime —
    # that is the desired adaptive behavior): only the 1-row nb total
    # keeps an explicit hint
    hinted = b["lq"]._jdf.queryExecution().analyzed().toString()
    assert hinted.count("ResolvedHint (strategy=broadcast)") == 1
    forced = a["lq"]._jdf.queryExecution().analyzed().toString()
    assert forced.count("ResolvedHint (strategy=broadcast)") == 4


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_null_lang_docs_converge_across_modes(spark, tmp_path):
    """r9 review: null-lang docs were kept at 100% by the delta path's
    plain left join but DROPPED entirely by the rebuild's equi-join —
    a silent rebuild/delta divergence. Both paths now sample the null
    stratum at its own frozen rate; increments converge bit-exact."""
    wd = str(tmp_path / "wd")
    b1 = _corpus(0, 40) + [
        (800 + i, None,
         f"nullish {i} language-free document with agreeable length "
         f"and several additional distinctive words {i}")
        for i in range(3)
    ]
    curate_batch(spark, _mk_docs(spark, b1), wd, alpha=0.5)
    cur = SnapshotTable(spark, os.path.join(wd, "curated"))
    # the null stratum (3 docs, the smallest) keeps 100% at rebuild
    assert cur.read().filter(F.col("lang").isNull()).count() == 3
    # frozen rates carry a null-lang row
    rates = spark.read.parquet(os.path.join(wd, "frozen_rates"))
    assert rates.filter(F.col("lang").isNull()).count() == 1

    b2 = [(900, None,
           "another language-free text with plainly sufficient length "
           "and uncommon vocabulary inside")]
    curate_increment(
        spark, _mk_docs(spark, b2), wd, batch_id=1, mode="delta",
        alpha=0.5,
    )
    # the delta screened doc 900 against the frozen null-lang rate
    # (rate 1e6: the null stratum was smallest at freeze time) rather
    # than keeping it by join-miss
    assert cur.read().filter(F.col("doc_id") == 900).count() == 1
    # rates drift until a rebuild refreezes (documented): converge via
    # a final rebuild increment, like the other convergence tests
    b3 = _corpus(200, 10)
    curate_increment(
        spark, _mk_docs(spark, b3), wd, batch_id=2, mode="rebuild",
        alpha=0.5,
    )
    one = str(tmp_path / "one")
    curate_batch(spark, _mk_docs(spark, b1 + b2 + b3), one, alpha=0.5)
    have = {tuple(r) for r in cur.read().collect()}
    want = {tuple(r) for r in
            SnapshotTable(spark, os.path.join(one, "curated"))
            .read().collect()}
    assert have == want and any(t[1] is None for t in have)


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_curation_sink_streams_full_funnel(spark, tmp_path):
    """The streaming front door accepts the same funnel configuration
    as batch: a rebuild seeds frozen decon/ppl artifacts, then a
    streamed delta batch screens against them — a planted
    contaminated doc never reaches the curated table."""
    from data_engineering_pipeline_spark.streaming.sinks import (
        curation_sink,
    )

    wd = str(tmp_path / "wd")
    kw = dict(alpha=1.0, ppl_gate=(500_000, 250_000))
    curate_batch(
        spark, _mk_docs(spark, _corpus(0, 60)), wd,
        decontaminate=_eval_set(spark), **kw,
    )

    land = tmp_path / "in"
    land.mkdir()
    # clean ids chosen to PASS the frozen ppl gate's tail rate (all
    # their bigrams are OOV to the frozen LM -> tail bucket keeps
    # 25% by the salted hash; 705/707/712 pass, deterministic)
    batch = [_contaminated_doc(970)] + [
        _doc(705, "en",
             "basalt columns cool slowly forming hexagonal jointing "
             "patterns across volcanic plateaus"),
        _doc(707, "en",
             "quartz veins thread metamorphic host rock carrying "
             "hydrothermal mineral deposits underground"),
        _doc(712, "en",
             "gneiss banding records repeated deformation cycles under "
             "amphibolite facies conditions deep below"),
    ]
    _mk_docs(spark, batch).coalesce(1).write.parquet(str(land / "b0"))
    schema = "doc_id long, lang string, text string"
    stream = spark.readStream.schema(schema).parquet(str(land / "b0"))
    curation_sink(
        stream, wd, str(tmp_path / "ck"), mode="delta",
        decontaminate=True, **kw,
    ).awaitTermination()

    cur = SnapshotTable(spark, os.path.join(wd, "curated"))
    ids = {r.doc_id for r in cur.read().select("doc_id").collect()}
    assert 970 not in ids  # screened against the FROZEN eval filter
    assert {705, 707, 712} <= ids  # clean streamed docs landed


def test_decon_refreeze_is_staged_and_atomic(spark, tmp_path):
    """r10 (ADVICE): a REFREEZE must never leave new hashes/meta paired
    with the previous freeze's bloom. _freeze_decon stages all three
    artifacts and swaps the dir in whole (a crash at every swap step is
    swept in tests/test_dirswap.py); after a refreeze no remnant is
    left and the three artifacts agree (meta.n_keys == hash count,
    apply drops docs contaminated by the NEW eval set only)."""
    import json

    from data_engineering_pipeline_spark.plans.curation_pipeline import (
        _apply_decon,
        _freeze_decon,
    )

    dd = str(tmp_path / "decon")
    ev1 = spark.createDataFrame(
        [("alpha beta gamma delta",)], "text string"
    )
    _freeze_decon(spark, ev1, dd)
    n1 = json.load(open(os.path.join(dd, "meta.json")))["n_keys"]

    ev2 = spark.createDataFrame(
        [("alpha beta gamma delta",), ("zeta eta theta iota kappa",)],
        "text string",
    )
    _freeze_decon(spark, ev2, dd)
    assert os.listdir(tmp_path) == ["decon"]
    meta = json.load(open(os.path.join(dd, "meta.json")))
    n_hashes = spark.read.parquet(os.path.join(dd, "hashes")).count()
    assert meta["n_keys"] == n_hashes > n1  # the NEW freeze, coherent

    docs = _mk_docs(spark, [
        _doc(1, "en", "totally unrelated clean prose here"),
        _doc(2, "en", "prefix zeta eta theta iota kappa suffix"),
    ])
    kept = {r.doc_id
            for r in _apply_decon(spark, docs, dd, 0).collect()}
    assert kept == {1}  # doc 2 hits the NEW eval set's shingles


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_rebuild_accepts_decontaminate_false(spark, tmp_path):
    """r10 (ADVICE): rebuild mode normalizes decontaminate=False to
    'stage off' like delta mode does, instead of raising — a caller
    sharing one kwargs dict across modes must not get a spurious
    ValueError."""
    wd = str(tmp_path / "wd")
    curate_batch(spark, _mk_docs(spark, _corpus(0, 12)), wd, alpha=1.0)
    r = curate_increment(
        spark, _mk_docs(spark, _corpus(100, 6)), wd, batch_id=1,
        mode="rebuild", alpha=1.0, decontaminate=False,
    )
    assert "after_decon" not in r  # stage disabled, not errored
    assert not os.path.isdir(os.path.join(wd, "frozen_decon"))


def _template_corpus(n_unique, n_template, base_id=0):
    """n_unique dissimilar docs + a planted template cluster: identical
    20-word boilerplate differing only in the trailing token — below
    the dedup threshold's reach only in that trailing-shingle region,
    so the cluster floods LSH band buckets (the O(m^2)-pairs shape
    cap_hot_buckets exists for)."""
    rows = _corpus(base_id, n_unique)
    template = (
        "shared boilerplate header with many common words repeated "
        "across the template cluster body section and closing footer"
    )
    for i in range(n_template):
        rows.append(
            _doc(base_id + 10_000 + i, "en", f"{template} variant{i}")
        )
    return rows


def test_split_cap_bounds_planted_template_cluster(spark):
    """r9 verdict item 3: a hot template cluster is quadratic in the
    split's pair graph; with max_bucket_size the realized pair count
    is bounded, every doc still gets exactly one split, and every
    pair the CAPPED graph emits still has both ends in one split
    (recall loss relaxes co-location only — it cannot straddle a
    surviving pair across splits)."""
    from data_engineering_pipeline_spark.plans.curation_pipeline import (
        _assign_splits,
    )

    docs = _mk_docs(spark, _template_corpus(120, 60))

    stats_un, stats_cap = {}, {}
    noop = lambda key: None  # noqa: E731
    out_un = _assign_splits(
        docs, 0.5, max_bucket_size=None, mark=noop, stats=stats_un
    )
    out_cap = _assign_splits(
        docs, 0.5, max_bucket_size=10, mark=noop, stats=stats_cap
    )

    m = 60
    assert stats_un["split_pairs"] >= m * (m - 1) // 2  # quadratic
    assert stats_cap["split_pairs"] < stats_un["split_pairs"] / 4

    rows = out_cap.select("doc_id", "split").collect()
    assert len(rows) == docs.count()  # every doc assigned exactly once
    assert {r.split for r in rows} <= {"train", "val", "test"}

    # surviving capped pairs never straddle splits
    split_of = {r.doc_id: r.split for r in rows}
    from data_engineering_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", 0.5, bands=16, max_bucket_size=10
    ).select("id_a", "id_b").collect()
    assert pairs, "capped graph should still emit within-cap pairs"
    for p in pairs:
        assert split_of[p.id_a] == split_of[p.id_b]


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_rebuild_timings_decompose_split_stage(spark, tmp_path):
    """The rebuild's old monolithic rebalance_split_write wall is now
    split_pairs / split_components / rates_freeze / curated_write,
    and split_max_bucket threads through curate_batch to the pair
    graph."""
    wd = str(tmp_path / "wd")
    t: dict = {}
    s = curate_batch(
        spark, _mk_docs(spark, _template_corpus(40, 12)), wd,
        alpha=1.0, split_threshold=0.5, split_max_bucket=8, timings=t,
    )
    for key in ("split_pairs", "split_components", "rates_freeze",
                "curated_write"):
        assert key in t and t[key] >= 0.0
    assert "rebalance_split_write" not in t
    assert isinstance(s["split_pairs"], int)


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_pipeline_survives_empty_batches(spark, tmp_path):
    """r10: an empty batch is a routine orchestrator state (a source
    that produced nothing this cycle) — the pipeline must land it,
    run every stage, and report zeros, in all three shapes: empty
    bootstrap without gates, empty bootstrap with ALL stages on, and
    an empty delta increment against a populated work dir."""
    empty = spark.createDataFrame(
        [], "doc_id long, lang string, text string"
    )
    ev = spark.createDataFrame(
        [(1, "en", "zq1 xv7 wk13 jz3 aa bb cc")],
        "doc_id long, lang string, text string",
    ).select("text")

    s1 = curate_batch(spark, empty, str(tmp_path / "w1"), alpha=1.0)
    assert s1["landed"] == 0 and s1["curated"] == 0

    s2 = curate_batch(
        spark, empty, str(tmp_path / "w2"), alpha=1.0,
        split_threshold=0.5, ppl_gate=(800_000, 500_000),
        decontaminate=ev,
    )
    assert s2["landed"] == 0 and s2["curated"] == 0

    w3 = str(tmp_path / "w3")
    curate_batch(
        spark, _mk_docs(spark, _corpus(0, 30)), w3, alpha=1.0,
        ppl_gate=(800_000, 500_000), decontaminate=ev,
    )
    s3 = curate_increment(
        spark, empty, w3, batch_id=1, mode="delta", alpha=1.0,
        ppl_gate=(800_000, 500_000), decontaminate=True,
    )
    assert s3["batch_survivors"] == 0 and s3["retracted"] == 0
    assert s3["curated"] > 0  # the existing corpus is untouched


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_ppl_train_cap_deterministic_and_convergent(spark, tmp_path):
    """VERDICT r11 item 3: the frozen-LM trainer corpus is capped to a
    deterministic hash-top-N sample. With cap >= corpus the freeze is
    bit-identical to the uncapped form; with cap < corpus the frozen
    cuts are a pure function of the corpus (two identical rebuilds
    agree) and the capped rebuild+delta sequence still converges to
    the capped one-shot result."""
    import os as _os

    kw = dict(alpha=1.0, ppl_gate=(500_000, 250_000))
    b1, b2 = _corpus(0, 60), _corpus(100, 40)

    def cuts_of(wd):
        return sorted(
            tuple(r) for r in spark.read.parquet(
                _os.path.join(wd, "frozen_ppl_lm", "cuts")
            ).collect()
        )

    # cap >= corpus == uncapped, bit-identical
    wa, wb = str(tmp_path / "a"), str(tmp_path / "b")
    curate_batch(spark, _mk_docs(spark, b1), wa, **kw)  # default cap
    curate_batch(spark, _mk_docs(spark, b1), wb,
                 ppl_train_cap=None, **kw)
    assert cuts_of(wa) == cuts_of(wb)

    # cap < corpus: deterministic across identical rebuilds (and
    # across input partitionings), and the cap actually bites —
    # the sampled cuts differ from the full-corpus cuts
    wc, wd_, we = (str(tmp_path / x) for x in ("c", "d", "e"))
    curate_batch(spark, _mk_docs(spark, b1 + b2), wc,
                 ppl_train_cap=40, **kw)
    curate_batch(spark, _mk_docs(spark, b1 + b2).repartition(7), wd_,
                 ppl_train_cap=40, **kw)
    assert cuts_of(wc) == cuts_of(wd_)
    curate_batch(spark, _mk_docs(spark, b1 + b2), we, **kw)
    assert cuts_of(wc) != cuts_of(we)

    # capped increments converge to the capped one-shot
    seq = str(tmp_path / "seq")
    curate_batch(spark, _mk_docs(spark, b1), seq, ppl_train_cap=40,
                 **kw)
    curate_increment(spark, _mk_docs(spark, b2), seq, batch_id=1,
                     ppl_train_cap=40, **kw)
    assert cuts_of(seq) == cuts_of(wc)
    one_rows = {
        tuple(r) for r in SnapshotTable(
            spark, _os.path.join(wc, "curated")
        ).read().collect()
    }
    seq_rows = {
        tuple(r) for r in SnapshotTable(
            spark, _os.path.join(seq, "curated")
        ).read().collect()
    }
    assert seq_rows == one_rows


@pytest.mark.slow  # multi-minute pipeline e2e: close-out tier (pytest.ini)
def test_curated_clusters_by_doc_id_and_merge_prunes(spark, tmp_path):
    """r12 VERDICT item 1: the rebuild writes the curated table
    range-CLUSTERED by doc_id with per-file stats recorded, delta
    increments expose how far metadata pruned their merge, and
    maintain_curation() re-clusters the accumulated MoR state without
    changing contents."""
    from data_engineering_pipeline_spark.plans.curation_pipeline import (
        maintain_curation,
    )

    work = str(tmp_path / "w")
    curate_batch(spark, _mk_docs(spark, _corpus(1000, 240)), work)
    cur = SnapshotTable(spark, f"{work}/curated")
    live = cur._live_files()
    # every rebuild-written file carries doc_id [min,max] stats (AQE
    # may coalesce the tiny test corpus to one file; at scale the
    # range shuffle yields many, each owning one id slice)
    assert all("doc_id" in e.get("stats", {}) for e in live.values())

    b2 = [
        (2000, "en", "a brand new document about freshly minted "
                     "subjects with plenty of novel words inside"),
        (2001, "de", "another brand new document concerning different "
                     "freshly minted subjects and novel words"),
    ]
    s = curate_increment(
        spark, _mk_docs(spark, b2), work, batch_id=1, mode="delta"
    )
    assert s["merge_candidates"] <= s["merge_live"] == len(live)

    # re-cluster the accumulated MoR state via the maintenance entry
    # point; a small byte target forces a multi-file clustered layout
    before = {r.doc_id for r in cur.read().collect()}
    out = maintain_curation(spark, work, max_files=1, target_bytes=4096)
    assert out["compacted"]
    after_live = cur._live_files()
    assert len(after_live) > 1
    spans = sorted(e["stats"]["doc_id"] for e in after_live.values())
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a < lo_b  # tight AND disjoint id slices
    assert {r.doc_id for r in cur.read().collect()} == before

    # a delta whose ids land beyond every file's slice: the merge is
    # narrowed below the live set by manifest stats alone
    b3 = [
        (5000, "en", "yet another entirely fresh document with its own "
                     "unique vocabulary and no prior relatives at all"),
        (5001, "de", "ein weiteres ganz neues dokument mit eigenem "
                     "wortschatz und ohne fruehere verwandte"),
    ]
    s3 = curate_increment(
        spark, _mk_docs(spark, b3), work, batch_id=2, mode="delta"
    )
    assert s3["merge_live"] == len(after_live)
    assert s3["merge_candidates"] < s3["merge_live"]
    got = {r.doc_id for r in cur.read().collect()}
    assert before <= got  # no retractions: prior contents intact


def test_probe_bucket_cap_keeps_one_flood_survivor(spark, tmp_path):
    """probe_max_bucket (ON by default; pinned low here) under a
    planted template flood: the capped store probe must still net
    exactly one flood survivor — every other copy, in the bootstrap
    AND in a later delta batch, lands in the losers store because
    each copy collides with the cluster's lowest-id representative
    even after store-side buckets truncate to the cap."""
    work = str(tmp_path / "w")
    tmpl = ("template boilerplate navigation footer copyright "
            "subscribe newsletter contact about privacy terms " * 3)
    b1 = _corpus(0, 40) + [(5000 + i, "en", tmpl) for i in range(30)]
    curate_batch(
        spark, _mk_docs(spark, b1), work, probe_max_bucket=4
    )
    losers = {
        r.doc_id
        for r in spark.read.parquet(f"{work}/neardup_losers").collect()
    }
    assert set(range(5001, 5030)) <= losers and 5000 not in losers

    b2 = _corpus(200, 5) + [(6000 + i, "en", tmpl) for i in range(5)]
    curate_increment(
        spark, _mk_docs(spark, b2), work, batch_id=1, mode="delta",
        probe_max_bucket=4,
    )
    losers = {
        r.doc_id
        for r in spark.read.parquet(f"{work}/neardup_losers").collect()
    }
    assert set(range(6000, 6005)) <= losers and 5000 not in losers
