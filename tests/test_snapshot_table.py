"""Transactional snapshot table: atomic commits, optimistic
concurrency, time travel, crash invisibility, vacuum, stat pruning.
The multi-writer capability the plain upsert module scopes out
(single-writer, like the reference database.py:60-71)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.sources.snapshot_table import (
    SnapshotConflict,
    SnapshotTable,
)


def _df(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_append_read_history_roundtrip(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t1"))
    v0 = t.append(_df(spark, 0, 10, "a"))
    v1 = t.append(_df(spark, 10, 15, "b"))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 15
    h = t.history()
    assert [e["version"] for e in h] == [0, 1]
    assert [e["rows_added"] for e in h] == [10, 5]
    assert all(e["op"] == "append" for e in h)


def test_time_travel_and_overwrite_atomicity(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t2"))
    t.append(_df(spark, 0, 10, "a"))
    t.overwrite(_df(spark, 100, 103, "b"))
    # latest = overwritten contents; version 0 still fully readable
    assert sorted(r.k for r in t.read().collect()) == [100, 101, 102]
    assert t.read(version=0).count() == 10
    assert t.history()[-1]["op"] == "overwrite"
    with pytest.raises(ValueError):
        t.read(version=5)


def test_concurrent_appends_all_commit(spark, tmp_path):
    """Racing writers: the O_EXCL commit gives each append a distinct
    version and no rows are lost."""
    t = SnapshotTable(spark, str(tmp_path / "t4"))
    t.append(_df(spark, 0, 1, "seed"))
    errs = []

    def worker(i):
        try:
            SnapshotTable(spark, str(tmp_path / "t4")).append(
                _df(spark, 100 * i, 100 * i + 10, f"w{i}")
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.latest_version() == 4
    assert t.read().count() == 1 + 4 * 10


def test_uncommitted_files_invisible_and_vacuumed(spark, tmp_path):
    """Crash-before-commit leaves only unreferenced data files: reads
    never see them; vacuum deletes them; files removed by overwrite
    SURVIVE vacuum because time travel still needs them."""
    t = SnapshotTable(spark, str(tmp_path / "t6"))
    t.append(_df(spark, 0, 5, "a"))
    t.overwrite(_df(spark, 10, 12, "b"))
    # simulate a writer that died before commit: stage without manifest
    t._stage(_df(spark, 900, 950, "ghost"))
    assert t.read().count() == 2          # ghost rows invisible
    # default grace window: a FRESH unreferenced file may be an
    # in-flight writer's staged data — vacuum must leave it alone
    assert t.vacuum() == []
    dropped = t.vacuum(grace_seconds=0.0)
    assert dropped and all(d.endswith(".parquet") for d in dropped)
    assert t.read(version=0).count() == 5  # time travel intact
    assert t.read().count() == 2
    assert t.vacuum(grace_seconds=0.0) == []  # idempotent


def test_compact_preserves_contents_and_shrinks_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t7"))
    for i in range(4):
        t.append(_df(spark, 10 * i, 10 * i + 10, f"b{i}"))
    before = set(t.read().inputFiles())
    assert len(before) > 1
    t.compact(target_files=1)
    after = t.read()
    assert len(set(after.inputFiles())) == 1
    assert after.count() == 40
    assert t.history()[-1]["op"] == "compact"


def test_stat_pruning_skips_files(spark, tmp_path):
    """Manifest min/max pruning must hand Spark strictly fewer files
    when ranges are disjoint — file-level skipping before the scan is
    even planned (inputFiles() is the witness)."""
    t = SnapshotTable(spark, str(tmp_path / "t8"), stat_cols=["k"])
    t.append(_df(spark, 0, 100, "lo").coalesce(1))
    t.append(_df(spark, 1000, 1100, "hi").coalesce(1))
    full = t.read()
    lo = t.read(prune=[("k", 0, 50)])
    assert len(lo.inputFiles()) < len(full.inputFiles())
    assert sorted(r.k for r in lo.collect()) == list(range(100))
    # fully pruned -> empty frame, schema preserved
    none = t.read(prune=[("k", 5000, 6000)])
    assert none.count() == 0
    assert none.columns == full.columns


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def test_merge_into_update_insert_and_file_pruning(spark, tmp_path):
    """MERGE rewrites ONLY files containing matched keys: with
    stat_cols on k, a source confined to the low key range must leave
    the high-range file byte-identical (mtime+size witness), while
    updates land and inserts append."""
    t = SnapshotTable(spark, str(tmp_path / "m1"), stat_cols=["k"])
    t.append(_kv(spark, [(i, "lo") for i in range(10)]).coalesce(1))
    t.append(_kv(spark, [(i, "hi") for i in range(1000, 1010)]).coalesce(1))
    data_dir = os.path.join(str(tmp_path / "m1"), "data")
    before = {
        f: (os.path.getmtime(os.path.join(data_dir, f)),
            os.path.getsize(os.path.join(data_dir, f)))
        for f in os.listdir(data_dir)
    }
    src = _kv(spark, [(3, "upd"), (7, "upd"), (20, "new")])
    v = t.merge_into(src, ["k"], when_matched="update")
    rows = {r.k: r.val for r in t.read().collect()}
    assert rows[3] == "upd" and rows[7] == "upd" and rows[20] == "new"
    assert rows[0] == "lo" and rows[1005] == "hi"
    assert len(rows) == 21
    # the hi-range file survived untouched (stat-pruned out of the merge)
    live_now = t._live_files()
    hi_files = [
        n for n, e in live_now.items() if e["stats"]["k"][0] >= 1000
    ]
    assert hi_files
    for f in hi_files:
        p = os.path.join(data_dir, f)
        assert (os.path.getmtime(p), os.path.getsize(p)) == before[f]
    # pre-merge snapshot intact (time travel)
    assert len(t.read(version=v - 1).collect()) == 20


def test_merge_into_delete_and_no_insert(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "m2"))
    t.append(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge_into(
        _kv(spark, [(2, "x"), (9, "x")]),
        ["k"],
        when_matched="delete",
        insert_not_matched=False,
    )
    assert sorted(r.k for r in t.read().collect()) == [1, 3]


def test_merge_conflicts_with_concurrent_append(spark, tmp_path):
    """Serializable merge: a concurrent append can add a file holding a
    'not matched' key, so even a pure append invalidates the merge."""
    path = str(tmp_path / "m3")
    t = SnapshotTable(spark, path)
    t.append(_kv(spark, [(1, "a")]))

    orig_stage = t._stage
    fired = {}

    def hooked(df):
        staged = orig_stage(df)
        if not fired:
            fired["x"] = True
            SnapshotTable(spark, path).append(_kv(spark, [(50, "race")]))
        return staged

    t._stage = hooked
    with pytest.raises(SnapshotConflict):
        t.merge_into(_kv(spark, [(50, "mine")]), ["k"])
    # the winning append is visible; the merge left nothing behind
    assert {r.val for r in t.read().collect()} == {"a", "race"}


def test_changes_row_level_cdc(spark, tmp_path):
    """changes(v_from, v_to) labels inserts/deletes/updates and reads
    only the symmetric difference of the file sets: the untouched
    file from v0 must not appear in the CDC plan's inputFiles()."""
    t = SnapshotTable(spark, str(tmp_path / "c1"), stat_cols=["k"])
    t.append(_kv(spark, [(i, "lo") for i in range(5)]).coalesce(1))
    t.append(_kv(spark, [(i, "hi") for i in range(100, 105)]).coalesce(1))
    v1 = t.latest_version()
    t.merge_into(
        _kv(spark, [(2, "upd"), (200, "new")]), ["k"], when_matched="update"
    )
    v2 = t.latest_version()
    cdc = t.changes(v1, v2, ["k"])
    got = {(r.k, r._change_type): r.val for r in cdc.collect()}
    assert got == {
        (200, "insert"): "new",
        (2, "update_preimage"): "lo",
        (2, "update_postimage"): "upd",
    }
    # scan minimality: the hi file is live in both versions -> not read
    data_dir = os.path.join(str(tmp_path / "c1"), "data")
    hi_files = {
        n for n, e in t._live_files(v1).items()
        if e["stats"]["k"][0] >= 100
    }
    scanned = {os.path.basename(p) for p in cdc.inputFiles()}
    assert hi_files and not (hi_files & scanned)
    # a delete shows up as delete
    t.merge_into(
        _kv(spark, [(3, "z")]), ["k"], when_matched="delete",
        insert_not_matched=False,
    )
    cdc2 = t.changes(v2, t.latest_version(), ["k"])
    assert {(r.k, r._change_type) for r in cdc2.collect()} == {
        (3, "delete")
    }


def test_txn_append_is_exactly_once(spark, tmp_path):
    """The (app_id, batch_id) stamp makes a replayed append a no-op —
    and a LATER batch id still commits."""
    t = SnapshotTable(spark, str(tmp_path / "x1"))
    v0 = t.append(_kv(spark, [(1, "a")]), txn=("app", 0))
    v_replay = t.append(_kv(spark, [(1, "a")]), txn=("app", 0))
    assert v_replay == v0 and t.read().count() == 1
    t.append(_kv(spark, [(2, "b")]), txn=("app", 1))
    assert t.read().count() == 2
    # an unrelated app is not blocked by this app's txn history
    t.append(_kv(spark, [(3, "c")]), txn=("other", 0))
    assert t.read().count() == 3
    assert t.txn_version("app") == 1
    assert t.txn_version("other") == 0
    assert t.txn_version("nobody") == -1


def test_log_checkpoint_equivalence(spark, tmp_path):
    """Checkpoints are pure derived state: reads through a checkpoint
    must equal a full log replay (checkpoints deleted), at the head and
    at past versions, and txn high-water marks must round-trip."""
    path = str(tmp_path / "ck1")
    t = SnapshotTable(spark, path, checkpoint_every=4)
    for i in range(9):
        t.append(_kv(spark, [(i, f"b{i}")]), txn=("app", i))
    t.merge_into(_kv(spark, [(2, "upd")]), ["k"])  # v9
    assert t._checkpoints() == [4, 8]

    with_ck = {v: t._live_files(v) for v in (3, 4, 7, 9)}
    assert t.txn_version("app") == 8
    for cv in t._checkpoints():
        os.remove(t._checkpoint_path(cv))
    bare = SnapshotTable(spark, path, checkpoint_every=4)
    for v, live in with_ck.items():
        assert bare._live_files(v) == live
    assert bare.txn_version("app") == 8


def test_expire_versions_retention(spark, tmp_path):
    """Retention truncates history: expired versions raise, retained
    ones (including the cutoff) stay readable, orphaned data files are
    physically deleted, and txn idempotence SURVIVES the expiry of the
    manifest that carried the txn."""
    path = str(tmp_path / "ret1")
    t = SnapshotTable(spark, path)
    for i in range(4):
        t.append(_kv(spark, [(i, f"b{i}")]), txn=("app", i))
    t.overwrite(_kv(spark, [(99, "ow")]))  # v4 drops all prior files
    t.append(_kv(spark, [(100, "tail")]))  # v5
    data_dir = os.path.join(path, "data")
    n_files_before = len(os.listdir(data_dir))

    res = t.expire_versions(keep_last=2)
    assert res["expired"] == [0, 1, 2, 3]
    assert res["deleted_files"]  # the pre-overwrite files are orphaned
    assert len(os.listdir(data_dir)) < n_files_before

    assert sorted(r.k for r in t.read().collect()) == [99, 100]
    assert sorted(r.k for r in t.read(version=4).collect()) == [99]
    with pytest.raises(ValueError, match="expired"):
        t.read(version=2)

    # a replayed pre-expiry batch is STILL a no-op
    v = t.append(_kv(spark, [(0, "replay")]), txn=("app", 0))
    assert v == t.latest_version()
    assert sorted(r.k for r in t.read().collect()) == [99, 100]

    # vacuum must not eat files that only the checkpoint references
    assert t.vacuum() == []
    assert sorted(r.k for r in t.read().collect()) == [99, 100]

    # below the floor: a no-op
    assert t.expire_versions(keep_last=50) == {
        "expired": [], "deleted_files": []
    }


def test_schema_evolution_append_new_column(spark, tmp_path):
    """Appending a frame with a NEW column evolves the table schema:
    the head read null-fills old files, time travel shows each
    version's own schema, and a type rewrite is refused."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SchemaConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "se1"))
    t.append(_kv(spark, [(1, "a"), (2, "b")]))
    t.append(
        spark.createDataFrame(
            [(3, "c", 0.9)], "k long, val string, quality double"
        )
    )
    head = t.read()
    assert head.columns == ["k", "val", "quality"]
    got = {r.k: r.quality for r in head.collect()}
    assert got == {1: None, 2: None, 3: 0.9}
    # v0 keeps its original two-column shape
    assert t.read(version=0).columns == ["k", "val"]
    # same column, different type -> refused
    with pytest.raises(SchemaConflict, match="quality"):
        t.append(
            spark.createDataFrame(
                [(4, "d", "high")], "k long, val string, quality string"
            )
        )


def test_schema_evolution_survives_compact_and_merge(spark, tmp_path):
    """Rewriting ops keep the evolved schema: compact reads old files
    null-filled, and MERGE on a pre-evolution file carries the new
    column through the rewrite."""
    t = SnapshotTable(spark, str(tmp_path / "se2"))
    t.append(_kv(spark, [(1, "a"), (2, "b")]))
    t.append(
        spark.createDataFrame(
            [(3, "c", 7)], "k long, val string, extra long"
        )
    )
    t.compact(target_files=1)
    assert t.read().columns == ["k", "val", "extra"]
    assert {r.k: r.extra for r in t.read().collect()} == {
        1: None, 2: None, 3: 7
    }
    src = spark.createDataFrame(
        [(1, "upd", 5)], "k long, val string, extra long"
    )
    t.merge_into(src, ["k"], when_matched="update")
    rows = {r.k: (r.val, r.extra) for r in t.read().collect()}
    assert rows == {1: ("upd", 5), 2: ("b", None), 3: ("c", 7)}


def test_schema_overwrite_replaces_schema(spark, tmp_path):
    """overwrite is a full replace: the table schema becomes exactly
    the new frame's schema, including DROPPING columns."""
    t = SnapshotTable(spark, str(tmp_path / "se3"))
    t.append(
        spark.createDataFrame([(1, "a", 1.0)],
                              "k long, val string, q double")
    )
    t.overwrite(_kv(spark, [(9, "z")]))
    assert t.read().columns == ["k", "val"]
    assert t.read(version=0).columns == ["k", "val", "q"]


def test_compact_zorder_clusters_for_pruning(spark, tmp_path):
    """compact(cluster_by=[x, y]) must make a 2-D box predicate
    prunable: after the Z-ordered rewrite, a small box touches a
    strict subset of files on BOTH dimensions, while a plain
    single-column sort would leave the second dimension unprunable."""
    import random

    rnd = random.Random(7)
    rows = [(i, rnd.randrange(1000), rnd.randrange(1000))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    t = SnapshotTable(spark, str(tmp_path / "z1"), stat_cols=["x", "y"])
    t.append(df.repartition(8))  # row-shuffled: every file spans x and y
    full = t.read()
    n_before = len(full.inputFiles())
    # pre-compact: the shuffled layout prunes nothing
    assert len(t.read(prune=[("x", 0, 99), ("y", 0, 99)]).inputFiles()) \
        == n_before

    t.compact(target_files=8, cluster_by=["x", "y"])
    pruned = t.read(prune=[("x", 0, 99), ("y", 0, 99)])
    n_files = len(t.read().inputFiles())
    assert n_files == 8
    assert len(pruned.inputFiles()) < n_files / 2
    # and the pruned read is still CORRECT for the box
    want = sorted(i for i, x, y in rows if x < 100 and y < 100)
    got = sorted(
        r.id for r in pruned.filter("x < 100 and y < 100").collect()
    )
    assert got == want
    # prune on y ALONE also works — the Z-curve keeps y ranges tight
    assert len(t.read(prune=[("y", 0, 99)]).inputFiles()) < n_files


def test_expectations_gate_commits(spark, tmp_path):
    """Delta-constraints-style quality gates: fail aborts before
    staging, drop commits survivors only, warn commits everything —
    and the manifest carries the violation counts as an audit trail."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        Expectation,
        ExpectationViolation,
    )

    t = SnapshotTable(spark, str(tmp_path / "ex1"))
    batch = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c")], "k long, val string"
    )

    with pytest.raises(ExpectationViolation, match="k_not_null"):
        t.append(batch, expect=[
            Expectation("k_not_null", "k IS NOT NULL", "fail")
        ])
    assert t.latest_version() is None  # nothing committed, nothing staged

    v = t.append(batch, expect=[
        Expectation("k_not_null", "k IS NOT NULL", "drop"),
        Expectation("val_not_null", "val IS NOT NULL", "warn"),
    ])
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    m = t._read_manifest(v)
    assert m["expectations"] == {"k_not_null": 1, "val_not_null": 1}


def test_refresh_aggregate_incremental_equals_full(spark, tmp_path):
    """CDC-driven materialized aggregate: after a merge that updates,
    inserts, deletes, and MOVES rows across groups, the incrementally
    refreshed aggregate equals a full recompute — and provably took
    the incremental path (the source read is disabled after
    bootstrap). Replayed refreshes are exactly-once no-ops."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_aggregate,
    )

    src = SnapshotTable(spark, str(tmp_path / "ma_src"))
    agg = SnapshotTable(spark, str(tmp_path / "ma_agg"))
    rows = [(i, "g%d" % (i % 3), i * 10) for i in range(60)]
    src.append(
        spark.createDataFrame(rows, "k long, grp string, cents long")
    )
    assert refresh_aggregate(src, agg, ["k"], ["grp"], ["cents"]) == 0
    base = {r.grp: (r.cnt, r.sum_cents) for r in agg.read().collect()}
    assert base["g0"] == (20, sum(i * 10 for i in range(0, 60, 3)))

    # mutate: update k=3 (cents 30->999), MOVE k=4 to group gX,
    # insert k=100 in gX, delete k=5
    upd = spark.createDataFrame(
        [(3, "g0", 999), (4, "gX", 40), (100, "gX", 7)],
        "k long, grp string, cents long",
    )
    src.merge_into(upd, ["k"], when_matched="update")
    src.merge_into(
        spark.createDataFrame([(5,)], "k long"),
        ["k"], when_matched="delete", insert_not_matched=False,
    )

    # bootstrap is over: a full-recompute fallback would call src.read
    orig_read = src.read
    src.read = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("refresh fell back to a full recompute")
    )
    assert refresh_aggregate(src, agg, ["k"], ["grp"], ["cents"]) \
        == agg.latest_version()
    src.read = orig_read

    got = {r.grp: (r.cnt, r.sum_cents) for r in agg.read().collect()}
    want = {}
    final = {k: (g, c) for k, g, c in rows}
    final[3] = ("g0", 999); final[4] = ("gX", 40); final[100] = ("gX", 7)
    del final[5]
    for g, c in final.values():
        cnt, s = want.get(g, (0, 0))
        want[g] = (cnt + 1, s + c)
    assert got == want

    # exactly-once: nothing new -> no-op; replay with same head -> no-op
    assert refresh_aggregate(src, agg, ["k"], ["grp"], ["cents"]) is None
    assert agg.txn_version(
        "incr-agg:" + os.path.abspath(str(tmp_path / "ma_src"))
    ) == src.latest_version()


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_concurrent_mixed_writers_stress(spark, tmp_path):
    """Torture the optimistic protocol: 4 threads interleave blind
    appends and serializable merges (retrying on SnapshotConflict).
    Afterwards every writer's rows are present exactly once, the log
    has exactly one manifest per committed version, and replaying the
    log from scratch reproduces the same state."""
    path = str(tmp_path / "stress")
    t = SnapshotTable(spark, path)
    t.append(_kv(spark, [(0, "seed")]))
    errs = []

    def appender(base):
        try:
            for j in range(3):
                SnapshotTable(spark, path).append(
                    _kv(spark, [(base + j, f"a{base + j}")])
                )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    def merger(base):
        try:
            for j in range(3):
                for _ in range(60):  # retry the serializable conflict
                    try:
                        SnapshotTable(spark, path).merge_into(
                            _kv(spark, [(base + j, f"m{base + j}")]), ["k"]
                        )
                        break
                    except SnapshotConflict:
                        continue
                else:
                    raise AssertionError("merge starved")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [
        threading.Thread(target=appender, args=(100,)),
        threading.Thread(target=appender, args=(200,)),
        threading.Thread(target=merger, args=(300,)),
        threading.Thread(target=merger, args=(400,)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    rows = {r.k: r.val for r in t.read().collect()}
    want = {0: "seed"}
    want |= {100 + j: f"a{100 + j}" for j in range(3)}
    want |= {200 + j: f"a{200 + j}" for j in range(3)}
    want |= {300 + j: f"m{300 + j}" for j in range(3)}
    want |= {400 + j: f"m{400 + j}" for j in range(3)}
    assert rows == want
    # one manifest per version, no gaps — and a fresh handle (cold log
    # replay, checkpoints ignored) sees the identical state
    vs = t._versions()
    assert vs == list(range(len(vs))) and len(vs) == 13
    for cv in t._checkpoints():
        os.remove(t._checkpoint_path(cv))
    cold = SnapshotTable(spark, path)
    assert {r.k: r.val for r in cold.read().collect()} == want


def test_maintain_housekeeping(spark, tmp_path):
    """maintain() = compact-if-fragmented + expire + vacuum in one
    call; a healthy table is a near-no-op."""
    t = SnapshotTable(spark, str(tmp_path / "mt1"))
    for i in range(6):
        t.append(_kv(spark, [(i, f"b{i}")]))
    t._stage(_kv(spark, [(99, "ghost")]))  # crash garbage
    data_dir = os.path.join(str(tmp_path / "mt1"), "data")
    referenced = set()
    for v in t._versions():
        referenced |= {a["path"] for a in t._read_manifest(v)["adds"]}
    ghosts = set(os.listdir(data_dir)) - referenced
    assert ghosts and len(t._live_files()) >= 6

    out = t.maintain(max_files=2, keep_versions=1, grace_seconds=0.0)
    assert out["compacted"] is True
    assert out["expired"]
    # ghost gone; with keep_versions=1 only the compacted head's
    # files survive on disk (expire's reachability sweep covers what
    # vacuum would have found)
    assert not (ghosts & set(os.listdir(data_dir)))
    assert set(os.listdir(data_dir)) == set(t._live_files())
    assert len(t.read().inputFiles()) <= 2
    assert sorted(r.k for r in t.read().collect()) == list(range(6))
    # second run: already healthy
    out2 = t.maintain(max_files=2, keep_versions=1, grace_seconds=0.0)
    assert out2 == {"compacted": False, "purged": False,
                    "expired": [], "vacuumed": []}


def test_compaction_is_cdc_invisible(spark, tmp_path):
    """A compact (or Z-order) rewrite moves every row to new files but
    changes no data: the change feed across it must be EMPTY — the
    guarantee that lets downstream incremental consumers (aggregate
    refresh, shard refresh) ignore maintenance churn."""
    t = SnapshotTable(spark, str(tmp_path / "cdc_c"), stat_cols=["k"])
    t.append(_kv(spark, [(i, f"v{i}") for i in range(50)]))
    t.append(_kv(spark, [(i, f"v{i}") for i in range(50, 80)]))
    v_before = t.latest_version()
    t.compact(target_files=2, cluster_by=["k"])
    assert t.changes(v_before, t.latest_version(), ["k"]).count() == 0
    # and a refresh_aggregate across the compact applies zero deltas
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_aggregate,
    )

    agg = SnapshotTable(spark, str(tmp_path / "cdc_a"))
    t2 = SnapshotTable(spark, str(tmp_path / "cdc_s"))
    t2.append(
        spark.createDataFrame(
            [(i, "g", i) for i in range(40)], "k long, grp string, c long"
        )
    )
    refresh_aggregate(t2, agg, ["k"], ["grp"], ["c"])
    before = {r.grp: (r.cnt, r.sum_c) for r in agg.read().collect()}
    t2.compact(target_files=1)
    refresh_aggregate(t2, agg, ["k"], ["grp"], ["c"])
    assert {r.grp: (r.cnt, r.sum_c) for r in agg.read().collect()} \
        == before


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """Predicate DELETE: rows matching the condition vanish, files
    with no matches stay byte-identical, null-condition rows are NOT
    deleted (three-valued logic), and a no-match delete is a no-op
    that commits nothing."""
    t = SnapshotTable(spark, str(tmp_path / "dw"), stat_cols=["k"])
    t.append(_kv(spark, [(i, "lo") for i in range(10)]).coalesce(1))
    t.append(_kv(spark, [(i, "hi") for i in range(100, 110)]).coalesce(1))
    t.append(
        spark.createDataFrame([(200, None)], "k long, val string")
        .coalesce(1)
    )
    data_dir = os.path.join(str(tmp_path / "dw"), "data")
    before = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
    }
    v = t.delete_where("val = 'lo' AND k < 5")
    rows = {r.k for r in t.read().collect()}
    assert rows == set(range(5, 10)) | set(range(100, 110)) | {200}
    # files without matches (hi + null) untouched
    live = t._live_files()
    for n in live:
        if n in before:
            assert os.path.getmtime(
                os.path.join(data_dir, n)) == before[n]
    # time travel still shows the pre-delete rows
    assert len(t.read(version=v - 1).collect()) == 21
    # no-match delete: no new version at all
    assert t.delete_where("k > 99999") == v
    assert t.latest_version() == v


def test_update_where_file_confined(spark, tmp_path):
    """Predicate UPDATE: matching rows get the SET expressions,
    non-matching rows (including NULL-condition) keep their values,
    files with no matches stay byte-identical, and unknown SET
    columns are refused."""
    t = SnapshotTable(spark, str(tmp_path / "uw"), stat_cols=["k"])
    t.append(_kv(spark, [(i, "lo") for i in range(10)]).coalesce(1))
    t.append(_kv(spark, [(i, "hi") for i in range(100, 110)]).coalesce(1))
    data_dir = os.path.join(str(tmp_path / "uw"), "data")
    before = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
    }
    v = t.update_where(
        "k < 3", {"val": "concat(val, '-touched')"}
    )
    rows = {r.k: r.val for r in t.read().collect()}
    assert rows[0] == "lo-touched" and rows[2] == "lo-touched"
    assert rows[5] == "lo" and rows[105] == "hi"
    for n in t._live_files():
        if n in before:  # the hi file must be byte-stable
            assert os.path.getmtime(
                os.path.join(data_dir, n)) == before[n]
    assert len(t.read(version=v - 1).collect()) == 20
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where("k < 3", {"nope": "1"})
    # no-match: no new version
    assert t.update_where("k > 9999", {"val": "'x'"}) == v


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_set_result_keeps_column_type(spark, tmp_path, mode):
    """A SET expression of a wider type (int * 1.5 is a double) is
    stored in the column's own type in both modes: the rewritten file
    must not fork the column's physical type, or every later read of
    the table fails on the type mismatch. The change feed of the
    update reads back in the same type."""
    t = SnapshotTable(spark, str(tmp_path / "ut"), cdf=True)
    t.append(spark.createDataFrame([(1, 2), (2, 4)], "k long, val int"))
    t.append(spark.createDataFrame([(3, 6)], "k long, val int"))
    v = t.update_where("k = 1", {"val": "val * 1.5"}, mode=mode)
    df = t.read()
    assert dict(df.dtypes)["val"] == "int"
    assert {r.k: r.val for r in df.collect()} == {1: 3, 2: 4, 3: 6}
    feed = t.change_feed(v - 1, v, ["k"])
    assert dict(feed.dtypes)["val"] == "int"
    assert {(r._change_type, r.val) for r in feed.collect()} == {
        ("update_preimage", 2), ("update_postimage", 3),
    }


def test_failed_append_cleans_up_stage(spark, tmp_path):
    """An append whose staged write raises leaves no `.stage-*` dir in
    the table and commits nothing."""
    path = str(tmp_path / "fa")
    t = SnapshotTable(spark, path)
    t.append(_kv(spark, [(1, "a")]))
    boom = F.udf(lambda x: 1 // 0, "string")
    with pytest.raises(Exception, match="ZeroDivisionError"):
        t.append(_kv(spark, [(2, "b")]).select("k", boom("val").alias("val")))
    assert [d for d in os.listdir(path) if d.startswith(".stage-")] == []
    assert t.latest_version() == 0
    assert {r.k: r.val for r in t.read().collect()} == {1: "a"}


def test_vacuum_grace_window_spares_inflight_staging(spark, tmp_path):
    """An unreferenced data file YOUNGER than the grace window may be
    an in-flight writer mid-stage (files land in data/ before the
    manifest commits): default vacuum AND expire_versions must leave
    it alone; once its mtime ages past the grace it is garbage. Files
    orphaned by retention (referenced by an expired manifest) delete
    immediately — they cannot be in-flight."""
    path = str(tmp_path / "grace")
    t = SnapshotTable(spark, path)
    for i in range(3):
        t.append(_kv(spark, [(i, f"b{i}")]))
    t.overwrite(_kv(spark, [(99, "head")]))
    # an in-flight writer: staged, manifest not yet committed
    t._stage(_kv(spark, [(500, "inflight")]))
    data_dir = os.path.join(path, "data")
    referenced = set()
    for v in t._versions():
        referenced |= {a["path"] for a in t._read_manifest(v)["adds"]}
    inflight = set(os.listdir(data_dir)) - referenced
    assert inflight

    res = t.expire_versions(keep_last=1)  # default grace
    # retention garbage (the pre-overwrite files) went...
    assert res["deleted_files"]
    # ...but the fresh in-flight files survived both sweeps
    assert inflight <= set(os.listdir(data_dir))
    assert t.vacuum() == []
    # the in-flight writer can still commit a manifest over its files
    # (simulate: age the files instead, as if the writer died long ago)
    for f in inflight:
        os.utime(os.path.join(data_dir, f), (0, 0))
    assert set(t.vacuum(grace_seconds=3600.0)) == inflight


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    """Duplicate source keys would silently multiply rows under
    when_matched='update' and double-insert under not-matched — the
    merge must refuse them (Delta's 'multiple source rows matched'),
    on both the empty-table fast path and the regular path. NULL-keyed
    rows never equi-match and are exempt from the check."""
    t = SnapshotTable(spark, str(tmp_path / "dup1"))
    dup = _kv(spark, [(1, "a"), (1, "b"), (2, "c")])
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(dup, ["k"])  # empty-table path
    t.append(_kv(spark, [(1, "old"), (9, "old")]))
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(dup, ["k"])  # regular path
    # null keys do not trip the guard
    nulls = spark.createDataFrame(
        [(None, "n1"), (None, "n2"), (3, "x")], "k long, val string"
    )
    t.merge_into(nulls, ["k"])
    assert t.read().filter("k IS NULL").count() == 2


def test_merge_dedupe_source_last_write_wins(spark, tmp_path):
    """dedupe_source=<order col> collapses in-batch updates to the
    highest order value per key BEFORE the merge — the streaming
    micro-batch shape — and the result has unique keys."""
    t = SnapshotTable(spark, str(tmp_path / "dup2"))
    t.append(
        spark.createDataFrame(
            [(1, 0, "old"), (2, 0, "old")], "k long, ord long, val string"
        )
    )
    src = spark.createDataFrame(
        [(1, 1, "mid"), (1, 2, "new"), (3, 1, "ins-a"), (3, 2, "ins-b")],
        "k long, ord long, val string",
    )
    t.merge_into(src, ["k"], dedupe_source="ord")
    rows = {r.k: (r.ord, r.val) for r in t.read().collect()}
    assert rows == {1: (2, "new"), 2: (0, "old"), 3: (2, "ins-b")}
    # uniqueness preserved -> CDC stays well-defined
    assert t.read().groupBy("k").count().filter("count > 1").count() == 0


def test_refresh_aggregate_survives_expired_watermark(spark, tmp_path):
    """Retention can expire the version a refresh watermark points at;
    the refresh must fall back to a full recompute (and re-stamp the
    watermark) instead of raising forever."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_aggregate,
    )

    src = SnapshotTable(spark, str(tmp_path / "exp_src"))
    agg = SnapshotTable(spark, str(tmp_path / "exp_agg"))
    src.append(_kv(spark, [(1, "a"), (2, "a"), (3, "b")]))
    refresh_aggregate(src, agg, ["k"], ["val"], [])
    # advance source far enough that retention expires the watermark
    for i in range(10, 14):
        src.append(_kv(spark, [(i, "b")]))
    src.expire_versions(keep_last=1, grace_seconds=0.0)
    refresh_aggregate(src, agg, ["k"], ["val"], [])
    got = {r.val: r.cnt for r in agg.read().collect()}
    assert got == {"a": 2, "b": 5}
    # watermark re-stamped: the next refresh is a clean no-op
    assert refresh_aggregate(src, agg, ["k"], ["val"], []) is None


def _file_state(data_dir):
    return {
        f: (os.path.getmtime(os.path.join(data_dir, f)),
            os.path.getsize(os.path.join(data_dir, f)))
        for f in os.listdir(data_dir)
    }


def test_mor_merge_scattered_keys_rewrites_nothing(spark, tmp_path):
    """The copy-on-write pathology: a small batch whose keys scatter
    across EVERY file rewrites the whole table. mode='mor' must leave
    every pre-existing data file byte-identical, write only the DV +
    the new rows, and read back exactly what a cow merge of the same
    batch produces."""
    rows = [(i, f"v{i}") for i in range(400)]
    src_rows = [(k, "upd") for k in range(0, 400, 50)] + [(9000, "new")]

    paths = {}
    for m in ("cow", "mor"):
        t = SnapshotTable(spark, str(tmp_path / m), stat_cols=["k"])
        # 8 files, keys striped so every file holds keys from the
        # whole range — the scatter that defeats stat pruning
        t.append(_kv(spark, rows).repartition(8, "k"))
        paths[m] = t

    data_dir = os.path.join(str(tmp_path / "mor"), "data")
    before = _file_state(data_dir)
    src = _kv(spark, src_rows)
    paths["mor"].merge_into(src, ["k"], mode="mor")
    paths["cow"].merge_into(src, ["k"], mode="cow")

    after = _file_state(data_dir)
    # every pre-existing file byte-identical; only new files appeared
    for f, st in before.items():
        assert after[f] == st, f
    new_files = set(after) - set(before)
    assert new_files and any(f.startswith("dv-") for f in new_files)

    a = sorted(tuple(r) for r in paths["mor"].read().collect())
    b = sorted(tuple(r) for r in paths["cow"].read().collect())
    assert a == b
    # history records the masked rows
    assert paths["mor"].history()[-1]["rows_dv_masked"] == 8
    # CDC across the MoR commit == CDC across the cow commit
    ca = sorted(tuple(r) for r in
                paths["mor"].changes(0, 1, ["k"]).collect())
    cb = sorted(tuple(r) for r in
                paths["cow"].changes(0, 1, ["k"]).collect())
    assert ca == cb
    # a second merge re-matching a DV'd key must hit the POSTIMAGE
    paths["mor"].merge_into(
        _kv(spark, [(0, "upd2")]), ["k"], mode="mor"
    )
    got = {r.k: r.val for r in paths["mor"].read().collect()}
    assert got[0] == "upd2" and len(got) == 401


def test_mor_delete_update_and_time_travel(spark, tmp_path):
    """MoR DELETE/UPDATE: no data file rewritten, semantics identical
    to cow, time travel shows the pre-DV snapshot, a deleted key can
    re-insert, and a delete matching nothing commits nothing."""
    t = SnapshotTable(spark, str(tmp_path / "md"), stat_cols=["k"])
    t.append(_kv(spark, [(i, "a") for i in range(20)]).repartition(4, "k"))
    data_dir = os.path.join(str(tmp_path / "md"), "data")
    before = _file_state(data_dir)

    v1 = t.delete_where("k % 5 = 0", mode="mor")
    assert sorted(r.k for r in t.read().collect()) == [
        i for i in range(20) if i % 5
    ]
    assert t.read(version=v1 - 1).count() == 20  # time travel intact
    for f, st in before.items():
        assert _file_state(data_dir)[f] == st

    v2 = t.update_where("k = 1", {"val": "'upd'"}, mode="mor")
    got = {r.k: r.val for r in t.read().collect()}
    assert got[1] == "upd" and got[2] == "a"
    assert t.read().count() == 16
    # the updated row is one row, not a duplicate
    assert t.read().filter("k = 1").count() == 1

    # no-match MoR delete: no new version
    assert t.delete_where("k > 10000", mode="mor") == v2
    # deleted key re-inserts through a merge
    t.merge_into(_kv(spark, [(0, "back")]), ["k"], mode="mor")
    assert {r.val for r in t.read().filter("k = 0").collect()} == {"back"}
    # CDC over the whole MoR history equals the final-state diff
    cdc = t.changes(0, t.latest_version(), ["k"])
    ins = {r.k for r in cdc.filter("_change_type = 'delete'").collect()}
    assert ins == {5, 10, 15}  # 0 was deleted then re-inserted -> update


def test_mor_compact_materializes_dvs_away(spark, tmp_path):
    """compact() must fold the DV masks into real files: afterwards no
    live file carries DVs, contents are unchanged, and once history
    expires the DV files are physically reclaimed."""
    t = SnapshotTable(spark, str(tmp_path / "mc"))
    t.append(_kv(spark, [(i, "x") for i in range(30)]).repartition(3, "k"))
    t.delete_where("k < 10", mode="mor")
    live = t._live_files()
    assert any(e.get("dvs") for e in live.values())
    want = sorted(tuple(r) for r in t.read().collect())

    t.compact(target_files=2)
    live2 = t._live_files()
    assert not any(e.get("dvs") for e in live2.values())
    assert sorted(tuple(r) for r in t.read().collect()) == want

    data_dir = os.path.join(str(tmp_path / "mc"), "data")
    assert any(f.startswith("dv-") for f in os.listdir(data_dir))
    t.expire_versions(keep_last=1, grace_seconds=0.0)
    assert not any(f.startswith("dv-") for f in os.listdir(data_dir))
    assert sorted(tuple(r) for r in t.read().collect()) == want


def test_mor_concurrent_dv_commit_conflicts_cow_merge(spark, tmp_path):
    """A deletion-vector commit changes rows WITHOUT changing the file
    set — a concurrent read-modify-write that read the pre-DV rows
    must still conflict (the r6 file-set-only premise would miss it
    and resurrect the deleted rows)."""
    path = str(tmp_path / "cc")
    t = SnapshotTable(spark, path)
    t.append(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]))

    orig_stage = SnapshotTable._stage
    fired = {}

    def hooked(self, frame):
        staged = orig_stage(self, frame)
        if not fired:
            fired["x"] = True
            SnapshotTable(spark, path).delete_where("k = 3", mode="mor")
        return staged

    SnapshotTable._stage = hooked
    try:
        with pytest.raises(SnapshotConflict):
            t.merge_into(_kv(spark, [(1, "upd")]), ["k"])
    finally:
        SnapshotTable._stage = orig_stage
    # the DV delete won; re-running the merge applies cleanly
    t.merge_into(_kv(spark, [(1, "upd")]), ["k"])
    got = {r.k: r.val for r in t.read().collect()}
    assert got == {1: "upd", 2: "b"}


def test_refresh_aggregate_over_mor_commits(spark, tmp_path):
    """The incremental materialization consumes the change feed across
    merge-on-read commits and still equals a full recompute — the
    downstream-consumer guarantee that makes MoR a drop-in."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_aggregate,
    )

    src = SnapshotTable(spark, str(tmp_path / "ms"))
    agg = SnapshotTable(spark, str(tmp_path / "ma"))
    src.append(_kv(spark, [(i, "g1" if i < 6 else "g2")
                           for i in range(10)]))
    refresh_aggregate(src, agg, ["k"], ["val"], [])
    src.delete_where("k IN (0, 7)", mode="mor")
    src.update_where("k = 1", {"val": "'g2'"}, mode="mor")  # group move
    src.merge_into(_kv(spark, [(100, "g1")]), ["k"], mode="mor")
    refresh_aggregate(src, agg, ["k"], ["val"], [])
    got = {r.val: r.cnt for r in agg.read().collect()}
    full = {
        r.val: r.cnt
        for r in src.read().groupBy("val").agg(
            F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == full == {"g1": 5, "g2": 4}


def test_merge_point_set_and_composite_pruning():
    """VERDICT r6 item 3: candidate-file selection must use the actual
    key POINT SET when the batch is sparse (two extreme keys used to
    survive range pruning in every file) and must prune on EVERY key
    column of a composite key, not just keys[0]."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        _prune_candidates,
    )

    # 8 files covering contiguous key ranges 0-99, 100-199, ...
    live = {
        f"f{i}": {"stats": {"k": [i * 100, i * 100 + 99],
                            "d": [i % 2, i % 2]}}
        for i in range(8)
    }
    # sparse batch: keys 5 and 750 — a min..max range [5, 750] keeps
    # every file; the point set keeps exactly their two homes
    pts = {"k": [5, 750]}
    got = _prune_candidates(live, ["k"], {"k": (5, 750)}, pts)
    assert set(got) == {"f0", "f7"}
    # the same batch judged by range alone keeps all 8 (the old cost)
    got_rng = _prune_candidates(live, ["k"], {"k": (5, 750)}, {})
    assert len(got_rng) == 8

    # composite key: second column d=1 eliminates the even files even
    # when k's range covers them
    got2 = _prune_candidates(
        live, ["k", "d"], {"k": (0, 799), "d": (1, 1)}, {}
    )
    assert set(got2) == {"f1", "f3", "f5", "f7"}
    # point set on both columns composes
    got3 = _prune_candidates(
        live, ["k", "d"], {"k": (5, 750), "d": (0, 1)},
        {"k": [5, 750], "d": [0]},
    )
    assert set(got3) == {"f0"}
    # a column with no stats can never prune
    nostat = {"g": {"stats": {}}}
    assert _prune_candidates(
        nostat, ["k"], {"k": (5, 5)}, {"k": [5]}
    ) == nostat


def test_merge_sparse_scattered_batch_end_to_end(spark, tmp_path):
    """End-to-end witness for point-set pruning: a key-clustered table,
    a two-extreme-key merge — only the two home files are rewritten
    and every other file stays byte-identical."""
    t = SnapshotTable(spark, str(tmp_path / "ps"), stat_cols=["k"])
    df = spark.range(800).select(
        F.col("id").alias("k"), F.lit("x").alias("val")
    )
    t.append(df.repartitionByRange(8, "k").sortWithinPartitions("k"))
    data_dir = os.path.join(str(tmp_path / "ps"), "data")
    assert len(t._live_files()) == 8
    before = _file_state(data_dir)

    src = _kv(spark, [(5, "upd"), (750, "upd")])
    t.merge_into(src, ["k"])
    after = _file_state(data_dir)
    # on-disk bytes of every pre-existing file are untouched (cow
    # removal is logical; old files back time travel)
    for f, st in before.items():
        assert after[f] == st
    # exactly the two home files left the live set (rewritten); the
    # other 6 carry over byte-identical into the new version
    live_after = set(t._live_files())
    assert len(set(before) & live_after) == 6
    got = {r.k: r.val for r in t.read().collect()}
    assert got[5] == "upd" and got[750] == "upd" and got[6] == "x"
    assert len(got) == 800


def test_commit_backends_contention(spark, tmp_path):
    """VERDICT r6 item 5: the commit protocol must hold under racing
    writers on BOTH backends — the default O_EXCL filesystem backend
    and the object-store mutex backend (put-if-absent via an external
    claims service). Each backend: 4 threads x appends, every append
    commits a distinct version, no rows lost."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        InMemoryClaims,
        LocalFSCommitBackend,
        MutexCommitBackend,
    )

    backends = {
        "excl": LocalFSCommitBackend(),
        "mutex": MutexCommitBackend(InMemoryClaims()),
    }
    for name, be in backends.items():
        path = str(tmp_path / name)
        t = SnapshotTable(spark, path, commit_backend=be)
        t.append(_df(spark, 0, 1, "seed"))
        errs = []

        def worker(i, path=path, be=be):
            try:
                SnapshotTable(spark, path, commit_backend=be).append(
                    _df(spark, 100 * i, 100 * i + 10, f"w{i}")
                )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        threads = [
            threading.Thread(target=worker, args=(i,))
            for i in range(1, 5)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs, (name, errs)
        assert t.latest_version() == 4, name
        assert t.read().count() == 41, name


def test_mutex_backend_completes_crashed_winner(tmp_path):
    """A mutex-backend writer dying between its claim and its object
    write must not wedge the version: the next writer of that path
    completes the crashed winner's commit from the recorded payload
    and correctly reports itself the loser."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        InMemoryClaims,
        MutexCommitBackend,
    )

    claims = InMemoryClaims()
    be = MutexCommitBackend(claims)
    path = str(tmp_path / "00000003.json")

    # simulate the crash: the claim lands, the write never happens
    assert claims.claim(path, b'{"version": 3, "op": "crashed"}') is None
    assert not os.path.exists(path)

    # the next writer loses — but the crashed commit completes
    assert be.put_if_absent(path, b'{"version": 3, "op": "mine"}') is False
    with open(path, "rb") as fh:
        assert fh.read() == b'{"version": 3, "op": "crashed"}'
    # idempotent on further losers
    assert be.put_if_absent(path, b"whatever") is False
    with open(path, "rb") as fh:
        assert fh.read() == b'{"version": 3, "op": "crashed"}'


def test_purge_dvs_rewrites_only_masked_files(spark, tmp_path):
    """purge_dvs materializes masks by rewriting ONLY the files that
    carry DVs: clean files stay live and byte-identical, masked rows
    are gone for real, and maintain() triggers the purge once enough
    files carry masks."""
    t = SnapshotTable(spark, str(tmp_path / "pg"), stat_cols=["k"])
    t.append(_kv(spark, [(i, "lo") for i in range(10)]).coalesce(1))
    t.append(_kv(spark, [(i, "hi") for i in range(100, 110)]).coalesce(1))
    t.delete_where("k IN (1, 3)", mode="mor")  # masks the lo file only
    want = sorted(tuple(r) for r in t.read().collect())
    live_before = t._live_files()
    clean = {n for n, e in live_before.items() if not e.get("dvs")}
    assert clean and len(clean) < len(live_before)

    v = t.purge_dvs()
    assert v == t.latest_version()
    live = t._live_files()
    assert not any(e.get("dvs") for e in live.values())
    assert clean <= set(live)  # clean files carried over untouched
    assert sorted(tuple(r) for r in t.read().collect()) == want
    # nothing left to purge
    assert t.purge_dvs() is None

    # maintain() purges when many files carry masks (and the table is
    # not otherwise fragmented enough to compact)
    t2 = SnapshotTable(spark, str(tmp_path / "pg2"))
    for i in range(3):
        t2.append(
            _kv(spark, [(100 * i + j, "x") for j in range(5)]).coalesce(1)
        )
        t2.delete_where(f"k = {100 * i}", mode="mor")
    out = t2.maintain(max_files=64, keep_versions=100,
                      grace_seconds=0.0, max_dv_files=2)
    assert out["purged"] is True and out["compacted"] is False
    assert not any(e.get("dvs") for e in t2._live_files().values())
    assert t2.read().count() == 12


def test_dv_free_read_plan_has_no_join(spark, tmp_path):
    """The DV fast path: a table that never saw a merge-on-read commit
    must read through a plain scan — no anti-join, no metadata
    columns — byte-identical plan to the pre-DV reader."""
    t = SnapshotTable(spark, str(tmp_path / "fp"))
    t.append(_kv(spark, [(1, "a"), (2, "b")]))
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "row_index" not in plan
    # and a DV'd table does use the anti-join
    t.delete_where("k = 1", mode="mor")
    plan2 = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan2


def test_properties_survive_retention(spark, tmp_path):
    """Table properties must stay resolvable after expire_versions
    removes the manifest that set them — the checkpoint carries them,
    exactly like txn high-water marks."""
    t = SnapshotTable(spark, str(tmp_path / "props"))
    t.append(_kv(spark, [(1, "a")]), properties={"owner": "alice"})
    t.append(_kv(spark, [(2, "b")]), properties={"fmt": "v1"})
    t.overwrite(_kv(spark, [(3, "c")]), properties={"fmt": "v2"})
    for i in range(4):
        t.append(_kv(spark, [(10 + i, "x")]))
    assert t.properties_at() == {"owner": "alice", "fmt": "v2"}
    # per-version resolution before retention
    assert t.properties_at(0) == {"owner": "alice"}
    assert t.properties_at(1) == {"owner": "alice", "fmt": "v1"}

    t.expire_versions(keep_last=2, grace_seconds=0.0)
    # the setting manifests (v0-v2) are gone; the checkpoint at the
    # retention cutoff still resolves the accumulated properties
    assert t.properties_at() == {"owner": "alice", "fmt": "v2"}
    # and a post-retention update still wins
    t.append(_kv(spark, [(99, "z")]), properties={"fmt": "v3"})
    assert t.properties_at()["fmt"] == "v3"


# ---------------- bloom-filter file index ----------------


def test_bloom_prune_point_lookup(spark, tmp_path):
    """Equality file-skipping on a high-cardinality column where
    min/max stats are useless: a point probe keeps ~1 of 8 files
    (plus at most a couple of false positives), and an absent key
    prunes everything while preserving the schema."""
    t = SnapshotTable(spark, str(tmp_path / "tb"), bloom_cols=["k"])
    for lo in (0, 1000, 2000, 3000):
        t.append(_df(spark, lo, lo + 500).repartition(2))
    live = t._live_files()
    assert len(live) == 8
    kept = t._bloom_keep_files(live, [("k", [2123])], None)
    assert 1 <= len(kept) <= 3
    rows = t.read(bloom=[("k", [2123])]).where(F.col("k") == 2123)
    assert rows.count() == 1
    absent = t.read(bloom=[("k", [999_999])])
    assert absent.count() == 0
    assert absent.columns == ["k", "tag"]


def test_bloom_never_false_negative(spark, tmp_path):
    """The index contract: a miss PROVES absence, so a pruned read +
    exact filter must equal a full read + exact filter for every
    present key — including string columns and multi-value probes."""
    t = SnapshotTable(
        spark, str(tmp_path / "tb2"), bloom_cols=["k", "tag"]
    )
    t.append(_df(spark, 0, 300, "a").repartition(3))
    t.append(_df(spark, 300, 600, "b").repartition(3))
    for k in (0, 17, 299, 300, 599):
        got = t.read(bloom=[("k", [k])]).where(F.col("k") == k)
        assert got.count() == 1, k
    multi = t.read(bloom=[("k", [5, 305])]).where(
        F.col("k").isin(5, 305)
    )
    assert multi.count() == 2
    tag_b = t.read(bloom=[("tag", ["b"])]).where(F.col("tag") == "b")
    assert tag_b.count() == 300


def test_bloom_sidecar_lifecycle(spark, tmp_path):
    """Sidecars are per-data-file, files written by a handle WITHOUT
    bloom_cols stay un-indexed and are kept conservatively, and a
    vacuumed data file takes its sidecar with it."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        _bloom_path,
    )

    t = SnapshotTable(spark, str(tmp_path / "tb3"), bloom_cols=["k"])
    t.append(_df(spark, 0, 100))
    bdir = tmp_path / "tb3" / "data" / "_bloom"
    assert len(list(bdir.glob("*.bloom"))) == len(t._live_files())
    # un-indexed append via a bloom-less handle: reads must keep it
    t2 = SnapshotTable(spark, str(tmp_path / "tb3"))
    t2.append(_df(spark, 100, 200))
    hit = t.read(bloom=[("k", [150])]).where(F.col("k") == 150)
    assert hit.count() == 1
    # retention: dead files' sidecars die with them (expire_versions
    # sweeps immediately through the same path vacuum uses)
    before = set(t._live_files())
    t.overwrite(_df(spark, 0, 10))
    t.expire_versions(keep_last=1, grace_seconds=0.0)
    t.vacuum(grace_seconds=0.0)
    dead = before - set(t._live_files())
    assert dead
    for f in dead:
        assert not os.path.exists(_bloom_path(str(tmp_path / "tb3"), f))


def test_bloom_read_respects_deletion_vectors(spark, tmp_path):
    """Bloom pruning composes with merge-on-read: a row masked by a
    deletion vector stays invisible in a bloom-pruned point read (the
    stale bloom bit is an over-approximation, never a resurrection)."""
    t = SnapshotTable(spark, str(tmp_path / "tb4"), bloom_cols=["k"])
    t.append(_df(spark, 0, 200).repartition(2))
    t.delete_where("k = 42", mode="mor")
    gone = t.read(bloom=[("k", [42])]).where(F.col("k") == 42)
    assert gone.count() == 0
    kept = t.read(bloom=[("k", [43])]).where(F.col("k") == 43)
    assert kept.count() == 1


def test_bloom_prunes_merge_candidates(spark, tmp_path):
    """A sparse scattered-key MERGE on an UNCLUSTERED table: min/max
    stats keep every file (each spans the key domain), but the bloom
    sidecars narrow the candidate scan to the batch's footprint —
    with results identical to the un-indexed twin."""
    data = _df(spark, 0, 4000).repartition(8)
    t_b = SnapshotTable(spark, str(tmp_path / "mb"),
                        stat_cols=["k"], bloom_cols=["k"])
    t_p = SnapshotTable(spark, str(tmp_path / "mp"), stat_cols=["k"])
    t_b.append(data)
    t_p.append(data)
    src = spark.createDataFrame(
        [(7, "upd"), (3777, "upd")], "k long, tag string"
    )
    for t in (t_b, t_p):
        t.merge_into(src, ["k"], when_matched="update")
    assert t_p.last_merge_stats["candidates"] == 8  # stats prune nothing
    assert t_b.last_merge_stats["candidates"] <= 4  # blooms find the footprint
    rows_b = sorted((r.k, r.tag) for r in t_b.read().collect())
    rows_p = sorted((r.k, r.tag) for r in t_p.read().collect())
    assert rows_b == rows_p
    assert dict(rows_b)[7] == "upd" and dict(rows_b)[3777] == "upd"


def test_bloom_prunes_big_batch_merge(spark, tmp_path):
    """VERDICT r11 item 2: a MOSTLY-NEW big batch (beyond the stat
    point cap of 1024 distinct keys) must still bloom-prune — the
    delta-merge shape where thousands of fresh keys meet an
    unclustered table and the matched-row scan would otherwise walk
    every file. The batch's distinct keys are collected for bloom
    probing (capped), the bit test is vectorized, and only the files
    holding the few genuinely-matched keys survive."""
    data = _df(spark, 0, 4000).repartition(8)
    t_b = SnapshotTable(spark, str(tmp_path / "bb"),
                        stat_cols=["k"], bloom_cols=["k"])
    t_p = SnapshotTable(spark, str(tmp_path / "bp"), stat_cols=["k"])
    t_b.append(data)
    t_p.append(data)
    # 3000 fresh keys + 2 existing ones: > point_cap, ~0 matches
    src = spark.createDataFrame(
        [(100_000 + i, "new") for i in range(3000)]
        + [(7, "upd"), (3777, "upd")],
        "k long, tag string",
    )
    for t in (t_b, t_p):
        t.merge_into(src, ["k"], when_matched="update", mode="mor")
    # r12: the big-batch stat point collection may prune some files on
    # the stats-only twin too (round-robin file spans are layout
    # luck) — blooms must be at least as tight, never tighter than
    # correct (result parity below)
    assert (
        t_b.last_merge_stats["candidates"]
        <= t_p.last_merge_stats["candidates"]
    )
    assert t_b.last_merge_stats["candidates"] <= 4  # blooms prune
    rows_b = sorted((r.k, r.tag) for r in t_b.read().collect())
    rows_p = sorted((r.k, r.tag) for r in t_p.read().collect())
    assert rows_b == rows_p
    assert len(rows_b) == 7000
    assert dict(rows_b)[7] == "upd" and dict(rows_b)[100_500] == "new"


# ---------------- incremental join materialization ----------------


def _join_fixture(spark, tmp_path):
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_join,
    )

    a = SnapshotTable(spark, str(tmp_path / "ja"))
    b = SnapshotTable(spark, str(tmp_path / "jb"))
    view = SnapshotTable(spark, str(tmp_path / "jv"))
    a.append(spark.createDataFrame(
        [(i, i % 5, i * 10) for i in range(40)],
        "ak long, j long, aval long",
    ))
    b.append(spark.createDataFrame(
        [(j, f"dim{j}") for j in range(5)], "j long, bval string"
    ))
    return a, b, view, refresh_join


def _full(a, b):
    return sorted(
        tuple(r) for r in
        a.read().join(b.read(), ["j"])
        .select("j", "ak", "aval", "bval").collect()
    )


def _view_rows(view):
    return sorted(
        tuple(r) for r in
        view.read().select("j", "ak", "aval", "bval").collect()
    )


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_refresh_join_incremental_equals_full(spark, tmp_path):
    """Bootstrap, then churn BOTH sides (update/insert/delete on the
    fact, update/delete on the dim): every refresh must leave the view
    exactly equal to a full join recompute, and a no-change refresh
    must be a no-op."""
    a, b, view, refresh_join = _join_fixture(spark, tmp_path)
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) == 0
    assert _view_rows(view) == _full(a, b)
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) is None

    # churn side A: update, insert, delete
    a.merge_into(
        spark.createDataFrame(
            [(3, 3 % 5, 999), (100, 2, 1000)], "ak long, j long, aval long"
        ),
        ["ak"],
    )
    a.delete_where("ak % 7 = 0")
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) is not None
    assert _view_rows(view) == _full(a, b)

    # churn side B: dim update + dim delete (kills that key's pairs)
    b.merge_into(
        spark.createDataFrame([(2, "DIM2")], "j long, bval string"), ["j"]
    )
    b.delete_where("j = 4")
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) is not None
    got = _view_rows(view)
    assert got == _full(a, b)
    assert all(r[0] != 4 for r in got)
    assert {r[3] for r in got if r[0] == 2} == {"DIM2"}

    # churn BOTH sides between refreshes (the double-changed overlap)
    a.merge_into(
        spark.createDataFrame([(200, 1, 7)], "ak long, j long, aval long"),
        ["ak"],
    )
    b.merge_into(
        spark.createDataFrame([(1, "DIM1")], "j long, bval string"), ["j"]
    )
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) is not None
    assert _view_rows(view) == _full(a, b)


def test_refresh_join_replay_and_churn_bounded_writes(spark, tmp_path):
    """A replayed refresh (same heads) is a no-op; incremental commits
    add O(churn) rows, not O(view); a retention-expired watermark falls
    back to one full recompute instead of wedging."""
    a, b, view, refresh_join = _join_fixture(spark, tmp_path)
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    n_boot = view.read().count()
    a.merge_into(
        spark.createDataFrame([(0, 0, -1)], "ak long, j long, aval long"),
        ["ak"],
    )
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    assert _view_rows(view) == _full(a, b)
    # the incremental append touched one pair, not the whole view
    h = view.history()
    assert h[-1]["op"] == "append" and h[-1]["rows_added"] == 1
    assert n_boot > 1
    # replay with unchanged heads: no commit
    v_before = view.latest_version()
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) is None
    assert view.latest_version() == v_before
    # expire A's history past the watermark: refresh must fall back
    for i in range(6):
        a.append(spark.createDataFrame(
            [(300 + i, 1, i)], "ak long, j long, aval long"
        ))
    a.expire_versions(keep_last=1, grace_seconds=0.0)
    assert refresh_join(a, b, view, ["ak"], ["j"], ["j"]) is not None
    assert _view_rows(view) == _full(a, b)


def test_compact_by_target_bytes(spark, tmp_path):
    """Size-targeted compaction: the output file count follows the
    live data volume (ceil(bytes / target)), so the same maintenance
    call keeps producing right-sized files as the table grows."""
    t = SnapshotTable(spark, str(tmp_path / "cb"))
    for i in range(6):
        t.append(_df(spark, 1000 * i, 1000 * i + 1000).repartition(4))
    live = t._live_files()
    assert len(live) == 24
    total = sum(
        os.path.getsize(os.path.join(str(tmp_path / "cb"), "data", f))
        for f in live
    )
    target = total // 3  # expect ~3-4 output files
    t.compact(target_bytes=target)
    n = len(t._live_files())
    assert 2 <= n <= 5
    assert t.read().count() == 6000


def test_refresh_join_concurrent_refreshers_serialize(spark, tmp_path):
    """Two racing refreshes of the same view: at most one applies;
    the loser aborts with SnapshotConflict (delete-leg dv premise or
    append-leg watermark premise) and a re-run converges to the full
    recompute — never a double-applied slice, never a lost pair."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_join,
    )

    a = SnapshotTable(spark, str(tmp_path / "ca"))
    b = SnapshotTable(spark, str(tmp_path / "cb2"))
    view = SnapshotTable(spark, str(tmp_path / "cv"))
    a.append(spark.createDataFrame(
        [(i, i % 3, i) for i in range(30)], "ak long, j long, aval long"
    ))
    b.append(spark.createDataFrame(
        [(j, j * 100) for j in range(3)], "j long, bval long"
    ))
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    # pure-insert churn: the delete leg commits nothing, so only the
    # append-leg watermark premise can serialize the race
    a.append(spark.createDataFrame(
        [(100 + i, i % 3, -i) for i in range(5)], "ak long, j long, aval long"
    ))
    errs = []

    def worker():
        try:
            refresh_join(a, b, view, ["ak"], ["j"], ["j"])
        except SnapshotConflict as exc:
            errs.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    # whatever the interleaving, a final refresh leaves exact state
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    got = sorted(
        tuple(r) for r in
        view.read().select("j", "ak", "aval", "bval").collect()
    )
    want = sorted(
        tuple(r) for r in
        a.read().join(b.read(), ["j"])
        .select("j", "ak", "aval", "bval").collect()
    )
    assert got == want
    assert len(got) == len({(r[0], r[1]) for r in got})  # no dup pairs


def test_register_view_sql_with_time_travel(spark, tmp_path):
    """spark.sql over the snapshot table, including a past version:
    the SQL surface the catalog gives plain parquet, on the
    transactional format."""
    t = SnapshotTable(spark, str(tmp_path / "sqlv"))
    t.append(_df(spark, 0, 10, "a"))
    t.overwrite(_df(spark, 100, 105, "b"))
    t.register_view("snap_now")
    t.register_view("snap_v0", version=0)
    assert spark.sql("SELECT count(*) AS n FROM snap_now").first().n == 5
    assert spark.sql("SELECT count(*) AS n FROM snap_v0").first().n == 10
    # view pins its snapshot: a later append is invisible until re-registration
    t.append(_df(spark, 200, 203, "c"))
    assert spark.sql("SELECT count(*) AS n FROM snap_now").first().n == 5
    t.register_view("snap_now")
    assert spark.sql("SELECT count(*) AS n FROM snap_now").first().n == 8


def test_refresh_join_dim_schema_evolution(spark, tmp_path):
    """The dimension gains a column mid-stream: the next refresh folds
    the evolved postimages in, the view schema evolves additively, and
    pre-evolution view rows read the new column as null — the same
    contract the table format gives plain reads."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_join,
    )

    a = SnapshotTable(spark, str(tmp_path / "ea"))
    b = SnapshotTable(spark, str(tmp_path / "eb"))
    view = SnapshotTable(spark, str(tmp_path / "ev"))
    a.append(spark.createDataFrame(
        [(i, i % 2, i) for i in range(10)], "ak long, j long, aval long"
    ))
    b.append(spark.createDataFrame(
        [(0, "d0"), (1, "d1")], "j long, bval string"
    ))
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    # evolution: j=1's row gains a region column via merge of an
    # evolved source (append-merge schema contract)
    b.merge_into(
        spark.createDataFrame(
            [(1, "D1", "emea")], "j long, bval string, region string"
        ),
        ["j"],
    )
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    got = {
        (r.j, r.ak): (r.bval, r.region)
        for r in view.read().collect()
    }
    full = {
        (r.j, r.ak): (r.bval, r.region)
        for r in a.read().join(b.read(), ["j"]).collect()
    }
    assert got == full
    assert got[(1, 1)] == ("D1", "emea")
    assert got[(0, 0)] == ("d0", None)


def test_merge_schema_evolution_cow_and_guard(spark, tmp_path):
    """An evolved merge source (extra column) evolves the table
    additively in copy-on-write mode — kept rows read the new column
    as null; a source LACKING a target column is rejected up front
    (never silently nulled), except for delete-only merges, whose
    source rows are never written."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SchemaConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "ev2"))
    t.append(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge_into(
        spark.createDataFrame(
            [(2, "B", "x"), (9, "I", "y")],
            "k long, val string, extra string",
        ),
        ["k"],
    )
    rows = {r.k: (r.val, r.extra) for r in t.read().collect()}
    assert rows == {
        1: ("a", None), 2: ("B", "x"), 3: ("c", None), 9: ("I", "y"),
    }
    with pytest.raises(SchemaConflict):
        t.merge_into(
            spark.createDataFrame([(1,)], "k long"), ["k"],
        )
    # delete-only merges need only the key columns
    t.merge_into(
        spark.createDataFrame([(3,)], "k long"), ["k"],
        when_matched="delete", insert_not_matched=False,
    )
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 9]


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_incremental_star_schema_chain(spark, tmp_path):
    """Composability of the two view maintainers: fact -> materialized
    fact-dim join (refresh_join) -> grouped rollup maintained from the
    JOIN VIEW's own change feed (refresh_aggregate, keyed by the pair
    key). After churn on both base tables, the rollup equals a direct
    groupBy over the full recomputed join — the incremental
    star-schema pipeline end to end, no full rescan anywhere."""
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        refresh_aggregate,
        refresh_join,
    )

    a = SnapshotTable(spark, str(tmp_path / "sa"))
    b = SnapshotTable(spark, str(tmp_path / "sb"))
    view = SnapshotTable(spark, str(tmp_path / "sv"))
    agg = SnapshotTable(spark, str(tmp_path / "sg"))
    a.append(spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(40)],
        "ak long, j long, cents long",
    ))
    b.append(spark.createDataFrame(
        [(j, f"seg{j % 2}") for j in range(4)], "j long, seg string"
    ))

    def refresh_all():
        refresh_join(a, b, view, ["ak"], ["j"], ["j"])
        refresh_aggregate(view, agg, ["ak", "j"], ["seg"], ["cents"])

    def want():
        return {
            r.seg: (r.cnt, r.s)
            for r in a.read().join(b.read(), ["j"])
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("cents").alias("s"))
            .collect()
        }

    refresh_all()
    assert {
        r.seg: (r.cnt, r.sum_cents) for r in agg.read().collect()
    } == want()

    # churn: fact update + delete, dim re-segmentation
    a.merge_into(spark.createDataFrame(
        [(3, 3, 999), (100, 1, 5)], "ak long, j long, cents long"
    ), ["ak"])
    a.delete_where("ak % 5 = 0")
    b.merge_into(spark.createDataFrame(
        [(2, "seg9")], "j long, seg string"
    ), ["j"])
    refresh_all()
    assert {
        r.seg: (r.cnt, r.sum_cents) for r in agg.read().collect()
    } == want()
    # the rollup refresh consumed the view's CDC, not a view rescan:
    # its last commit is an overwrite sized by groups (3 segments)
    assert agg.history()[-1]["rows_added"] <= 3


def test_dml_prune_hint_bounds_the_match_scan(spark, tmp_path):
    """A point DELETE/UPDATE with a prune_hint opens only the files
    the stats + blooms cannot exclude (last_dml_stats witness), with
    results identical to the unhinted predicate; a hint proving no
    file can match is a version-free no-op."""
    t = SnapshotTable(spark, str(tmp_path / "dh"),
                      stat_cols=["k"], bloom_cols=["k"])
    for lo in (0, 1000, 2000, 3000):
        t.append(_df(spark, lo, lo + 500).coalesce(1))
    assert len(t._live_files()) == 4

    t.delete_where("k = 2123", prune_hint=[("k", [2123])], mode="mor")
    assert t.last_dml_stats == {"live": 4, "scanned": 1}
    assert t.read().where(F.col("k") == 2123).count() == 0
    assert t.read().count() == 1999

    t.update_where("k = 77", {"tag": "'hit'"},
                   prune_hint=[("k", [77])])
    assert t.last_dml_stats["scanned"] == 1
    assert {r.tag for r in t.read().where(F.col("k") == 77).collect()} \
        == {"hit"}

    # range hints prune on stats (disjoint append ranges)
    v = t.latest_version()
    t.delete_where("k BETWEEN 400 AND 420",
                   prune_hint=[("k", 400, 420)])
    assert t.last_dml_stats["scanned"] == 1
    assert t.read().where(F.col("k").between(400, 420)).count() == 0

    # a hint excluding every file: no new version at all
    v = t.latest_version()
    t.delete_where("k = 999999", prune_hint=[("k", [999999])])
    assert t.latest_version() == v
    assert t.last_dml_stats["scanned"] == 0


def test_restore_rolls_back_with_one_metadata_commit(spark, tmp_path):
    """RESTORE: a bad batch is undone by re-committing the old file
    entries — no data rewrite; MoR masks restore bit-exactly; the
    undone versions stay time-travel readable; the CDC across the
    restore is the rollback diff; vacuum spares every referenced
    file."""
    t = SnapshotTable(spark, str(tmp_path / "rst"))
    t.append(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.delete_where("k = 2", mode="mor")       # v1: masked snapshot
    good = sorted((r.k, r.val) for r in t.read().collect())
    v_good = t.latest_version()
    # the bad batch: merge mangles values, a delete drops a row
    t.merge_into(_kv(spark, [(1, "MANGLED"), (9, "junk")]), ["k"])
    t.delete_where("k = 3")
    n_files_before = len(os.listdir(tmp_path / "rst" / "data"))

    v_r = t.restore(v_good)
    assert v_r == t.latest_version()
    assert sorted((r.k, r.val) for r in t.read().collect()) == good
    # metadata-only: no new data files were written by the restore
    assert len(os.listdir(tmp_path / "rst" / "data")) == n_files_before
    # the mangled versions remain readable history
    assert {r.val for r in t.read(version=v_r - 1).collect()} \
        == {"MANGLED", "junk"}
    # CDC across the restore = the rollback diff
    cdc = t.changes(v_r - 1, v_r, ["k"])
    types = {(r.k, r._change_type) for r in cdc.collect()}
    assert (9, "delete") in types and (3, "insert") in types
    assert (1, "update_postimage") in types
    # restoring the head again is a no-op commit-wise
    assert t.restore(t.latest_version()) == v_r
    # vacuum never touches referenced files; reads stay intact after
    t.vacuum(grace_seconds=0.0)
    assert sorted((r.k, r.val) for r in t.read().collect()) == good


def test_bloom_cols_persist_as_table_property(spark, tmp_path):
    """The indexing writer stamps bloom_cols as a table property, so
    a bloom-UNAWARE handle (a generic maintenance job) rebuilds
    sidecars when it rewrites files instead of silently shedding the
    index — and the index still prunes through that plain handle."""
    path = str(tmp_path / "bp")
    t = SnapshotTable(spark, path, bloom_cols=["k"])
    for lo in (0, 1000, 2000, 3000):
        t.append(_df(spark, lo, lo + 400).coalesce(1))
    assert t.properties_at()["bloom_cols"] == "k"
    plain = SnapshotTable(spark, path)
    plain.compact(target_files=2)
    live = plain._live_files()
    assert len(live) == 2
    bdir = tmp_path / "bp" / "data" / "_bloom"
    assert all((bdir / (f + ".bloom")).exists() for f in live)
    kept = plain._bloom_keep_files(live, [("k", [2123])], None)
    assert 1 <= len(kept) <= 2
    hit = plain.read(bloom=[("k", [2123])]).where(F.col("k") == 2123)
    assert hit.count() == 1


def test_stat_cols_persist_as_table_property(spark, tmp_path):
    """Symmetric to the bloom property: a plain handle's compaction
    keeps writing manifest min/max stats for the stamped stat_cols,
    so stat pruning survives maintenance by a generic job."""
    path = str(tmp_path / "sp2")
    t = SnapshotTable(spark, path, stat_cols=["k"])
    t.append(_df(spark, 0, 100, "lo").coalesce(1))
    t.append(_df(spark, 1000, 1100, "hi").coalesce(1))
    assert t.properties_at()["stat_cols"] == "k"
    plain = SnapshotTable(spark, path)
    plain.compact(target_files=2, cluster_by=["k"])
    live = plain._live_files()
    assert all("k" in e["stats"] for e in live.values())
    lo = plain.read(prune=[("k", 0, 50)])
    assert len(lo.inputFiles()) < 2
    assert lo.where(F.col("k") <= 50).count() == 51


def test_detail_reports_operational_state(spark, tmp_path):
    """DESCRIBE DETAIL: live footprint, MoR debt, maintained columns,
    properties — all from metadata, and consistent before/after a
    mask-retiring compaction."""
    t = SnapshotTable(spark, str(tmp_path / "dd"),
                      stat_cols=["k"], bloom_cols=["k"])
    assert t.detail()["num_files"] == 0
    t.append(_df(spark, 0, 100).coalesce(1))
    t.append(_df(spark, 100, 200).coalesce(1))
    t.delete_where("k = 5", mode="mor")
    d = t.detail()
    assert d["version"] == 2 and d["num_files"] == 2
    # num_rows is LOGICAL (physical minus DV-masked); the physical
    # count and the masked debt are reported separately
    assert d["num_rows"] == 199
    assert d["physical_rows"] == 200 and d["dv_masked_rows"] == 1
    assert d["size_bytes"] > 0 and d["num_dv_files"] == 1
    assert d["stat_cols"] == ["k"] and d["bloom_cols"] == ["k"]
    assert d["properties"]["bloom_cols"] == "k"
    t.compact(target_files=1)
    d2 = t.detail()
    assert d2["num_files"] == 1 and d2["num_dv_files"] == 0
    assert d2["num_rows"] == 199  # the mask is materialized away


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """CHECK constraints (Delta-style): added only if existing rows
    pass, stored as versioned properties (every handle enforces),
    gating appends, overwrites, merge postimages/inserts, and UPDATE
    SET results; delete needs no gate; drop re-allows."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        ExpectationViolation,
    )

    path = str(tmp_path / "ck")
    t = SnapshotTable(spark, path)
    t.append(_kv(spark, [(1, "a"), (2, "b")]))
    with pytest.raises(ExpectationViolation):
        t.add_constraint("k_small", "k < 2")  # existing row violates
    t.add_constraint("k_pos", "k > 0")
    assert t.constraints() == {"k_pos": "k > 0"}

    with pytest.raises(ExpectationViolation):
        t.append(_kv(spark, [(-1, "bad")]))
    # a DIFFERENT handle enforces too (property-carried)
    with pytest.raises(ExpectationViolation):
        SnapshotTable(spark, path).append(_kv(spark, [(0, "bad")]))
    t.append(_kv(spark, [(3, "c")]))

    with pytest.raises(ExpectationViolation):
        t.merge_into(_kv(spark, [(-7, "ins")]), ["k"])
    with pytest.raises(ExpectationViolation):
        t.merge_into(_kv(spark, [(1, "upd"), (-7, "x")]), ["k"],
                     mode="mor")
    with pytest.raises(ExpectationViolation):
        t.update_where("k = 1", {"k": "-9"})
    with pytest.raises(ExpectationViolation):
        t.update_where("k = 1", {"k": "-9"}, mode="mor")
    # delete-only merges and predicate deletes write nothing new
    t.merge_into(spark.createDataFrame([(2,)], "k long"), ["k"],
                 when_matched="delete", insert_not_matched=False)
    t.delete_where("k = 3")
    assert sorted(r.k for r in t.read().collect()) == [1]

    t.drop_constraint("k_pos")
    assert t.constraints() == {}
    t.append(_kv(spark, [(-1, "ok now")]))
    assert sorted(r.k for r in t.read().collect()) == [-1, 1]


def test_update_where_set_reads_pre_update_row(spark, tmp_path):
    """SQL UPDATE semantics: the condition and every SET expression
    see the PRE-update row — an assignment to a column the condition
    or another expression reads must not leak its new value (both
    modes)."""
    for mode in ("cow", "mor"):
        t = SnapshotTable(spark, str(tmp_path / f"pre_{mode}"))
        t.append(spark.createDataFrame(
            [(1, 5, 0), (2, 50, 0)], "k long, val long, twice long"
        ))
        # cond reads val; SET changes val AND derives twice from val
        t.update_where(
            "val < 10", {"val": "val + 100", "twice": "val * 2"},
            mode=mode,
        )
        rows = {r.k: (r.val, r.twice) for r in t.read().collect()}
        assert rows == {1: (105, 10), 2: (50, 0)}, mode


def test_constraints_gate_view_refresh(spark, tmp_path):
    """The join-view refresh, a write path with its own staging, honors
    CHECK constraints too."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        ExpectationViolation,
        refresh_join,
    )

    a = SnapshotTable(spark, str(tmp_path / "cva"))
    b = SnapshotTable(spark, str(tmp_path / "cvb"))
    view = SnapshotTable(spark, str(tmp_path / "cvv"))
    a.append(spark.createDataFrame(
        [(1, 0, 5)], "ak long, j long, aval long"
    ))
    b.append(spark.createDataFrame([(0, 1)], "j long, bval long"))
    refresh_join(a, b, view, ["ak"], ["j"], ["j"])
    view.add_constraint("aval_pos", "aval > 0")
    a.merge_into(spark.createDataFrame(
        [(2, 0, -1)], "ak long, j long, aval long"
    ), ["ak"])
    with pytest.raises(ExpectationViolation):
        refresh_join(a, b, view, ["ak"], ["j"], ["j"])


def test_generated_columns_materialize_and_prune(spark, tmp_path):
    """Generated columns (Delta-style): a write missing the column
    gets it materialized from its expression; the property persists so
    other handles generate too (merge sources included); listing the
    generated column in stat_cols makes reads prune on the coarse
    derivation of a fine column."""
    path = str(tmp_path / "gen")
    t = SnapshotTable(
        spark, path,
        stat_cols=["bucket"],
        generated_cols={"bucket": "k div 1000"},
    )
    t.append(_df(spark, 0, 500).coalesce(1))
    t.append(_df(spark, 1000, 1500).coalesce(1))
    assert {r.bucket for r in t.read().collect()} == {0, 1}
    assert t.properties_at()["generated.bucket"] == "k div 1000"
    # pruning on the generated column
    lo = t.read(prune=[("bucket", [0])])
    assert len(lo.inputFiles()) == 1
    assert lo.count() == 500
    # a generated-col-unaware handle still materializes (property) —
    # both for appends and merge sources
    plain = SnapshotTable(spark, path)
    plain.append(_df(spark, 2000, 2100).coalesce(1))
    plain.merge_into(
        spark.createDataFrame([(1200, "upd"), (3001, "new")],
                              "k long, tag string"),
        ["k"],
    )
    rows = {r.k: r.bucket for r in plain.read().collect()}
    assert rows[2050] == 2 and rows[3001] == 3 and rows[1200] == 1
    # a write that SUPPLIES the column is trusted as-is
    t.append(spark.createDataFrame(
        [(9000, "x", 42)], "k long, tag string, bucket long"
    ))
    assert {r.bucket for r in t.read().where(F.col("k") == 9000)
            .collect()} == {42}


# ---------------- timestamp time travel ----------------


def test_commit_timestamps_monotone_and_in_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ts1"))
    for i in range(4):  # rapid commits — wall clock may not tick
        t.append(_df(spark, i * 10, i * 10 + 3))
    ts = [e["ts"] for e in t.history()]
    assert all(isinstance(x, float) for x in ts)
    # strictly increasing even for same-wall-tick commits (the
    # max(now, prev+1ms) stamp)
    assert all(b > a for a, b in zip(ts, ts[1:]))


def test_read_by_timestamp_matches_version(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ts2"))
    t.append(_df(spark, 0, 10, "a"))
    t.delete_where("k >= 5")
    t.append(_df(spark, 100, 102, "b"))
    ts = [e["ts"] for e in t.history()]
    # at each commit instant the table is that commit's snapshot
    for v, stamp in enumerate(ts):
        assert (
            t.read(timestamp=stamp).count()
            == t.read(version=v).count()
        )
    # between commits -> the earlier version; after head -> head
    assert t.read(timestamp=(ts[0] + ts[1]) / 2).count() == 10
    assert t.read(timestamp=ts[-1] + 1e6).count() == 7
    assert t.version_at_timestamp(ts[-1] + 1e6) == 2
    # before the first commit -> error
    with pytest.raises(ValueError, match="predates"):
        t.version_at_timestamp(ts[0] - 1.0)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=0, timestamp=ts[0])


def test_timestamp_travel_survives_retention_edge(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ts3"), checkpoint_every=2)
    for i in range(5):
        t.append(_df(spark, i * 10, i * 10 + 2))
    ts = [e["ts"] for e in t.history()]
    t.expire_versions(keep_last=2)
    # expired instants now raise (their manifests are gone) ...
    with pytest.raises(ValueError, match="predates|expired"):
        t.version_at_timestamp(ts[0])
    # ... while retained instants still resolve
    v = t.version_at_timestamp(ts[-1])
    assert v == 4 and t.read(timestamp=ts[-1]).count() == 10


def test_sql_view_at_timestamp(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ts4"))
    t.append(_df(spark, 0, 6, "a"))
    t.overwrite(_df(spark, 0, 2, "b"))
    stamp = t.history()[0]["ts"]
    t.register_view("ts_view_past", timestamp=stamp)
    t.register_view("ts_view_now")
    assert spark.sql("SELECT count(*) c FROM ts_view_past").first().c == 6
    assert spark.sql("SELECT count(*) c FROM ts_view_now").first().c == 2


# ---------------- shallow clone ----------------


def test_shallow_clone_reads_pinned_state_zero_copy(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "csrc"))
    src.append(_df(spark, 0, 10, "a"))
    src.delete_where("k >= 8", mode="mor")  # clone must carry DVs
    clone = src.clone_to(str(tmp_path / "cdst"))
    assert sorted(r.k for r in clone.read().collect()) == list(range(8))
    # zero data copied: the clone's data dir has no parquet at all
    ddir = tmp_path / "cdst" / "data"
    assert not ddir.is_dir() or not [
        f for f in os.listdir(ddir) if f.endswith(".parquet")
    ]
    assert clone.history()[0]["op"] == "clone"
    # clone at a past version pins THAT state
    old = src.clone_to(str(tmp_path / "cdst0"), version=0)
    assert old.read().count() == 10


def test_clone_diverges_both_ways(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "dsrc"))
    src.append(_df(spark, 0, 6, "a"))
    clone = src.clone_to(str(tmp_path / "ddst"))
    clone.append(_df(spark, 100, 103, "b"))
    clone.delete_where("k < 2")  # COW rewrite of an inherited file
    src.append(_df(spark, 200, 210, "c"))
    assert sorted(r.k for r in clone.read().collect()) == [
        2, 3, 4, 5, 100, 101, 102
    ]
    assert src.read().count() == 16  # clone's DML never reached src
    # the COW rewrite landed in the CLONE's data dir
    assert [
        f for f in os.listdir(tmp_path / "ddst" / "data")
        if f.endswith(".parquet")
    ]


def test_clone_vacuum_never_touches_source(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "vsrc"))
    src.append(_df(spark, 0, 6, "a").coalesce(1))
    clone = src.clone_to(str(tmp_path / "vdst"))
    clone.overwrite(_df(spark, 0, 1, "b"))  # inherited refs dropped
    clone.expire_versions(keep_last=1, grace_seconds=0.0)
    clone.vacuum(grace_seconds=0.0)
    assert src.read().count() == 6  # source files physically intact
    # materialize: compact localizes everything still referenced
    clone2 = src.clone_to(str(tmp_path / "vdst2"))
    clone2.compact(target_files=1)
    assert all(
        str(tmp_path / "vsrc") not in f
        for f in clone2.read().inputFiles()
    )
    assert clone2.read().count() == 6


def test_clone_keeps_bloom_prunes(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "bsrc"),
                        bloom_cols=["k"], stat_cols=["k"])
    src.append(_df(spark, 0, 500).repartition(4, "k"))
    clone = src.clone_to(str(tmp_path / "bdst"))
    probe = clone.read(bloom=[("k", [123])])
    assert len(probe.inputFiles()) < 4  # sidecars found at the source
    assert probe.filter(F.col("k") == 123).count() == 1


def test_clone_at_timestamp_and_conflicts(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "tsrc"))
    src.append(_df(spark, 0, 4, "a"))
    stamp = src.history()[0]["ts"]
    src.append(_df(spark, 4, 9, "b"))
    clone = src.clone_to(str(tmp_path / "tdst"), timestamp=stamp)
    assert clone.read().count() == 4
    with pytest.raises(SnapshotConflict):
        src.clone_to(str(tmp_path / "tdst"))  # occupied destination


# -------- timestamp CDC, vacuum dry-run, scoped compact, WAP --------


def test_changes_between_timestamps(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ctt"))
    t.append(_df(spark, 0, 6, "a"))
    t.merge_into(
        spark.createDataFrame([(2, "upd"), (99, "new")],
                              "k long, tag string"),
        ["k"],
    )
    h = t.history()
    ch = t.changes_between_timestamps(h[0]["ts"], h[-1]["ts"], ["k"])
    kinds = {(r.k, r._change_type) for r in ch.collect()}
    assert (99, "insert") in kinds
    assert (2, "update_preimage") in kinds
    assert (2, "update_postimage") in kinds


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "vdr"))
    t.append(_df(spark, 0, 5, "a").coalesce(1))
    # strand an unreferenced file
    stray = tmp_path / "vdr" / "data" / "deadbeef0000-stray.parquet"
    _df(spark, 0, 1).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "straytmp")
    )
    import shutil

    src = next(
        f for f in os.listdir(tmp_path / "straytmp")
        if f.endswith(".parquet")
    )
    shutil.copy(tmp_path / "straytmp" / src, stray)
    would = t.vacuum(grace_seconds=0.0, dry_run=True)
    assert would == [stray.name] and stray.exists()  # nothing deleted
    gone = t.vacuum(grace_seconds=0.0)
    assert gone == would and not stray.exists()


def test_compact_where_rewrites_only_matching_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cw"), stat_cols=["k"])
    t.append(_df(spark, 0, 400).repartitionByRange(8, "k"))
    before = set(t._live_files())
    assert len(before) == 8
    v = t.compact(target_files=1, where=[("k", 0, 99)])
    assert v is not None
    after = t._live_files()
    # only the ~2 low-range files were rewritten; the rest untouched
    untouched = before & set(after)
    assert len(untouched) >= 5
    assert t.read().count() == 400
    # the scoped rewrite preserved content exactly
    assert sorted(r.k for r in t.read().collect()) == list(range(400))
    # a predicate selecting nothing is a no-op
    assert t.compact(target_files=1, where=[("k", 10_000, 10_001)]) is None


def test_publish_from_clone_wap_cycle(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "wsrc"))
    src.append(_df(spark, 0, 10, "a").coalesce(2))
    clone = src.clone_to(str(tmp_path / "wclone"))
    # WRITE on the branch: append + a MoR delete of an inherited file
    clone.append(_df(spark, 100, 103, "new"))
    clone.delete_where("k >= 8 and k < 10", mode="mor")
    # AUDIT passes -> PUBLISH
    expected = sorted(r.k for r in clone.read().collect())
    v = src.publish_from(clone)
    assert src.latest_version() == v
    assert sorted(r.k for r in src.read().collect()) == expected
    assert src.history()[-1]["op"] == "publish"
    # time travel still shows the pre-publish source
    assert src.read(version=v - 1).count() == 10
    # adopted files physically live in the source's data dir now
    assert all(
        str(tmp_path / "wsrc") in f for f in src.read().inputFiles()
    )
    # hardlink adoption: the clone is STILL readable after publish
    assert sorted(r.k for r in clone.read().collect()) == expected


def test_publish_conflict_restores_clone(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "psrc"))
    src.append(_df(spark, 0, 10, "a").coalesce(1))
    clone = src.clone_to(str(tmp_path / "pclone"))
    clone.append(_df(spark, 100, 105, "branch"))
    # concurrent source commit invalidates the clone's premise
    src.delete_where("k < 3")
    with pytest.raises(SnapshotConflict, match="re-clone"):
        src.publish_from(clone)
    # the clone survived the failed publish intact
    assert clone.read().count() == 15
    assert src.read().count() == 7  # source untouched by the attempt


def test_publish_conflicts_on_concurrent_append(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "casrc"))
    src.append(_df(spark, 0, 10, "a").coalesce(1))
    clone = src.clone_to(str(tmp_path / "caclone"))
    clone.append(_df(spark, 100, 103, "branch"))
    src.append(_df(spark, 50, 55, "concurrent"))  # post-fork append
    with pytest.raises(SnapshotConflict, match="advanced since"):
        src.publish_from(clone)
    assert src.read().count() == 15  # nothing lost
    assert clone.read().count() == 13  # clone intact
    # the explicit rebase keeps BOTH the append and the branch work
    v = src.publish_from(clone, allow_unrelated_appends=True)
    assert src.latest_version() == v
    assert sorted(r.k for r in src.read().collect()) == (
        list(range(10)) + list(range(50, 55)) + [100, 101, 102]
    )


def test_publish_not_a_clone_of_this_table(spark, tmp_path):
    a = SnapshotTable(spark, str(tmp_path / "na"))
    a.append(_df(spark, 0, 3, "a"))
    b = SnapshotTable(spark, str(tmp_path / "nb"))
    b.append(_df(spark, 0, 3, "b"))
    with pytest.raises(ValueError, match="clone of THIS table"):
        a.publish_from(b)
    clone_of_b = b.clone_to(str(tmp_path / "nc"))
    with pytest.raises(ValueError, match="clone of THIS table"):
        a.publish_from(clone_of_b)


def test_change_feed_keeps_intermediate_transitions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cfd"))
    t.append(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    t.merge_into(spark.createDataFrame([(1, 11)], "k long, v long"),
                 ["k"])  # v1: update 1
    t.merge_into(spark.createDataFrame([(1, 12)], "k long, v long"),
                 ["k"])  # v2: update 1 again
    t.delete_where("k = 2")  # v3
    # net diff collapses the double update into one pre/post pair
    net = {(r.k, r._change_type, r.v)
           for r in t.changes(0, 3, ["k"]).collect()}
    assert net == {
        (1, "update_preimage", 10), (1, "update_postimage", 12),
        (2, "delete", 20),
    }
    # the per-commit feed keeps every transition, version-stamped
    feed = {(r.k, r._change_type, r.v, r._commit_version)
            for r in t.change_feed(0, 3, ["k"]).collect()}
    assert feed == {
        (1, "update_preimage", 10, 1), (1, "update_postimage", 11, 1),
        (1, "update_preimage", 11, 2), (1, "update_postimage", 12, 2),
        (2, "delete", 20, 3),
    }
    with pytest.raises(ValueError, match="v_from < v_to"):
        t.change_feed(3, 3, ["k"])


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_cdf_capture_matches_diff_feed_exactly(spark, tmp_path):
    """Twin tables, same op sequence: one captures change-data files
    at commit time (cdf=True), one derives everything by per-commit
    diff. The feeds must be row-identical — capture is a FAST PATH,
    never a semantics change."""
    ops = [
        ("append", None),
        ("merge_cow", [(1, 111), (50, 500)]),
        ("merge_mor", [(2, 222), (60, 600)]),
        ("delete_cow", "k % 9 = 0"),
        ("update_mor", ("k % 4 = 1", {"v": "v + 1000"})),
        ("delete_mor", "k = 3"),
        ("update_cow", ("k = 5", {"v": "v * 2"})),
    ]
    tables = {}
    for name, cdf in (("plain", False), ("cdf", True)):
        t = SnapshotTable(spark, str(tmp_path / name), cdf=cdf)
        for op, arg in ops:
            if op == "append":
                t.append(spark.createDataFrame(
                    [(k, k * 10) for k in range(20)], "k long, v long"
                ).coalesce(2))
            elif op.startswith("merge"):
                t.merge_into(
                    spark.createDataFrame(arg, "k long, v long"),
                    ["k"], mode=op.split("_")[1],
                )
            elif op.startswith("delete"):
                t.delete_where(arg, mode=op.split("_")[1])
            else:
                cond, assign = arg
                t.update_where(cond, assign, mode=op.split("_")[1])
        tables[name] = t
    head = tables["plain"].latest_version()
    assert tables["cdf"].latest_version() == head
    feeds = {
        name: sorted(
            (r.k, r.v, r._change_type, r._commit_version)
            for r in t.change_feed(0, head, ["k"]).collect()
        )
        for name, t in tables.items()
    }
    assert feeds["cdf"] == feeds["plain"]
    assert len(feeds["cdf"]) > 10  # the sequence really churned
    # the cdf table actually captured files (not silently diffing)
    caps = [
        v for v in range(1, head + 1)
        if tables["cdf"]._read_manifest(v).get("cdc")
    ]
    assert len(caps) == 6  # every DML commit (not the append)
    # ... and the final states agree too
    assert sorted(map(tuple, tables["cdf"].read().collect())) == \
        sorted(map(tuple, tables["plain"].read().collect()))


def test_cdf_files_survive_retention_with_their_manifest(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cdr"), cdf=True,
                      checkpoint_every=2)
    t.append(spark.createDataFrame(
        [(k, k) for k in range(10)], "k long, v long"
    ))
    for i in range(4):
        t.update_where(f"k = {i}", {"v": f"v + {100 * (i + 1)}"})
    t.expire_versions(keep_last=2, grace_seconds=0.0)
    t.vacuum(grace_seconds=0.0)
    head = t.latest_version()
    # retained commits still serve their captured change rows
    feed = t.change_feed(head - 2, head, ["k"])
    kinds = {(r.k, r._change_type, r._commit_version)
             for r in feed.collect()}
    assert (2, "update_preimage", 3) in kinds
    assert (3, "update_postimage", 4) in kinds
    # expired commits' cdc files are gone from disk (garbage), and
    # a property-advertised handle keeps capturing without cdf=True
    plain = SnapshotTable(spark, str(tmp_path / "cdr"))
    v = plain.update_where("k = 9", {"v": "v + 1"})
    assert plain._read_manifest(v).get("cdc")


def test_concurrent_publishes_one_wins_one_conflicts(spark, tmp_path):
    """Two branches fork the same source version and race to publish:
    exactly one lands; the loser's fast-forward check sees the winner's
    commit and conflicts with its clone intact — never a silent merge
    of both branches' removes."""
    src = SnapshotTable(spark, str(tmp_path / "rpsrc"))
    src.append(_df(spark, 0, 10, "a").coalesce(1))
    c1 = src.clone_to(str(tmp_path / "rp1"))
    c2 = src.clone_to(str(tmp_path / "rp2"))
    c1.append(_df(spark, 100, 103, "b1"))
    c2.append(_df(spark, 200, 205, "b2"))
    outcomes: dict[int, str] = {}

    def publish(i, clone):
        try:
            src.publish_from(clone)
            outcomes[i] = "published"
        except SnapshotConflict:
            outcomes[i] = "conflict"

    ts = [
        threading.Thread(target=publish, args=(1, c1)),
        threading.Thread(target=publish, args=(2, c2)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(outcomes.values()) == ["conflict", "published"]
    winner = 1 if outcomes[1] == "published" else 2
    expect = 13 if winner == 1 else 15
    assert src.read().count() == expect
    # the losing branch is intact and can re-fork cleanly
    loser = c2 if winner == 1 else c1
    assert loser.read().count() in (13, 15)
    d = src.detail()
    assert d["num_cdc_files"] == 0 and d["version"] == 1


def test_type_widening_append_int_then_long(spark, tmp_path):
    """Safe type widening (Delta/Iceberg rules): a long batch widens an
    int column's table type; old int-physical files upcast at read."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SchemaConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "tw"), stat_cols=["k"])
    t.append(
        spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("x"),
        )
    )
    t.append(
        spark.range(10, 15).select(
            F.col("id").alias("k"),  # long widens int
            F.col("id").cast("double").alias("x"),  # double widens float
        )
    )
    df = t.read()
    assert dict(df.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted(r.k for r in df.collect()) == list(range(15))
    # narrower-than-table batches keep the wide table type
    t.append(
        spark.range(15, 18).select(
            F.col("id").cast("short").alias("k"),
            F.col("id").cast("float").alias("x"),
        )
    )
    assert dict(t.read().dtypes) == {"k": "bigint", "x": "double"}
    assert t.read().count() == 18
    # incompatible evolution still refused
    with pytest.raises(SchemaConflict):
        t.append(
            spark.range(1).select(
                F.col("id").cast("string").alias("k"),
                F.col("id").cast("double").alias("x"),
            )
        )
    # stat prune still works across mixed physical widths
    live = t._live_files()
    pruned = t._apply_prunes(live, [("k", 11, 12)], None, None)
    assert 0 < len(pruned) < len(live)


def test_type_widening_through_merge_mor(spark, tmp_path):
    """A MERGE whose source widens a column must not downcast the
    source into the old type (silent overflow territory): the table
    widens and merge-on-read postimages carry the wide type."""
    t = SnapshotTable(spark, str(tmp_path / "tm"))
    t.append(
        spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("int").alias("v"),
        )
    )
    big = 3_000_000_000  # overflows int32
    src = spark.createDataFrame([(5, big), (100, big)], "k long, v long")
    t.merge_into(src, ["k"], when_matched="update", mode="mor")
    df = t.read()
    assert dict(df.dtypes)["v"] == "bigint"
    rows = {r.k: r.v for r in df.collect()}
    assert rows[5] == big and rows[100] == big and rows[4] == 4
    assert df.count() == 11


def test_vacuum_keeps_dvs_referenced_by_publish(spark, tmp_path):
    """restore/publish manifests re-reference deletion vectors INSIDE
    their add entries (no dv_adds of their own); vacuum/expire must
    count those as reachable or they delete live DV files and wedge
    every read of the published head."""
    t = SnapshotTable(spark, str(tmp_path / "src"))
    t.append(_df(spark, 0, 50, "a").repartition(2))
    c = t.clone_to(str(tmp_path / "c"))
    c.delete_where("k % 5 = 0", mode="mor")  # DV minted in the clone
    t.publish_from(c)
    assert t.read().count() == 40
    # age every file past the grace window, then sweep
    import time as _time
    now = _time.time()
    for root, _dirs, files in os.walk(t.path):
        for f in files:
            os.utime(os.path.join(root, f), (now - 7200, now - 7200))
    deleted = t.vacuum(grace_seconds=3600.0)
    # the published head must still read (DV intact)
    assert t.read().count() == 40
    assert all(not d.endswith(".parquet") or "dv" not in d.lower()
               for d in deleted)
    # and expire_versions must protect it too
    t.append(_df(spark, 100, 101, "b"))
    t.expire_versions(keep_last=1, grace_seconds=0.0)
    assert SnapshotTable(spark, t.path).read().count() == 41


def test_schema_survives_retention_via_checkpoint(spark, tmp_path):
    """The newest schema-recording manifest can be expired while later
    metadata-only commits (constraints) survive; the checkpoint at the
    retention cutoff must carry the schema so reads keep the
    evolution/null-fill contract instead of degrading to footer
    inference."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))  # v0 records the schema
    # evolve: a second append with an extra column; old files null-fill
    t.append(
        spark.range(10, 15).select(
            F.col("id").alias("k"), F.lit("b").alias("tag"),
            F.lit(1.5).alias("score"),
        )
    )  # v1 records the evolved schema
    t.add_constraint("k_pos", "k >= 0")  # v2: metadata-only, no schema
    t.drop_constraint("k_pos")  # v3: metadata-only
    t.expire_versions(keep_last=2, grace_seconds=0.0)
    t2 = SnapshotTable(spark, t.path)  # fresh handle, no memos
    df = t2.read()
    assert df.columns == ["k", "tag", "score"]
    rows = {r.k: r.score for r in df.collect()}
    assert rows[0] is None and rows[12] == 1.5


def test_commit_backend_no_torn_manifest(tmp_path):
    """put_if_absent must never leave a half-written manifest under
    the target name: payload goes to a tmp file first, then links
    into place (loser's tmp is removed; tmp names never parse as
    versions)."""
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        LocalFSCommitBackend,
    )

    b = LocalFSCommitBackend()
    p = str(tmp_path / "00000000.json")
    assert b.put_if_absent(p, b'{"v": 1}') is True
    assert open(p).read() == '{"v": 1}'
    # a loser does not clobber and leaves no droppings
    assert b.put_if_absent(p, b'{"v": 2}') is False
    assert open(p).read() == '{"v": 1}'
    assert [f for f in os.listdir(tmp_path) if f.endswith(".tmp")] == []


def test_detail_reports_dv_masked_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100, "a"))
    t.delete_where("k % 4 = 0", mode="mor")
    d = t.detail()
    assert d["dv_masked_rows"] == 25
    assert d["num_rows"] == 75  # logical, not physical
    assert d["physical_rows"] == 100
    assert d["num_dv_files"] == 1


def test_vacuum_sweeps_crashed_stage_dirs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"))
    # simulate a writer that died mid-_stage
    crashed = os.path.join(t.path, ".stage-deadbeef")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-0.parquet"), "wb") as fh:
        fh.write(b"partial")
    old = __import__("time").time() - 7200
    os.utime(crashed, (old, old))
    swept = t.vacuum(grace_seconds=3600.0)
    assert ".stage-deadbeef/" in swept
    assert not os.path.exists(crashed)
    # a FRESH stage dir (possible in-flight writer) survives
    fresh = os.path.join(t.path, ".stage-cafebabe")
    os.makedirs(fresh)
    t.vacuum(grace_seconds=3600.0)
    assert os.path.exists(fresh)


def test_vacuum_sweeps_stranded_commit_log_temps(spark, tmp_path):
    """ADVICE r9: a writer hard-crashing between its tmp manifest /
    checkpoint write and the link/rename strands '<name>.<hex>.tmp'
    in _log/ forever (committed names never end in .tmp, so nothing
    references them). Vacuum ages them out on the crash-garbage grace
    window — and spares FRESH temps, which may be a racing writer
    mid-commit."""
    path = str(tmp_path / "logtmp")
    t = SnapshotTable(spark, path)
    t.append(_kv(spark, [(1, "a")]))
    log_dir = os.path.join(path, "_log")
    stale = os.path.join(log_dir, "00000007.json.deadbeef.tmp")
    fresh = os.path.join(log_dir, "00000008.json.cafef00d.tmp")
    for p in (stale, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    os.utime(stale, (0, 0))
    dropped = t.vacuum()  # default grace: only the aged temp goes
    assert os.path.basename(stale) in dropped
    assert not os.path.exists(stale) and os.path.exists(fresh)
    # the table still reads fine and a new commit lands normally
    t.append(_kv(spark, [(2, "b")]))
    assert t.read().count() == 2


def test_read_zero_live_files_is_empty_frame(spark, tmp_path):
    """r10 review: a COMMITTED table with zero live files — an empty
    first append through the format, or DML that deleted every row —
    reads as an empty frame with the committed schema; only a table
    with no committed version at all still raises."""
    import pytest as _pytest

    from data_engineering_pipeline_spark.sources import (
        spark_datasource as sds,
    )

    # uncommitted table still raises
    t0 = SnapshotTable(spark, str(tmp_path / "never"))
    with _pytest.raises(ValueError, match="no committed version"):
        t0.read()

    # empty append through the format: version 0 commits, read is empty
    sds.register(spark)
    p = str(tmp_path / "t")
    empty = spark.createDataFrame([], "a long, b string")
    empty.write.format(sds.FORMAT_NAME).option("path", p).mode(
        "append"
    ).save()
    got = SnapshotTable(spark, p).read()
    assert got.columns == ["a", "b"]
    assert got.count() == 0

    # delete-everything leaves a readable empty table
    p2 = str(tmp_path / "t2")
    t2 = SnapshotTable(spark, p2)
    t2.append(spark.createDataFrame([(1, "x")], "a long, b string"))
    t2.delete_where("a >= 0")
    got2 = t2.read()
    assert got2.columns == ["a", "b"]
    assert got2.count() == 0


# ---------------- single-column clustering (r12 VERDICT item 1) ----


def test_compact_single_col_clustering_tightens_stats(spark, tmp_path):
    """compact(cluster_by=[one col]) must range-partition + sort
    EXACTLY (no Z-order grid): the rewritten files' manifest [min,max]
    on the cluster column are pairwise DISJOINT, so a keyed merge can
    stat-prune to the true footprint with no bloom sidecars at all."""
    t = SnapshotTable(spark, str(tmp_path / "cl1"), stat_cols=["k"])
    # four appends in interleaved key order: every file spans the
    # whole domain before compaction
    for off in range(4):
        t.append(
            spark.range(0, 1000).select(
                (F.col("id") * 4 + off).alias("k"),
                F.lit(f"b{off}").alias("tag"),
            ).repartition(4)
        )
    live0 = t._live_files()
    spans0 = [e["stats"]["k"] for e in live0.values()]
    assert all(s[0] < 1000 and s[1] > 3000 for s in spans0)  # all wide

    t.compact(target_files=8, cluster_by=["k"])
    live = t._live_files()
    assert len(live) == 8
    spans = sorted(e["stats"]["k"] for e in live.values())
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a < lo_b  # tight AND disjoint — exact, not gridded
    # contents survived the rewrite
    assert t.read().count() == 4000

    # a sparse merge now prunes on stats alone (no bloom_cols handle)
    src = spark.createDataFrame(
        [(7, "upd"), (3901, "upd")], "k long, tag string"
    )
    t.merge_into(src, ["k"], when_matched="update")
    assert t.last_merge_stats["live"] == 8
    assert t.last_merge_stats["candidates"] <= 2
    got = {r.k: r.tag for r in t.read().collect()}
    assert got[7] == "upd" and got[3901] == "upd" and got[8] == "b0"


def test_compact_clusters_string_column(spark, tmp_path):
    """The exact single-column path must cluster ANY orderable type —
    strings have no float image, so the Z-order grid can't take them;
    the range partition + sort can."""
    t = SnapshotTable(spark, str(tmp_path / "cl2"), stat_cols=["s"])
    t.append(
        spark.range(0, 2000).select(
            F.format_string("doc-%04d", F.pmod(F.col("id") * 7, F.lit(2000)))
            .alias("s"),
            F.col("id").alias("v"),
        ).repartition(4)
    )
    t.compact(target_files=4, cluster_by=["s"])
    live = t._live_files()
    assert len(live) == 4
    spans = sorted(e["stats"]["s"] for e in live.values())
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a < lo_b
    src = spark.createDataFrame([("doc-0042", -1)], "s string, v long")
    t.merge_into(src, ["s"], when_matched="update")
    assert t.last_merge_stats["candidates"] == 1
    assert {r.v for r in t.read().where(F.col("s") == "doc-0042").collect()} \
        == {-1}


def test_big_batch_merge_stat_point_prune_on_clustered_table(
    spark, tmp_path
):
    """The 100 TB delta-merge shape, blooms OFF: a batch beyond the
    1024-key stat point cap against a range-clustered table. The
    min..max range test keeps every file (the batch spans the domain),
    but the complete distinct-key collection (capped at 64k) plus the
    per-file bisect drops every file whose key slice holds none of the
    batch — candidates ~= the batch's true footprint."""
    t = SnapshotTable(spark, str(tmp_path / "cl3"), stat_cols=["k"])
    t.append(_df(spark, 0, 100_000).repartition(8))
    t.compact(target_files=50, cluster_by=["k"])
    assert len(t._live_files()) == 50
    # 2000 keys in one narrow slice + one at the far end: range test
    # alone would keep all 50 files
    src = spark.createDataFrame(
        [(i, "upd") for i in range(1000, 3000)] + [(99_999, "upd")],
        "k long, tag string",
    )
    t.merge_into(src, ["k"], when_matched="update", mode="mor")
    assert t.last_merge_stats["live"] == 50
    assert t.last_merge_stats["candidates"] <= 4
    got = t.read()
    assert got.where(F.col("tag") == "upd").count() == 2001
    assert got.count() == 100_000


def test_point_prune_incomparable_types_keep_file():
    """A stat column whose footer stats were stringified (dates,
    decimals) probed with native-typed source points must KEEP the
    file, never raise or prune (r12 review finding: the bisect
    TypeError fallback re-raised)."""
    import datetime

    from data_engineering_pipeline_spark.sources.snapshot_table import (
        _prune_candidates,
    )

    live = {
        "f1.parquet": {"stats": {"d": ["2021-01-01", "2021-06-30"]}},
        "f2.parquet": {"stats": {}},  # no stats: always kept
    }
    pts = {"d": [datetime.date(2021, 3, 1)]}  # incomparable vs str
    got = _prune_candidates(
        live, ["d"], {"d": (None, None)}, pts
    )
    assert set(got) == {"f1.parquet", "f2.parquet"}
    # comparable points still prune exactly
    got2 = _prune_candidates(
        live, ["d"], {"d": (None, None)}, {"d": ["2022-01-01"]}
    )
    assert set(got2) == {"f2.parquet"}
