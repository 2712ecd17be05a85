"""Conflict matrix of the snapshot table's data-rewriting writers.

Every DML writer (merge, delete and update in copy-on-write and
merge-on-read mode, scoped compaction and DV purge) is raced against
four concurrent commits that land once, just before the writer's own
commit: a blind append, a merge-on-read delete on a file the writer
rewrites or masks, a merge-on-read delete on a file the writer does
not rewrite, and a compaction of such a file. Each cell records
whether the writer conflicts or commits; a commit must leave the rows
of one of the two serial orders.

Table layout (stat_cols=["k"], one file per append):
  hit   k 1..3   the file every writer rewrites or masks (k=3 is
                 already DV-masked, so purge has work)
  scan  k 10..12 a file the predicate writers scan but never touch
  far   k 20..22 a third file
"""

from __future__ import annotations

import shutil

import pytest

from data_engineering_pipeline_spark.sources.snapshot_table import (
    SnapshotConflict,
    SnapshotTable,
)

BASE = {1: "a", 2: "a", 10: "b", 11: "b", 12: "b", 20: "c", 21: "c",
        22: "c"}


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def _merge(mode):
    def run(t, spark):
        t.merge_into(_kv(spark, [(1, "m"), (100, "m")]), ["k"], mode=mode)

    return run, lambda s: {**s, 1: "m", 100: "m"}


def _delete(mode):
    def run(t, spark):
        t.delete_where("k = 1", mode=mode)

    return run, lambda s: {k: v for k, v in s.items() if k != 1}


def _update(mode):
    def run(t, spark):
        t.update_where("k = 1", {"val": "'u'"}, mode=mode)

    return run, lambda s: {k: ("u" if k == 1 else v) for k, v in s.items()}


def _compact(t, spark):
    t.compact(where=[("k", 1, 3)], cluster_by=["k"])


def _purge(t, spark):
    t.purge_dvs()


def _same(s):
    return dict(s)


WRITERS = {
    "merge-cow": _merge("cow"),
    "merge-mor": _merge("mor"),
    "delete-cow": _delete("cow"),
    "delete-mor": _delete("mor"),
    "update-cow": _update("cow"),
    "update-mor": _update("mor"),
    "compact": (_compact, _same),
    "purge": (_purge, _same),
}


def _c_append(t, spark):
    t.append(_kv(spark, [(50, "c")]))


def _c_dv_hit(t, spark):
    t.delete_where("k = 2", mode="mor")


def _c_dv_scan(t, spark):
    t.delete_where("k = 11", mode="mor")


def _c_compact_scan(t, spark):
    t.compact(where=[("k", 10, 12)], cluster_by=["k"])


CONCURRENT = {
    "append": (_c_append, lambda s: {**s, 50: "c"}),
    "dv-hit": (_c_dv_hit, lambda s: {k: v for k, v in s.items() if k != 2}),
    "dv-scan": (_c_dv_scan,
                lambda s: {k: v for k, v in s.items() if k != 11}),
    "compact-scan": (_c_compact_scan, _same),
}

# outcome per (writer, concurrent commit): the writers' isolation
# contract (see the snapshot_table module docstring); a changed cell
# changes what a concurrent writer may observe
EXPECTED = {
    "merge-cow": {"append": "conflict", "dv-hit": "conflict",
                  "dv-scan": "conflict", "compact-scan": "conflict"},
    "merge-mor": {"append": "conflict", "dv-hit": "conflict",
                  "dv-scan": "conflict", "compact-scan": "conflict"},
    "delete-cow": {"append": "commit", "dv-hit": "conflict",
                   "dv-scan": "commit", "compact-scan": "commit"},
    "delete-mor": {"append": "commit", "dv-hit": "conflict",
                   "dv-scan": "commit", "compact-scan": "conflict"},
    "update-cow": {"append": "commit", "dv-hit": "conflict",
                   "dv-scan": "commit", "compact-scan": "commit"},
    "update-mor": {"append": "commit", "dv-hit": "conflict",
                   "dv-scan": "commit", "compact-scan": "commit"},
    "compact": {"append": "commit", "dv-hit": "conflict",
                "dv-scan": "commit", "compact-scan": "commit"},
    "purge": {"append": "commit", "dv-hit": "conflict",
              "dv-scan": "commit", "compact-scan": "commit"},
}

# the tier-1 share: every guard variant (whole-table, rewritten files,
# masked files, masked files plus scanned files) against every
# concurrent commit; the remaining writers run in the slow tier
TIER1 = {"merge-mor", "delete-cow", "delete-mor", "update-mor"}


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dml") / "base")
    t = SnapshotTable(spark, path, stat_cols=["k"])
    for lo, val in ((1, "a"), (10, "b"), (20, "c")):
        t.append(_kv(spark, [(k, val) for k in range(lo, lo + 3)])
                 .coalesce(1))
    t.delete_where("k = 3", mode="mor")
    return path


def _rows(t):
    return {r.k: r.val for r in t.read().collect()}


def _cases():
    for w in WRITERS:
        for c in CONCURRENT:
            marks = () if w in TIER1 else (pytest.mark.slow,)
            yield pytest.param(w, c, id=f"{w}-vs-{c}", marks=marks)


@pytest.mark.parametrize("writer,concurrent", _cases())
def test_conflict_matrix(spark, template, tmp_path, writer, concurrent):
    path = str(tmp_path / "t")
    shutil.copytree(template, path)
    t = SnapshotTable(spark, path)
    assert _rows(t) == BASE
    head = t.latest_version()
    run_w, model_w = WRITERS[writer]
    run_c, model_c = CONCURRENT[concurrent]

    orig = t._commit_loop
    fired = []

    def hooked(*a, **kw):
        if not fired:
            fired.append(True)
            run_c(SnapshotTable(spark, path), spark)
        return orig(*a, **kw)

    t._commit_loop = hooked
    try:
        run_w(t, spark)
        outcome = "commit"
    except SnapshotConflict:
        outcome = "conflict"
    assert fired, "the writer never reached its commit"
    assert outcome == EXPECTED[writer][concurrent]
    got = _rows(SnapshotTable(spark, path))
    if outcome == "commit":
        assert t.latest_version() == head + 2
        assert got in (model_w(model_c(BASE)), model_c(model_w(BASE)))
    else:
        assert t.latest_version() == head + 1
        assert got == model_c(BASE)
