"""The one crash-safe directory swap (sources/dirswap.py), driven
through every writer that uses it: a crash at EVERY filesystem step
of the swap (each os.rename, shutil.rmtree, os.remove and commit-record
write, and every later one) leaves a target that heals to its full old
or full new state, and re-running the writer gives the uncrashed
result, with untouched units byte-stable and no remnant left."""

from __future__ import annotations

import glob
import json
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass

import pytest
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sharding import (
    export_shards,
    refresh_shards,
)
from data_engineering_pipeline_spark.operators.upsert import upsert_parquet
from data_engineering_pipeline_spark.plans.curation_pipeline import (
    _freeze_decon,
)
from data_engineering_pipeline_spark.sources import dirswap
from data_engineering_pipeline_spark.sources.corpus_sink import (
    compact_corpus,
    write_corpus,
)
from data_engineering_pipeline_spark.sources.snapshot_table import (
    SnapshotTable,
)

ROWS = "k long, lang string, v string, ver long"


class _Crash(Exception):
    pass


class _Proxy:
    """A module stand-in that overrides some attributes."""

    def __init__(self, mod, **over):
        self._mod = mod
        self.__dict__.update(over)

    def __getattr__(self, name):
        return getattr(self._mod, name)


@contextmanager
def _crash_at(monkeypatch, n):
    """Count the swap module's filesystem steps — every os.rename,
    os.remove, shutil.rmtree and commit-record write — and fail the
    n-th one and every later one, since a dead process takes no
    further steps. A failed record write leaves a half-written file.
    n=None only counts. Yields the counter."""
    count = {"steps": 0}

    def crashed():
        count["steps"] += 1
        return n is not None and count["steps"] >= n

    def step(fn):
        def wrapped(*a, **kw):
            if crashed():
                raise _Crash(f"crash at step {count['steps']}")
            return fn(*a, **kw)
        return wrapped

    def record_open(path, mode="r", *a, **kw):
        if "w" in mode and crashed():
            with open(path, mode) as fh:
                fh.write('{"swap": [')
            raise _Crash(f"crash at step {count['steps']}")
        return open(path, mode, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(dirswap, "os", _Proxy(
            os, rename=step(os.rename), remove=step(os.remove)
        ))
        m.setattr(dirswap, "shutil",
                  _Proxy(shutil, rmtree=step(shutil.rmtree)))
        m.setattr(dirswap, "open", record_open, raising=False)
        yield count


def _mtimes(root):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(os.path.join(root, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }


def _remnants(target):
    parent, name = os.path.split(target)
    return [f for f in os.listdir(parent) if f.startswith(name + ".")]


@dataclass
class Case:
    """One swapping writer of the target `<root>/t`. `setup(spark,
    root)` builds the pre-write state and returns the writer's inputs
    (shared, not copied) and the unit dirs the write must leave alone;
    `write(spark, root, inputs)` is the writer call under test;
    `state(spark, root)` is the comparable result; `fresh(spark, root,
    inputs)`, if given, builds the writer's expected target from
    scratch."""

    name: str
    setup: object
    write: object
    state: object
    fresh: object = None


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


# -- upsert_parquet, whole table -------------------------------------
def _upsert_setup(spark, root):
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "en", "b", 1), (3, "fr", "c", 1)], ROWS
    )
    upsert_parquet(spark, os.path.join(root, "t"), base, ["k"], "ver")
    return spark.createDataFrame(
        [(1, "de", "a2", 2), (4, "en", "d", 1)], ROWS
    ), ()


def _upsert_write(spark, root, batch):
    upsert_parquet(spark, os.path.join(root, "t"), batch, ["k"], "ver")


# -- upsert_parquet, 2 touched partitions and 1 untouched -------------
def _pupsert_setup(spark, root):
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "en", "b", 1), (3, "fr", "c", 1)], ROWS
    )
    upsert_parquet(spark, os.path.join(root, "t"), base, ["k"], "ver",
                   ["lang"])
    return spark.createDataFrame(
        [(1, "de", "a2", 2), (4, "en", "d", 1)], ROWS
    ), ("lang=fr",)


def _pupsert_write(spark, root, batch):
    upsert_parquet(spark, os.path.join(root, "t"), batch, ["k"], "ver",
                   ["lang"])


def _table_state(spark, root):
    return _rows(spark, os.path.join(root, "t"))


# -- refresh_shards, incremental with a shard that empties ------------
def _shards_setup(spark, root):
    src = SnapshotTable(spark, os.path.join(root, "src"))
    src.append(spark.range(12).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc-"), F.col("id")).alias("text"),
    ))
    out = os.path.join(root, "t")
    refresh_shards(src, out, 4, ["doc_id"])
    per_shard: dict = {}
    for r in spark.read.parquet(out).collect():
        per_shard.setdefault(r.shard, []).append(r.doc_id)
    smallest = min(per_shard, key=lambda s: len(per_shard[s]))
    other = next(s for s in per_shard if s != smallest and per_shard[s])
    # empty the smallest shard, update one doc of another
    src.delete_where(
        "doc_id IN (" + ",".join(map(str, per_shard[smallest])) + ")"
    )
    src.merge_into(spark.createDataFrame(
        [(per_shard[other][0], "UPDATED")], "doc_id long, text string"
    ), ["doc_id"])
    return src, tuple(
        f"shard={s}" for s in per_shard if s not in (smallest, other)
    )


def _shards_write(spark, root, src):
    refresh_shards(src, os.path.join(root, "t"), 4, ["doc_id"])


def _rebuild_setup(spark, root):
    return _shards_setup(spark, root)[0], ()  # every shard is rebuilt


def _rebuild_write(spark, root, src):
    refresh_shards(src, os.path.join(root, "t"), 3, ["doc_id"])


def _fresh_shards(n_shards):
    def fresh(spark, root, src):
        export_shards(src.read(), os.path.join(root, "t"), n_shards,
                      ["doc_id"])
    return fresh


def _shards_state(spark, root):
    out = os.path.join(root, "t")
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    return dirs, _rows(spark, out)


# -- compact_corpus --------------------------------------------------
def _compact_setup(spark, root):
    docs = spark.createDataFrame(
        [(i, ("de", "en")[i % 2], f"text {i}") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    write_corpus(docs, os.path.join(root, "t"), ("lang",), "doc_id",
                 max_records_per_file=5)
    return None, ()


def _compact_write(spark, root, _):
    compact_corpus(spark, os.path.join(root, "t"), ("lang",), "doc_id")


def _compact_state(spark, root):
    out = os.path.join(root, "t")
    return (len(glob.glob(f"{out}/lang=*/*.parquet")), _rows(spark, out),
            _rows(spark, f"{out}/_manifest"))


# -- _freeze_decon refreeze ------------------------------------------
def _decon_setup(spark, root):
    _freeze_decon(spark, spark.createDataFrame(
        [("alpha beta gamma delta",)], "text string"
    ), os.path.join(root, "t"))
    return spark.createDataFrame(
        [("alpha beta gamma delta",), ("zeta eta theta iota kappa",)],
        "text string",
    ), ()


def _decon_write(spark, root, ev):
    _freeze_decon(spark, ev, os.path.join(root, "t"))


def _decon_state(spark, root):
    d = os.path.join(root, "t")
    with open(os.path.join(d, "meta.json")) as fh:
        meta = json.load(fh)
    return (meta, _rows(spark, os.path.join(d, "hashes")),
            _rows(spark, os.path.join(d, "bloom")))


CASES = [
    Case("upsert", _upsert_setup, _upsert_write, _table_state),
    Case("upsert-partitioned", _pupsert_setup, _pupsert_write,
         _table_state),
    pytest.param(Case("shards-incremental", _shards_setup, _shards_write,
                      _shards_state, _fresh_shards(4)),
                 marks=pytest.mark.slow),
    pytest.param(Case("shards-rebuild", _rebuild_setup, _rebuild_write,
                      _shards_state, _fresh_shards(3)),
                 marks=pytest.mark.slow),
    pytest.param(Case("compact-corpus", _compact_setup, _compact_write,
                      _compact_state), marks=pytest.mark.slow),
    pytest.param(Case("freeze-decon", _decon_setup, _decon_write,
                      _decon_state), marks=pytest.mark.slow),
]


# the two upsert sweeps are tier-1; the rest are close-out tier
@pytest.mark.parametrize("case", CASES, ids=lambda c: c.name)
def test_crash_at_every_swap_step_converges(
    spark, tmp_path, monkeypatch, case
):
    """Crash the writer's swap at every step N: healing alone leaves
    the full old or the full new state, and re-running the writer
    gives the uncrashed result, keeps untouched units' files and
    mtimes, and leaves no remnant beside the target."""
    base = str(tmp_path / "base")
    os.makedirs(base)
    inputs, untouched = case.setup(spark, base)
    old_state = case.state(spark, base)

    ref = str(tmp_path / "ref")
    shutil.copytree(os.path.join(base, "t"), os.path.join(ref, "t"))
    with _crash_at(monkeypatch, None) as count:
        case.write(spark, ref, inputs)
    new_state = case.state(spark, ref)
    assert count["steps"] >= 4 and new_state != old_state
    if case.fresh:
        fresh = str(tmp_path / "fresh")
        case.fresh(spark, fresh, inputs)
        assert case.state(spark, fresh) == new_state

    for n in range(1, count["steps"] + 1):
        root = str(tmp_path / f"c{n}")
        target = os.path.join(root, "t")
        shutil.copytree(os.path.join(base, "t"), target)
        kept = {u: _mtimes(os.path.join(target, u)) for u in untouched}
        assert all(kept.values())
        with _crash_at(monkeypatch, n), pytest.raises(_Crash):
            case.write(spark, root, inputs)
        dirswap.heal(target)
        assert not _remnants(target), n
        assert case.state(spark, root) in (old_state, new_state), n
        case.write(spark, root, inputs)  # replay
        assert case.state(spark, root) == new_state, n
        for u in untouched:
            assert _mtimes(os.path.join(target, u)) == kept[u], (n, u)
        assert not _remnants(target), n
