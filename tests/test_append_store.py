"""The shared bucketed append store core (operators/sig_store.py
BucketedAppendStore), driven through both of its stores: a failed
stage write cleans up and reports every error, and a crash at EVERY
filesystem step of a commit or a compaction leaves a store whose
readers see complete state and whose replay converges to the
uncrashed store's rows and pairs."""

from __future__ import annotations

import glob
import os
import random
import shutil
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from data_engineering_pipeline_spark.operators import sig_store
from data_engineering_pipeline_spark.operators.sig_store import (
    BandedSignatureStore,
)
from data_engineering_pipeline_spark.operators.vec_store import (
    VecIndexStore,
)


def _docs(spark, ids):
    """Even ids and their +1 neighbors share most 3-shingles."""
    rows = []
    for i in ids:
        words = [f"w{i - i % 2}_{k}" for k in range(12)]
        if i % 2:
            words[-1] = "tail_variant"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, ids):
    """Even ids and their +1 neighbors are near-identical vectors."""
    rows = []
    for i in ids:
        rng = random.Random(1000 + i - i % 2)
        v = [rng.gauss(0.0, 1.0) for _ in range(16)]
        rows.append((i, [x + 0.005 * (i % 2) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@dataclass
class Kind:
    """One store over the shared core, at small moduli so a commit or
    a compaction takes few filesystem steps."""

    name: str
    cls: type
    cfg: dict
    batch: object  # (spark, ids) -> batch frame
    probe_kw: dict
    grow: dict  # compact() kwargs that migrate both moduli

    def make(self, spark, root):
        return self.cls(spark, root, **self.cfg)


KINDS = [
    Kind("sig", BandedSignatureStore,
         dict(bands=4, sig_pfx=2, bucket_pfx=2), _docs, {},
         dict(to_sig_pfx=4, to_bucket_pfx=4)),
    Kind("vec", VecIndexStore,
         dict(dim=16, bits=4, n_tables=2, spfx=2, vpfx=2), _vecs,
         dict(threshold=0.9, probe_radius=1),
         dict(to_spfx=4, to_vpfx=4)),
]


def _pairs(st, kind, batch):
    _, p = st.probe(batch, **kind.probe_kw)
    return {(r[0], r[1], round(r[2], 9)) for r in p.collect()}


def _fixed(spark, df):
    """A batch's signed rows as a local frame that depends on no store
    files — the same input for every crash run."""
    return spark.createDataFrame(df.collect(), df.schema)


def _layout_rows(base):
    """Every row of a layout dir read straight from its part-files,
    hive partition values included."""
    out = []
    for f in sorted(glob.glob(os.path.join(base, "**", "*.parquet"),
                              recursive=True)):
        rel = os.path.relpath(f, base).split(os.sep)[:-1]
        parts = {k: int(v) for k, v in (p.split("=", 1) for p in rel)}
        out += [{**r, **parts} for r in pq.read_table(f).to_pylist()]
    return out


def _content(st):
    """(bucket rows, payload rows) of a store as sorted tuples, without
    the prefix columns — the same under any moduli."""
    key, cls = st._key, type(st)
    buckets = sorted(
        (r[key], r[cls._GROUP], r[cls._BUCKET])
        for r in _layout_rows(st._bdir)
    )
    rows = sorted(
        (r[key], *[tuple(v) if isinstance(v, list) else v
                   for v in (r[c] for c in st._payload)])
        for r in _layout_rows(st._rdir)
    )
    return buckets, rows


def _assert_rows_fully_bucketed(st):
    """The crash-order invariant: every id in the row layout has its
    bucket row in every group, so it can still be probed."""
    key, cls = st._key, type(st)
    groups: dict = {}
    for r in _layout_rows(st._bdir):
        groups.setdefault(r[key], set()).add(r[cls._GROUP])
    for r in _layout_rows(st._rdir):
        assert groups.get(r[key]) == set(range(st._n_groups())), r[key]


def _file_set(base):
    return {
        os.path.relpath(f, base)
        for f in glob.glob(os.path.join(base, "**", "*.parquet"),
                           recursive=True)
    }


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
    """Count the store core's filesystem steps — every os.rename (part-
    file moves, meta and layout stamps, compaction swaps) and every
    shutil.rmtree — and fail the n-th one and every later one, since a
    dead process takes no further steps. n=None only counts. Yields
    the counter."""
    count = {"steps": 0}

    def step(fn):
        def wrapped(*a, **kw):
            count["steps"] += 1
            if n is not None and count["steps"] >= n:
                raise _Crash(f"crash at step {count['steps']}")
            return fn(*a, **kw)
        return wrapped

    with monkeypatch.context() as m:
        m.setattr(sig_store, "os", _Proxy(os, rename=step(os.rename)))
        m.setattr(sig_store, "shutil",
                  _Proxy(shutil, rmtree=step(shutil.rmtree)))
        yield count


@pytest.mark.parametrize("kind", KINDS, ids=lambda k: k.name)
def test_failed_stage_cleans_up_and_reports_every_error(
    spark, tmp_path, monkeypatch, kind
):
    """One failing stage write raises its own error; two raise both
    (neither swallowed). Either way the `.stage-*` dir is gone,
    nothing landed, and the replayed commit lands the batch."""
    root = str(tmp_path / "st")
    st = kind.make(spark, root)
    fresh, _ = st.probe(kind.batch(spark, range(0, 8)), **kind.probe_kw)
    real = DataFrameWriter.parquet

    def failing(names):
        def parquet(self, path, *a, **kw):
            real(self, path, *a, **kw)  # leave staged files to clean up
            if ".stage-" in path and os.path.basename(path) in names:
                raise RuntimeError(f"stage {os.path.basename(path)} failed")
        return parquet

    b, r = kind.cls._BUCKET_DIR, kind.cls._ROW_DIR
    monkeypatch.setattr(DataFrameWriter, "parquet", failing({b}))
    with pytest.raises(RuntimeError, match=f"stage {b} failed"):
        st.commit(fresh, 1)
    assert not glob.glob(os.path.join(root, ".stage-*"))

    monkeypatch.setattr(DataFrameWriter, "parquet", failing({b, r}))
    with pytest.raises(ExceptionGroup) as ei:
        st.commit(fresh, 1)
    assert {str(e) for e in ei.value.exceptions} == {
        f"stage {b} failed", f"stage {r} failed"
    }
    assert not glob.glob(os.path.join(root, ".stage-*"))
    assert not st.exists()

    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    st.commit(fresh, 1)
    assert {row[0] for row in _content(st)[1]} == set(range(8))


# the sig commit sweep is tier-1; the other sweeps are close-out tier
@pytest.mark.parametrize(
    "kind", [KINDS[0], pytest.param(KINDS[1], marks=pytest.mark.slow)],
    ids=lambda k: k.name,
)
def test_crash_at_every_commit_step_converges(
    spark, tmp_path, monkeypatch, kind
):
    """Crash the first commit of a batch at every step N."""
    b1 = kind.batch(spark, range(0, 12))
    probe = kind.batch(spark, [1, 4, 5, 500, 501])
    ref = kind.make(spark, str(tmp_path / "ref"))
    fresh = _fixed(spark, ref.probe(b1, **kind.probe_kw)[0])
    with _crash_at(monkeypatch, None) as count:
        ref.commit(fresh, 1)
    ref_rows = _content(ref)[1]
    ref_pairs = _pairs(ref, kind, probe)
    assert count["steps"] >= 5 and ref_pairs

    for n in range(1, count["steps"] + 1):
        root = str(tmp_path / f"c{n}")
        st = kind.make(spark, root)
        with _crash_at(monkeypatch, n), pytest.raises(_Crash):
            st.commit(fresh, 1)
        _assert_rows_fully_bucketed(st)
        # replay: reopen, re-probe, re-commit
        st = kind.make(spark, root)
        f, _ = st.probe(b1, **kind.probe_kw)
        st.commit(f, 1)
        _assert_rows_fully_bucketed(st)
        assert _content(st)[1] == ref_rows, n
        assert _pairs(st, kind, probe) == ref_pairs, n


@pytest.mark.slow
@pytest.mark.parametrize("kind", KINDS, ids=lambda k: k.name)
def test_crash_at_every_compact_step_converges(
    spark, tmp_path, monkeypatch, kind
):
    """Crash a moduli-migrating compaction at every step N."""
    base = str(tmp_path / "base")
    st = kind.make(spark, base)
    for b in range(2):
        f, _ = st.probe(kind.batch(spark, range(b * 10, b * 10 + 10)),
                        **kind.probe_kw)
        st.commit(f, b)
    probe = kind.batch(spark, [1, 4, 15, 500, 501])
    ref_pairs = _pairs(st, kind, probe)
    ref_content = _content(st)
    layouts = (kind.cls._BUCKET_DIR, kind.cls._ROW_DIR)
    old = {d: _file_set(os.path.join(base, d)) for d in layouts}
    ref_root = str(tmp_path / "ref")
    shutil.copytree(base, ref_root)
    with _crash_at(monkeypatch, None) as count:
        kind.make(spark, ref_root).compact(**kind.grow)
    assert count["steps"] >= 5 and ref_pairs

    for n in range(1, count["steps"] + 1):
        root = str(tmp_path / f"k{n}")
        shutil.copytree(base, root)
        st = kind.make(spark, root)
        with _crash_at(monkeypatch, n), pytest.raises(_Crash):
            st.compact(**kind.grow)
        st = kind.make(spark, root)  # reopen: heal the swap window
        for d in layouts:
            files = _file_set(os.path.join(root, d))
            # the old file set or the new one, never a mix
            assert files == old[d] or not files & old[d], (n, d)
        assert _content(st) == ref_content, n
        _assert_rows_fully_bucketed(st)
        assert _pairs(st, kind, probe) == ref_pairs, n
        # replay: re-run the interrupted compaction
        st.compact(**kind.grow)
        st = kind.make(spark, root)
        assert _content(st) == ref_content, n
        assert _pairs(st, kind, probe) == ref_pairs, n
