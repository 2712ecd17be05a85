"""The three workloads. Each is a closed loop with one client: `op(i)`
runs one operation to completion, checks its output and returns the
units it completed. Program entry points are looked up on their
modules at call time, so the traced run's wrappers see every call."""

from __future__ import annotations

import contextlib
import os
import time

import checks
import cpu
import gen
import pyarrow as pa
import pyarrow.parquet as pq
from checks import CheckFailed, expect

from data_engineering_pipeline_spark.plans import curation_pipeline as cp
from data_engineering_pipeline_spark.plans import reference_pipelines as ref
from data_engineering_pipeline_spark.plans import search_pipeline as sp
from data_engineering_pipeline_spark.operators import ann_index
from data_engineering_pipeline_spark.queries import search as search_q
from data_engineering_pipeline_spark.sources import snapshot_table as snap


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def snapshot_tables(path: str) -> list[str]:
    """Snapshot-table roots under `path` (dirs holding a `_log`)."""
    return sorted(
        root for root, dirs, _files in os.walk(path) if "_log" in dirs
    )


class Workload:
    name = ""
    unit = ""  # what throughput_per_s counts
    min_ops = 1  # ops timed per run even when --seconds has passed
    max_ops = 0

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.input_bytes = 0  # generated input handed to the program so far
        self.sizes: dict = {}
        self.op_s = 0.0  # program wall time of the last op, checks excluded
        self.op_cpu_s = 0.0  # and the CPU time it took (see cpu.py)
        self.stage_s: dict = {}  # per-stage walls the program reports, by op
        # context for output checks; the traced run swaps in one that
        # bills their Spark jobs to the benchmark, not to a layer
        self.checking = contextlib.nullcontext
        os.makedirs(work_dir, exist_ok=True)

    def _timed(self, fn, *args, **kwargs):
        c0 = cpu.tree_cpu_s()
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.op_s = time.perf_counter() - t0
        self.op_cpu_s = cpu.tree_cpu_s() - c0
        return out

    def setup(self) -> None:  # input generation
        raise NotImplementedError

    def rebuild(self) -> float:  # full build from scratch, seconds
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed work between the rebuild and the timed ops."""

    def op(self, i: int) -> int:
        raise NotImplementedError

    def final_checks(self) -> list:
        """Callables run once after the timed phase; each is one check."""
        return []

    def output_dirs(self) -> list[str]:
        return [self.work]

    def survivor_frac(self) -> float:
        return 0.0


# ---------------------------------------------------------------------


def _parse(rec: dict):
    """The reference's valid-record rule: (iso3, year) or None."""
    iso3 = rec["countryiso3code"]
    if iso3 is None:
        iso3 = (rec.get("country") or {}).get("id")
    try:
        year = int(rec["date"])
    except (TypeError, ValueError):
        return None
    if not iso3:
        return None
    return iso3, year


class WbEtl(Workload):
    """The paper's pipeline: ingest two indicators, then transform. One
    op is one daily refresh; the rebuild is the full-history backfill,
    and one untimed refresh is the warm-up."""

    name = "wb-etl"
    unit = "records"
    n_entities = 1000
    max_ops = 40

    def setup(self) -> None:
        # refresh 0 serves the warm-up
        self.inp = gen.wb_inputs(self.seed, self.n_entities, self.max_ops + 1)
        self.base = os.path.join(self.work, "wb")
        self.state = {ind[0]: {} for ind in gen.INDICATORS}
        self.quarantined = {ind[0]: 0 for ind in gen.INDICATORS}
        n = sum(len(r) for r in self.inp.backfill.values())
        self.sizes = {
            "entities": self.n_entities,
            "backfill_records": n,
            "backfill_bytes": gen.json_bytes(list(self.inp.backfill.values())),
            "refresh_records": sum(len(r) for r in self.inp.refreshes[0].values()),
        }

    def _run(self, batch: dict[str, list[dict]]):
        ingest = {
            name: ref.ingest_pipeline(self.spark, name, recs, self.base).run()
            for name, recs in batch.items()
        }
        return ingest, ref.transform_pipeline(self.spark, self.base).run()

    def _refresh(self, batch: dict[str, list[dict]]) -> int:
        ingest, ctx = self._timed(self._run, batch)
        self.input_bytes += gen.json_bytes(list(batch.values()))
        self._land(batch)
        with self.checking():
            self._check(batch, ingest, ctx)
        return sum(len(r) for r in batch.values())

    def _land(self, batch) -> None:
        """Apply the batch to the golden raw layers."""
        for name, recs in batch.items():
            for rec in recs:
                key = _parse(rec)
                if key is None:
                    self.quarantined[name] += 1
                else:
                    self.state[name][key] = rec["value"]
        self.golden = checks.cleaned_golden(
            self.state["gdp_growth"], self.state["unemployment"]
        )

    def _check(self, batch, ingest, ctx) -> None:
        for name in batch:
            st = self.state[name]
            counts = ingest[name]["counts"]
            expect(counts["raw"] == len(st),
                   f"{name}: raw {counts['raw']} != {len(st)} valid keys")
            expect(counts["quarantined"] == self.quarantined[name],
                   f"{name}: quarantine {counts['quarantined']} != "
                   f"{self.quarantined[name]} malformed")
        expect(ctx["preview"]["total"] == len(self.golden),
               f"cleaned {ctx['preview']['total']} != {len(self.golden)}")
        first = sorted(self.golden)[:10]
        got = ctx["preview"]["first10"]
        expect([(r["country_iso3"], r["year"]) for r in got] == first,
               "cleaned preview keys differ from golden")
        checks.check_cleaned_rows(got, self.golden)

    def rebuild(self) -> float:
        self._refresh(self.inp.backfill)
        return self.op_s

    def warmup(self) -> None:
        """The first refresh after the backfill is the first upsert into
        non-empty layers and takes about 30% more CPU than later ones."""
        self._refresh(self.inp.refreshes[0])

    def op(self, i: int) -> int:
        return self._refresh(self.inp.refreshes[i + 1])

    def final_checks(self) -> list:
        def whole_layer():
            rows = self.spark.read.parquet(
                os.path.join(self.base, "cleaned_data")
            ).collect()
            n = checks.check_cleaned_rows(rows, self.golden)
            expect(n == len(self.golden), f"cleaned {n} != {len(self.golden)}")

        return [whole_layer]


# ---------------------------------------------------------------------


class CorpusCurate(Workload):
    """One curate_batch rebuild, an untimed warm-up increment, then
    delta increments (one op each)."""

    name = "corpus-curate"
    unit = "docs"
    n_rebuild = 200
    batch_size = 50
    max_ops = 12
    flood_frac = 0.2
    # a hot-bucket cap the rebuild's flood alone exceeds, so every
    # increment probes capped buckets; the default (256) would need a
    # flood too large for the run budget
    probe_max_bucket = 32
    split_threshold = 0.45

    def setup(self) -> None:
        # batch 0 serves the warm-up
        self.inp = gen.corpus_inputs(
            self.seed, self.n_rebuild, self.max_ops + 1, self.batch_size,
            flood_frac=self.flood_frac,
        )
        self.dir = os.path.join(self.work, "curation")
        self.new_landed = 0
        self.survivors = 0
        self.sizes = {
            "rebuild_docs": self.n_rebuild,
            "rebuild_bytes": gen.json_bytes(self.inp.rebuild),
            "batch_docs": self.batch_size,
            "batch_bytes": gen.json_bytes(self.inp.batches[0]),
        }

    def _df(self, rows):
        return self.spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        )

    def _versions(self) -> dict[str, int]:
        return {
            t: snap.SnapshotTable(self.spark, t).latest_version()
            for t in snapshot_tables(self.dir)
        }

    def rebuild(self) -> float:
        rows = self.inp.rebuild
        stats = self._timed(
            cp.curate_batch, self.spark, self._df(rows), self.dir,
            split_threshold=self.split_threshold,
            probe_max_bucket=self.probe_max_bucket,
            timings=self.stage_s.setdefault("rebuild", {}),
        )
        want = len(rows) - self.inp.short_in_rebuild
        expect(stats["landed"] == want, f"rebuild landed {stats['landed']} != {want}")
        self.landed, self.curated = stats["landed"], stats["curated"]
        with self.checking():
            self.versions = self._versions()
        self.input_bytes += gen.json_bytes(rows)
        return self.op_s

    def warmup(self) -> None:
        """The first increment after a rebuild is the first to probe a
        non-empty signature store and to MERGE; it takes 10-40% more CPU
        than later ones, by an amount that varies with the seed."""
        self._increment(0)

    def op(self, i: int) -> int:
        return self._increment(i + 1)

    def _increment(self, i: int) -> int:
        rows = self.inp.batches[i]
        stats = self._timed(
            cp.curate_increment, self.spark, self._df(rows), self.dir,
            batch_id=i + 1, mode="delta", split_threshold=self.split_threshold,
            probe_max_bucket=self.probe_max_bucket,
            timings=self.stage_s.setdefault(i, {}),
        )
        new = stats["landed"] - self.landed
        try:
            with self.checking():
                self._check(i, rows, stats)
        finally:
            self.new_landed += new
            self.survivors += stats["batch_survivors"]
            self.landed, self.curated = stats["landed"], stats["curated"]
            self.input_bytes += gen.json_bytes(rows)
        return new

    def _check(self, i: int, rows, stats) -> None:
        new = stats["landed"] - self.landed
        want = len(rows) - self.inp.short_per_batch[i]
        expect(new == want, f"batch {i}: landed {new} != {want}")
        surv = stats["batch_survivors"]
        expect(0 <= surv <= new, f"batch {i}: {surv} survivors of {new}")
        # every landed doc is a survivor or a drop, and the curated
        # table moves by exactly survivors - retractions
        expect(
            stats["curated"] == self.curated + surv - stats["retracted"],
            f"batch {i}: curated {stats['curated']} != {self.curated} + "
            f"{surv} - {stats['retracted']}",
        )
        versions = self._versions()
        for t, v in versions.items():
            for h in snap.SnapshotTable(self.spark, t).history():
                if h["version"] > self.versions.get(t, -1):
                    expect(
                        h["rows_added"] <= len(rows),
                        f"{os.path.basename(t)} v{h['version']} added "
                        f"{h['rows_added']} rows for a {len(rows)}-doc batch",
                    )
        self.versions = versions

    def survivor_frac(self) -> float:
        return self.survivors / self.new_landed if self.new_landed else 0.0

    def final_checks(self) -> list:
        def curated_ids():
            ids = [
                r["doc_id"]
                for r in snap.SnapshotTable(
                    self.spark, os.path.join(self.dir, "curated")
                ).read().select("doc_id").collect()
            ]
            expect(len(ids) == len(set(ids)), "curated doc_ids not unique")
            expect(len(ids) == self.curated,
                   f"curated holds {len(ids)} rows, stats say {self.curated}")
            leaked = set(ids) & self.inp.exact_dup_ids
            expect(not leaked, f"exact duplicates curated: {sorted(leaked)[:5]}")

        return [curated_ids]


# ---------------------------------------------------------------------


class SearchServe(Workload):
    """Source tables written in set-up, the index built as the rebuild,
    one warm-up query; one hybrid_search query per op."""

    name = "search-serve"
    unit = "queries"
    n_docs = 1500
    n_cells = 16
    n_probe = 2
    min_ops = 5
    max_ops = 60
    probe_checks = 4  # queries re-run with an exhaustive probe at the end

    def setup(self) -> None:
        # one query more than max_ops: the last serves the warm-up
        self.inp = gen.search_inputs(self.seed, self.n_docs, self.max_ops + 1)
        docs_path = os.path.join(self.work, "documents.parquet")
        emb_path = os.path.join(self.work, "embeddings.parquet")
        ids, texts = zip(*self.inp.docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), docs_path)
        ids, vecs = zip(*self.inp.vecs)
        pq.write_table(
            pa.table({"vec_id": pa.array(ids, pa.int64()),
                      "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
            emb_path,
        )
        self.docs = self.spark.read.parquet(docs_path)
        self.index = os.path.join(self.work, "ann_index")
        self.input_bytes = gen.json_bytes(self.inp.docs) + gen.json_bytes(
            self.inp.vecs
        )
        self.sizes = {
            "docs": self.n_docs,
            "docs_bytes": gen.json_bytes(self.inp.docs),
            "vec_bytes": gen.json_bytes(self.inp.vecs),
            "dim": len(self.inp.vecs[0][1]),
            "n_cells": self.n_cells,
            "n_probe": self.n_probe,
        }
        self.emb_path = emb_path

    def rebuild(self) -> float:
        self._timed(
            sp.build_search_index, self.spark,
            self.spark.read.parquet(self.emb_path), self.index,
            n_cells=self.n_cells,
        )
        return self.op_s

    def _qv(self, q):
        return self.spark.createDataFrame(
            [(q[0], q[2])], "query_id long, embedding array<float>"
        )

    def _query(self, q) -> None:
        qv = self._qv(q)
        rows = self._timed(
            lambda: sp.hybrid_search(
                self.spark, self.docs, self.index, q[1], qv,
                n_probe=self.n_probe,
            ).collect()
        )
        with self.checking():
            checks.check_answer(rows, q[0], search_q.MMR_K)

    def warmup(self) -> None:
        """The index build shares no code with a query: serve one, so
        the timed queries find Python workers and generated code warm
        (the first query costs about twice a warm one)."""
        self._query(self.inp.queries[self.max_ops])

    def op(self, i: int) -> int:
        self._query(self.inp.queries[i])
        return 1

    def output_dirs(self) -> list[str]:
        return [self.index]

    def final_checks(self) -> list:
        def probes():
            qs = self.inp.queries[: self.probe_checks]
            got: dict[int, list] = {q[0]: [] for q in qs}
            for r in ann_index.ann_index_search(
                self.spark,
                self.spark.createDataFrame(
                    [(q[0], q[2]) for q in qs],
                    "query_id long, embedding array<float>",
                ),
                self.index, k=10, n_probe=self.n_cells,
            ).collect():
                got[r["query_id"]].append(r)
            for q in qs:
                checks.check_exhaustive_probe(
                    got[q[0]], q[2], self.inp.vecs, 10, query_id=q[0])

        return [probes]


WORKLOADS = {w.name: w for w in (WbEtl, CorpusCurate, SearchServe)}
