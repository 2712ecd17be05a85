"""Bucketed hyperplane-LSH vector index store for incremental
embedding near-dup — the embedding subclass of
operators/sig_store.BucketedAppendStore.

A flat index (one parquet dir of embedding_index rows) re-reads EVERY
index row per micro-batch — and each row carries the full vector,
duplicated once per hash table — so both the probe read and the
on-disk footprint grow with the corpus (the same addendum-56 read term
the banded signature store removed for text). This store persists
TWO pruned layouts under one root:

  <root>/signed/tbl=T/spfx=NN/app-*.parquet  (__id, sig)     slim
  <root>/vecs/pfx=NN/app-*.parquet           (__id, __v, __n) 1/vector
  <root>/_meta.json                          structural params

- `signed` holds the per-table hyperplane signatures ONCE, WITHOUT the
  vectors (a flat index ships dim doubles x n_tables per vector
  through every probe), hive-partitioned by table and a signature
  prefix: a batch's probe lists only the (tbl, spfx) dirs its own
  (XOR-mask-expanded) probe signatures hash into and opens ONLY those.
  The probe side of the candidate join is the batch (bounded:
  rows x tables x masks), so the store side is a pruned SCAN, never a
  shuffle.
- `vecs` holds ONE (vector, norm) row per id — a 1/n_tables footprint
  vs a flat index — partitioned by an id-hash prefix so the exact
  cosine verify fetches only the prefixes of the candidate ids.

Append discipline, crash order, prefix-moduli migration and
auto-compaction are the shared core's: commit moves `signed` files
BEFORE `vecs` files — a vector row landing without its signatures
would never be probed again (fatal), while signatures without the
vector are re-derived on replay (the fresh anti-join is keyed on
`vecs`) and the duplicate signed rows collapse in the candidate
`distinct()`.

Pair semantics are IDENTICAL to similarity.incremental_embedding_dedup
(same signer, same probe-mask expansion, same orientation/distinct,
same exact-cosine verify expressions) — pinned by the store-vs-flat
parity test in tests/test_vec_store.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sig_store import (
    BucketedAppendStore,
)


class VecIndexStore(BucketedAppendStore):
    _LAYOUT_VERSION = "vec-banded-v1"
    # signature identity: a store signed under different hyperplanes
    # (dim/bits/n_tables feed the seeded signer) must not be probed
    # incrementally. The prefix MODULI are layout, adopted from disk.
    _PARAMS = ("dim", "bits", "n_tables", "spfx", "vpfx")
    _BUCKET_DIR, _GROUP, _BUCKET = "signed", "tbl", "sig"
    _BUCKET_PFX, _BUCKET_MOD = "spfx", "spfx"
    _ROW_DIR, _ROW_MOD = "vecs", "vpfx"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        bits: int = 12,
        n_tables: int = 6,
        spfx: int = 32,
        vpfx: int = 32,
    ):
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        self.bits = bits
        self.n_tables = n_tables
        self.spfx = spfx
        self.vpfx = vpfx
        super().__init__(spark, root, "__id", ["__v", "__n"])

    def _n_groups(self) -> int:
        return self.n_tables

    def _bucket_rows(self, idx: DataFrame) -> DataFrame:
        return idx.select("__id", "tbl", "sig")

    def _payload_rows(self, idx: DataFrame) -> DataFrame:
        # embedding_index carries the vector on every table's row
        return idx.filter(F.col("tbl") == 0).select("__id", "__v", "__n")

    def probe(
        self,
        new_vecs: DataFrame,
        threshold: float = 0.85,
        probe_radius: int = 0,
        scale: int = 4,
        assume_fresh: bool = False,
        max_bucket_size: int | None = None,
        stats: dict | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh_index_rows, dup_pairs) for a batch against the store
        — incremental_embedding_dedup's exact semantics with pruned
        reads. fresh_index_rows carries the embedding_index schema
        (__id, __v, __n, tbl, sig); hand it to commit().

        `max_bucket_size` (off by default — oracle-exact) bounds the
        candidate-verify volume against a degenerate embedding region
        flooding one (tbl, sig) bucket — BandedSignatureStore.probe's
        cap, same design (see that docstring for the scale argument):
        each STORE-side bucket, judged on the corpus view (store rows
        in touched partitions + fresh rows), is truncated to its
        `max_bucket_size` smallest ids, so candidates are
        <= batch x tables x masks x cap and every flood member still
        collides with the cluster's canonical (lowest-id, i.e.
        surviving) representatives. `stats` also receives
        `cand_pairs`, the volume the cap bounds."""
        from data_engineering_pipeline_spark.operators.similarity import (
            _probe_masks,
            cosine_ratio,
            dot,
            embedding_index,
        )

        # checkpointed: the signer compiles tables x bits x dim
        # literals into the plan, and the index feeds the fresh
        # anti-join, the probe rows, the verify lookup AND the
        # caller's commit
        new_idx = embedding_index(
            new_vecs, self.id_col, self.vec_col,
            self.dim, self.bits, self.n_tables,
        ).localCheckpoint(eager=False)
        masks = _probe_masks(self.bits, probe_radius)
        probed = new_idx.select(
            "__id", "tbl",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("__m"),
            F.col("sig").alias("__sig0"),
        ).select(
            "__id", "tbl",
            F.col("__sig0").bitwiseXOR(F.col("__m")).alias("sig"),
        )

        def cos_sim(a, b) -> Column:
            return F.round(
                cosine_ratio(dot(a("__v"), b("__v")), a("__n") * b("__n")),
                scale,
            )

        return self._probe(
            new_idx, probed, cos_sim, "cos_sim",
            threshold, assume_fresh, max_bucket_size, stats,
        )

    def compact(
        self,
        to_spfx: int | None = None,
        to_vpfx: int | None = None,
        auto_grow: bool = False,
    ) -> None:
        """Fold per-batch files to one per dir, optionally migrating
        the prefix moduli (see BucketedAppendStore._compact)."""
        self._compact(to_spfx, to_vpfx, auto_grow)
