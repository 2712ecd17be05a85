"""Bucketed append stores for incremental near-dup: one core, two
signers.

A flat state directory (one parquet dir of signature rows) re-reads
and RE-BANDS every row per batch: BASELINE addendum 56 measured that
probe as the delta path's worst scaler (8.6x per 10x of corpus — 45.4 s
at the 500k decade), and addendum 57's slim banding only cut the
shuffle volume, not the O(corpus) read + re-band.

`BucketedAppendStore` persists TWO pruned layouts under one root:

  <root>/<bucket dir>/<group>=G/<bucket prefix>=NN/app-*.parquet
        (id, bucket)          one row per (id, group) — slim
  <root>/<row dir>/pfx=NN/app-*.parquet
        (id, payload...)      one row per id — the verify payload
  <root>/_meta.json           structural params + prefix moduli

- The BUCKET layout holds the LSH buckets ONCE (computed at commit
  time, never re-derived from the payload), hive-partitioned by group
  (band / hash table) and a bucket-value prefix: a batch's probe lists
  the (group, prefix) dirs its own buckets hash into and opens ONLY
  those — for a small batch (the streaming steady state, and any batch
  at the 100 TB corpus/batch ratio) most of the store is never listed,
  and even a bucket-saturating batch reads 3 slim columns instead of
  the payload. The probe side of the candidate join is the batch
  (bounded), so the store side is a pruned SCAN, never a shuffle.
- The ROW layout holds the payload for the verify stage and the replay
  anti-join, partitioned by an id-hash prefix so both reads prune to
  the prefixes of the ids actually being looked up.

`BandedSignatureStore` (MinHash bands over text, below) and
`operators/vec_store.VecIndexStore` (hyperplane signatures over
embeddings) are thin subclasses: each supplies how a batch is signed,
the rows its bucket layout stores and probes with, its payload columns
and its verify score. Everything else — heal-on-open, the meta guard,
pruned reads, the probe skeleton, the staged commit and compaction —
is this one core.

Append discipline is the sinks' move-files-in contract (O(batch),
prior files never rewritten). Crash windows converge on replay: fresh
rows are re-derived by the keys-only anti-join against the ROW layout,
so a partial append is healed by re-committing the batch. commit()
moves bucket files BEFORE row files — the one fatal order is a row
landing without its bucket rows (the id would never be probed again);
buckets-without-row merely re-appends duplicate bucket rows on replay,
which the candidate `distinct()` absorbs.

Structural params (banding / signer identity) are stamped into
`_meta.json` and validated on open — the same layout-version
discipline as refresh_shards' hash stamp: state built under different
signing must not be probed incrementally. The prefix MODULI are pure
layout, not structure (r12): handles adopt them from the store (root
meta, overridden by each layout dir's own `_layout.json`), and only
compact() may change them — it rewrites every file anyway, and the
commit-time auto-compaction passes auto_grow=True so the partitioning
doubles as the store outgrows its per-dir byte budget.

BandedSignatureStore semantics are IDENTICAL to operators/dedup.py
incremental_minhash_dedup (same shingles, signatures, banding structs,
estimator, threshold rule) — pinned by the store-vs-flat parity test.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_META = "_meta.json"
_LAYOUT = "_layout.json"


def _read_layout(base: str) -> dict | None:
    """A layout dir's own modulus record (absent before the dir's
    first commit: the modulus then comes from the root meta)."""
    lp = os.path.join(base, _LAYOUT)
    if not os.path.exists(lp):
        return None
    with open(lp) as fh:
        return json.load(fh)


def _write_layout(base: str, layout: dict) -> None:
    """Stamp a layout dir with the modulus its hive values were
    computed under (atomic; underscore-prefixed so Spark's file
    listing ignores it)."""
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, _LAYOUT + "." + uuid.uuid4().hex[:8])
    with open(tmp, "w") as fh:
        json.dump(layout, fh)
    os.rename(tmp, os.path.join(base, _LAYOUT))


class BucketedAppendStore:
    """The shared two-layout append store. Subclasses declare the
    layout names and structural params as class attributes, set their
    params and moduli, then call `__init__` here; they implement
    `_bucket_rows` and `_n_groups` (and `_payload_rows` when the
    payload is not a plain projection), and their `probe` signs a
    batch and hands it to `_probe`."""

    _LAYOUT_VERSION: str
    # meta keys after "layout", in on-disk order; every one that is
    # not a modulus is structural
    _PARAMS: tuple[str, ...]
    # bucket layout <root>/<_BUCKET_DIR>/<_GROUP>=G/<_BUCKET_PFX>=NN,
    # prefix = <_BUCKET> mod <_BUCKET_MOD>
    _BUCKET_DIR: str
    _GROUP: str
    _BUCKET: str
    _BUCKET_PFX: str
    _BUCKET_MOD: str
    # row layout <root>/<_ROW_DIR>/pfx=NN, prefix = xxhash64(id) mod
    # <_ROW_MOD>
    _ROW_DIR: str
    _ROW_MOD: str

    def __init__(self, spark: SparkSession, root: str, key: str,
                 payload: list[str]):
        self.spark = spark
        self.root = root
        self._key = key
        self._payload = payload
        self._bdir = os.path.join(root, self._BUCKET_DIR)
        self._rdir = os.path.join(root, self._ROW_DIR)
        self._check_meta()
        # heal staging dirs left by a crashed commit (replay re-stages)
        for d in glob.glob(os.path.join(root, ".stage-*")):
            shutil.rmtree(d, ignore_errors=True)
        # heal a crashed compact(): its swap window is rename(base ->
        # aside) then rename(stage -> base) — dying between the two
        # leaves the live dir MISSING with the aside holding the only
        # copy. Restore the aside when base is gone; staged compacts
        # are garbage either way (a rerun re-stages).
        for base in (self._bdir, self._rdir):
            asides = sorted(glob.glob(base + ".old-*"))
            if not os.path.isdir(base) and asides:
                os.rename(asides.pop(0), base)
            for d in asides:
                shutil.rmtree(d, ignore_errors=True)
            for d in glob.glob(base + ".compact-*"):
                shutil.rmtree(d, ignore_errors=True)
        # per-layout moduli win over everything (see _check_meta):
        # each layout dir carries the modulus its hive values were
        # computed under, so a crash between compact()'s two layout
        # swaps (bucket layout migrated, rows not yet) still reads
        # BOTH layouts under their true moduli. Read AFTER healing —
        # the layout file rides inside the dir the heal may restore.
        for base, mod in ((self._bdir, self._BUCKET_MOD),
                          (self._rdir, self._ROW_MOD)):
            lay = _read_layout(base)
            if lay is not None:
                setattr(self, mod, int(lay[mod]))

    # ---------------------------------------------------------- hooks
    def _bucket_rows(self, signed: DataFrame) -> DataFrame:
        """(id, group, bucket) rows the bucket layout stores for a
        signed frame."""
        raise NotImplementedError

    def _payload_rows(self, signed: DataFrame) -> DataFrame:
        """(id, payload...) rows — one per id — the row layout stores
        for a signed frame."""
        return signed.select(self._key, *self._payload)

    def _n_groups(self) -> int:
        """Group dirs per bucket prefix (bands / hash tables)."""
        raise NotImplementedError

    # ---------------------------------------------------------- meta
    def _meta_dict(self) -> dict:
        return {
            "layout": self._LAYOUT_VERSION,
            **{k: getattr(self, k) for k in self._PARAMS},
        }

    def _check_meta(self) -> None:
        mp = os.path.join(self.root, _META)
        if not os.path.exists(mp):
            return
        with open(mp) as fh:
            have = json.load(fh)
        mine = self._meta_dict()
        # params whose mismatch means the persisted state is
        # semantically incompatible with this handle: probing across
        # them silently misses duplicates, so they raise. The prefix
        # MODULI are not in this set — they are pure layout, adopted
        # from the store (only compact() may change them, rewriting
        # every file under the new scheme), so a default-constructed
        # handle keeps working on a store that has grown its
        # partitioning.
        moduli = (self._BUCKET_MOD, self._ROW_MOD)
        if any(have.get(k) != v for k, v in mine.items()
               if k not in moduli):
            raise ValueError(
                "%s %s was built with %r, opened with %r — its signing "
                "params are structural; rebuild the store instead of "
                "probing across them"
                % (type(self).__name__, self.root, have, mine)
            )
        # adopt the store's layout moduli (per-layout _layout.json
        # files override these again in __init__)
        for mod in moduli:
            if mod in have:
                setattr(self, mod, int(have[mod]))

    def _write_meta(self, replace: bool = False) -> None:
        """Atomic meta write. Only compact() passes replace=True: it
        rewrote every file, so the new moduli describe the store
        truthfully."""
        mp = os.path.join(self.root, _META)
        if os.path.exists(mp) and not replace:
            return
        os.makedirs(self.root, exist_ok=True)
        tmp = mp + "." + uuid.uuid4().hex[:8] + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._meta_dict(), fh)
        os.rename(tmp, mp)

    # -------------------------------------------------------- layout
    def exists(self) -> bool:
        return _dir_has_parquet(self._rdir)

    def _pfx_expr(self, col: Column) -> Column:
        return F.pmod(F.xxhash64(col), F.lit(getattr(self, self._ROW_MOD)))

    def _row_dirs(self, prefixes: list[int] | None) -> list[str]:
        return _partition_dirs(self._rdir, {"pfx": prefixes})

    def _bucket_dirs(self, pairs: set[tuple[int, int]] | None) -> list[str]:
        dirs = []
        for gdir in sorted(glob.glob(os.path.join(self._bdir, f"{self._GROUP}=*"))):
            g = int(os.path.basename(gdir).split("=", 1)[1])
            for pd in sorted(glob.glob(os.path.join(gdir, f"{self._BUCKET_PFX}=*"))):
                bp = int(os.path.basename(pd).split("=", 1)[1])
                if pairs is None or (g, bp) in pairs:
                    dirs.append(pd)
        return dirs

    def _read(self, base: str, dirs: list[str], like: DataFrame,
              cols: list[str]) -> DataFrame:
        """Read the selected partition dirs (basePath keeps partition
        columns parsing); empty selection -> typed empty frame."""
        dirs = [d for d in dirs if _dir_has_parquet(d)]
        if not dirs:
            return like.select(*cols).limit(0)
        return (
            self.spark.read.option("basePath", base)
            .parquet(*dirs)
            .select(*cols)
        )

    # --------------------------------------------------------- probe
    def seen_ids(self, ids: DataFrame) -> DataFrame:
        """Store ids restricted to the prefixes of `ids` — the pruned
        form of `existing.select(id)` for anti-joins. Any store id
        equal to a probe id shares its prefix, so the restriction is
        exact."""
        key = self._key
        if not self.exists():
            return ids.select(key).limit(0)
        if getattr(self, self._ROW_MOD) == 1:
            # one prefix dir: the collect could only ever return {0} —
            # skip the extra driver job and read the single dir
            pfx = None
        else:
            pfx = sorted(
                r[0]
                for r in ids.select(
                    self._pfx_expr(F.col(key)).alias("p")
                ).distinct().collect()
            )
        return self._read(
            self._rdir, self._row_dirs(pfx), ids.select(key), [key]
        )

    def _probe(
        self,
        signed: DataFrame,
        probe_rows: DataFrame,
        score,
        score_col: str,
        threshold: float,
        assume_fresh: bool,
        max_bucket_size: int | None,
        stats: dict | None,
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh, pairs) for a signed batch against the store.
        `signed` is the batch's checkpointed signed frame, `probe_rows`
        its (id, group, bucket) probe rows, and `score(a, b)` builds
        the verify score from the two sides' payload columns (`a(c)` /
        `b(c)` name payload column `c` of id_a / id_b); pairs scoring
        >= threshold are returned as (id_a < id_b, score_col)."""
        key, grp, bkt = self._key, self._GROUP, self._BUCKET
        exists = self.exists()
        if assume_fresh or not exists:
            fresh = signed
        else:
            # no broadcast hint: the seen side is pruned-store-sized
            # (batch-sized only when prefixes are selective) — AQE
            # picks the strategy from the pruned size at runtime
            fresh = signed.join(
                self.seen_ids(signed.select(key)), key, "left_anti"
            ).localCheckpoint(eager=False)

        # the batch's buckets name the ONLY store partitions a
        # candidate can live in: the bucket prefix is a pure function
        # of the bucket and the join requires bucket equality. The
        # touched-dirs collect is skipped when it cannot prune
        # anything: on an EMPTY store there are no dirs, and at bucket
        # modulus 1 every id emits every group (one prefix each), so
        # any non-empty batch touches every dir and the collect is a
        # constant (an empty batch then reads dirs the bucket-equality
        # join immediately drops — harmless, and only reachable in the
        # modulus-1 graded mini-config). Skipping it also lets
        # probe_rows stay lazy: its only other consumer is the
        # candidate join, and under AQE a localCheckpoint materializes
        # the plan at call time (one serial driver job saved per
        # probe).
        bmod = getattr(self, self._BUCKET_MOD)
        if exists and bmod > 1:
            probe_rows = probe_rows.localCheckpoint(eager=False)
            touched = {
                (r[0], r[1])
                for r in probe_rows.select(
                    grp, F.pmod(F.col(bkt), F.lit(bmod))
                ).distinct().collect()
            }
        else:
            touched = None if exists else set()
        sel = self._bucket_dirs(touched)
        if stats is not None:
            alls = self._bucket_dirs(None)
            name = self._BUCKET_DIR
            stats[f"{name}_dirs_opened"] = len(
                [d for d in sel if _dir_has_parquet(d)]
            )
            stats[f"{name}_dirs_total"] = len(alls)
            stats[f"{name}_files_opened"] = sum(_n_parquet(d) for d in sel)
            stats[f"{name}_files_total"] = sum(_n_parquet(d) for d in alls)
        store_rows = self._read(self._bdir, sel, probe_rows, [key, grp, bkt])
        # store rows outside the touched buckets can never satisfy the
        # bucket-equality join — the pruned union is exact
        all_rows = store_rows.unionByName(self._bucket_rows(fresh))
        if max_bucket_size is not None:
            # bucket population is judged on the CORPUS view (store
            # rows in the touched partitions + this batch's fresh
            # rows): the flood lives there. Keep the cap SMALLEST ids
            # per bucket — the canonical representatives under the
            # keep-lowest-id survivor rule (see the subclass probe
            # docstrings).
            if stats is not None:
                stats["capped_buckets"] = (
                    all_rows.groupBy(grp, bkt)
                    .agg(F.count(F.lit(1)).alias("__bsz"))
                    .filter(F.col("__bsz") > max_bucket_size)
                    .count()
                )
            w = Window.partitionBy(grp, bkt).orderBy(key)
            all_rows = (
                all_rows.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= max_bucket_size)
                .drop("__rk")
            )
        # no broadcast hint on the batch side: for a micro-batch AQE
        # broadcasts it anyway (probe_rows is checkpointed, so its
        # size is exact at runtime), while a bootstrap probe of a
        # whole corpus through an empty store would otherwise
        # driver-collect millions of bucket rows into a forced
        # broadcast (the r11 500k rebuild measured minutes for it)
        a = probe_rows.alias("a")
        b = all_rows.alias("b")
        cand = (
            a.join(
                b,
                (F.col(f"a.{grp}") == F.col(f"b.{grp}"))
                & (F.col(f"a.{bkt}") == F.col(f"b.{bkt}"))
                & (F.col(f"a.{key}") != F.col(f"b.{key}")),
            )
            .select(
                F.least(F.col(f"a.{key}"), F.col(f"b.{key}")).alias("id_a"),
                F.greatest(F.col(f"a.{key}"), F.col(f"b.{key}")).alias("id_b"),
            )
            .distinct()
        )
        # checkpoint cand ONLY when something reuses it across actions
        # (the row-pruning collect below, or the stats counter). This
        # is not an optimization nicety but load-bearing (r13): under
        # AQE, even localCheckpoint(eager=False) materializes every
        # shuffle stage of the plan AT CALL TIME (Dataset.toRdd builds
        # the AQE query stages), so an unconditional checkpoint ran
        # the full candidate join + distinct inside probe() — on a
        # bootstrap probe of a corpus containing a template flood
        # that is the quadratic wall, paid even when the caller never
        # consumes the pairs (commit-only ingest).
        # at row modulus 1 the prefix collect is a constant ({0}) —
        # skip it, which ALSO keeps cand fully lazy on stats-less
        # probes: the candidate join then first runs inside the
        # caller's own action instead of as a serial job here (the
        # AQE-eager-checkpoint finding, addendum 68)
        prune_rows = exists and getattr(self, self._ROW_MOD) > 1
        if prune_rows or stats is not None:
            cand = cand.localCheckpoint(eager=False)
        if stats is not None:
            stats["cand_pairs"] = cand.count()
        cols = [key, *self._payload]
        if exists:
            if prune_rows:
                cand_pfx = sorted(
                    r[0]
                    for r in cand.select(
                        F.explode(
                            F.array(
                                self._pfx_expr(F.col("id_a")),
                                self._pfx_expr(F.col("id_b")),
                            )
                        ).alias("p")
                    ).distinct().collect()
                )
            else:
                cand_pfx = None
            store_lookup = self._read(
                self._rdir, self._row_dirs(cand_pfx), signed, cols
            )
        else:
            # EMPTY store: the cand_pfx collect's only purpose is
            # pruning the row read, and there is nothing to prune —
            # but the collect would still MATERIALIZE the full
            # candidate set eagerly. On a bootstrap probe whose
            # caller never consumes the pairs (commit-only ingest of
            # a corpus), that materialization is pure waste — and
            # under a template flood it is the quadratic wall, paid
            # for nothing (r13: a 20k-copy flood made the collect
            # effectively unbounded). Keep the whole pairs plan lazy
            # instead; callers that do consume pairs pay the
            # candidate volume exactly once.
            store_lookup = signed.select(*cols).limit(0)
        lookup = store_lookup.unionByName(self._payload_rows(fresh))
        sa = lookup.select(
            F.col(key).alias("id_a"),
            *[F.col(c).alias(f"__a_{c}") for c in self._payload],
        )
        sb = lookup.select(
            F.col(key).alias("id_b"),
            *[F.col(c).alias(f"__b_{c}") for c in self._payload],
        )
        s = score(lambda c: F.col(f"__a_{c}"), lambda c: F.col(f"__b_{c}"))
        pairs = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", s.alias(score_col))
            .filter(F.col(score_col) >= threshold)
        )
        return fresh, pairs

    # -------------------------------------------------------- commit
    # per-partition-dir file count that triggers auto-compaction at
    # the end of a commit: every commit adds ~1 file per touched dir,
    # so an unmaintained long stream accumulates one file per batch
    # per dir and the probe's pruned reads degrade into a
    # small-files listing problem. 64 bounds a dir's files while
    # keeping compaction amortized (one fold per 64 batches).
    COMPACT_THRESHOLD = 64

    def commit(self, fresh: DataFrame, batch_id: int = 0) -> None:
        """Append a batch's fresh signed rows (the probe's `fresh`):
        bucket rows FIRST, then payload rows (see module docstring for
        the crash order). Each partition dir only ever GAINS files —
        O(batch) writes — and when the FULLEST row-layout dir crosses
        COMPACT_THRESHOLD files the whole store folds to one file per
        dir (stage + swap, crash leaves old or new set, both
        complete). A failed stage write removes the staging dir and
        raises every write's error."""
        self._write_meta()
        grp, bpfx = self._GROUP, self._BUCKET_PFX
        buckets = self._bucket_rows(fresh).withColumn(
            bpfx,
            F.pmod(F.col(self._BUCKET), F.lit(getattr(self, self._BUCKET_MOD))),
        )
        rows = self._payload_rows(fresh).withColumn(
            "pfx", self._pfx_expr(F.col(self._key))
        )
        stage = os.path.join(self.root, ".stage-" + uuid.uuid4().hex)
        b_stage = os.path.join(stage, self._BUCKET_DIR)
        r_stage = os.path.join(stage, self._ROW_DIR)
        try:
            # one file per partition dir per commit: repartition by
            # the partition columns so a batch adds one file per
            # touched dir, not tasks x dirs. The two layouts stage
            # CONCURRENTLY (guide §2.6 — overlap independent jobs):
            # the writes share only the checkpointed fresh frame
            # (concurrent first-materialization of one local
            # checkpoint is a synchronized RDDCheckpointData path),
            # and the crash-order contract lives in the MOVES below,
            # which stay strictly buckets-then-rows. For a micro-batch
            # each write is mostly fixed job cost, so overlapping them
            # cuts the commit wall by close to the smaller write.
            _write_concurrently(self.spark, [
                lambda: buckets.repartition(grp, bpfx).write.partitionBy(
                    grp, bpfx).mode("overwrite").parquet(b_stage),
                lambda: rows.repartition("pfx").write.partitionBy(
                    "pfx").mode("overwrite").parquet(r_stage),
            ])
            tok = f"{batch_id}-{uuid.uuid4().hex}"
            if _move_partition_files(b_stage, self._bdir, tok) == 0:
                # empty batch: nothing to land (a replayed batch's
                # fresh set is empty — no empty part-files
                # accumulating)
                return
            _move_partition_files(r_stage, self._rdir, tok)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        # stamp each live layout dir with its modulus (first commit
        # creates the dirs; later commits are a no-op stat)
        for base, mod in ((self._bdir, self._BUCKET_MOD),
                          (self._rdir, self._ROW_MOD)):
            if _read_layout(base) is None:
                _write_layout(base, {mod: getattr(self, mod)})
        # trigger on the FULLEST dir, not the lexicographically first:
        # skewed/tiny batches don't touch dirs symmetrically, so a
        # single sampled dir can lag the real maximum by a multiple
        # (the walk is bounded — post-compaction every dir holds one
        # file, so this counts at most dirs x threshold files).
        # auto_grow: the fold is also the point where the store checks
        # whether its partition dirs have outgrown the probe-read
        # budget and doubles the prefix moduli if so.
        dirs = self._row_dirs(None)
        if dirs and max(_n_parquet(d) for d in dirs) > self.COMPACT_THRESHOLD:
            self.compact(auto_grow=True)

    # --------------------------------------------------- maintenance
    # auto-grow target: compact(auto_grow=True) doubles a layout's
    # prefix modulus until each partition dir holds at most this many
    # bytes — the invariant that keeps a probe's read volume
    # batch-proportional as the corpus grows (each opened dir is
    # 1/(groups*bucket modulus) of the store; a fixed modulus makes
    # that slice grow linearly with the corpus, addendum 59's honest
    # ceiling).
    AUTO_GROW_DIR_BYTES = 8 * 1024 * 1024
    MAX_PFX = 4096

    def _grown_pfx(self, base: str, n_dirs_per_pfx: int, cur: int) -> int:
        total = 0
        for r, _dirs, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(r, f))
                    except OSError:
                        pass
        new = cur
        while (
            new < self.MAX_PFX
            and total / (n_dirs_per_pfx * new) > self.AUTO_GROW_DIR_BYTES
        ):
            new *= 2
        return new

    def _compact(self, to_bucket: int | None, to_row: int | None,
                 auto_grow: bool) -> None:
        """Fold each partition dir's accumulated per-batch files into
        one file (stage + swap per layout; a crash leaves either the
        old or the new file set, both complete).

        `to_bucket` / `to_row` MIGRATE the store to new prefix moduli
        in the same rewrite — compact already touches every file, so
        it is the one legal point where the partitioning may change
        (r11 VERDICT item 5: a fixed bucket modulus caps pruning as
        the corpus grows). `auto_grow=True` picks the moduli instead:
        doubled until each partition dir is back under
        AUTO_GROW_DIR_BYTES — the commit-time auto-compaction passes
        this, so a long-running store re-partitions itself as it
        grows. Crash-safe: each staged layout dir carries its own
        `_layout.json` (swapped atomically with the dir), so dying
        between the two layout swaps leaves the bucket layout at the
        new modulus and the rows at the old — and the next open reads
        each under its true modulus. The root _meta.json is rewritten
        LAST (fresh handles adopt it; per-layout files win until
        then)."""
        old_b = getattr(self, self._BUCKET_MOD)
        old_r = getattr(self, self._ROW_MOD)
        new_b = to_bucket or old_b
        new_r = to_row or old_r
        if auto_grow:
            if _dir_has_parquet(self._bdir):
                new_b = max(
                    new_b, self._grown_pfx(self._bdir, self._n_groups(), new_b)
                )
            if _dir_has_parquet(self._rdir):
                new_r = max(new_r, self._grown_pfx(self._rdir, 1, new_r))
        layouts = (
            (self._bdir, [self._GROUP, self._BUCKET_PFX], self._BUCKET_MOD,
             old_b, new_b, F.pmod(F.col(self._BUCKET), F.lit(new_b))),
            (self._rdir, ["pfx"], self._ROW_MOD, old_r, new_r,
             F.pmod(F.xxhash64(F.col(self._key)), F.lit(new_r))),
        )
        for base, pcols, mod, old, new, pfx in layouts:
            if not _dir_has_parquet(base):
                continue
            df = self.spark.read.parquet(base)
            if new != old:
                df = df.drop(pcols[-1]).withColumn(pcols[-1], pfx)
            stage = base + ".compact-" + uuid.uuid4().hex[:8]
            df.repartition(*pcols).write.partitionBy(*pcols).mode(
                "overwrite"
            ).parquet(stage)
            _write_layout(stage, {mod: new})
            aside = base + ".old-" + uuid.uuid4().hex[:8]
            os.rename(base, aside)
            os.rename(stage, base)
            shutil.rmtree(aside, ignore_errors=True)
        setattr(self, self._BUCKET_MOD, new_b)
        setattr(self, self._ROW_MOD, new_r)
        self._write_meta(replace=True)


class BandedSignatureStore(BucketedAppendStore):
    """MinHash signatures over text:

      <root>/banded/band=B/bpfx=NN/app-*.parquet   (id, bucket)
      <root>/sigs/pfx=NN/app-*.parquet             (id, mh_0..mh_{K-1})

    `banded` holds the LSH band buckets (8 x batch rows x 3 longs on
    the probe side); `sigs` holds the K-column signatures verified by
    matching fraction."""

    _LAYOUT_VERSION = "banded-v1"
    _PARAMS = ("n", "num_hashes", "bands", "sig_pfx", "bucket_pfx")
    _BUCKET_DIR, _GROUP, _BUCKET = "banded", "band", "bucket"
    _BUCKET_PFX, _BUCKET_MOD = "bpfx", "bucket_pfx"
    _ROW_DIR, _ROW_MOD = "sigs", "sig_pfx"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 8,
        sig_pfx: int = 32,
        bucket_pfx: int = 32,
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.sig_pfx = sig_pfx
        self.bucket_pfx = bucket_pfx
        super().__init__(
            spark, root, id_col, [f"mh_{i}" for i in range(num_hashes)]
        )

    def _n_groups(self) -> int:
        return self.bands

    def _bucket_rows(self, sig: DataFrame) -> DataFrame:
        from data_engineering_pipeline_spark.operators.dedup import (
            _band_rows,
            _band_structs,
        )

        band_cols = _band_structs(
            self.bands, _band_rows(self.num_hashes, self.bands)
        )
        return sig.select(
            F.col(self.id_col),
            F.explode(F.array(*band_cols)).alias("bb"),
        ).select(
            self.id_col,
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    def probe(
        self,
        new_docs: DataFrame,
        threshold: float = 0.7,
        assume_fresh: bool = False,
        max_bucket_size: int | None = None,
        stats: dict | None = None,
        shingles: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh_sig, dup_pairs) for a batch against the store —
        the exact incremental_minhash_dedup semantics with pruned
        reads. `assume_fresh=True` skips the store anti-join when the
        caller already removed seen ids (the curation pipeline does).
        `stats`, if given, receives the file-open witness counters
        (plus `cand_pairs`, the verified-candidate volume — the term
        the cap bounds). `shingles`, if given, must equal
        `shingle_sets(new_docs, id_col, text_col, n)` (same id set,
        same arrays) and is used in its place — the caller that also
        needs the batch's shingle sets (an exact-verify arm, say)
        computes them ONCE and both consumers share the pass
        (r14: parity pinned by test_probe_precomputed_shingles_parity).

        `max_bucket_size` (off by default — results exactly match the
        graded oracle) bounds the one term of probe cost that is NOT
        O(batch): candidate volume is sum over touched buckets of
        |batch rows in bucket| x |store rows in bucket|, and a
        template/boilerplate flood makes one band bucket hold an
        unbounded slice of the CORPUS — addendum 65 measured the
        verify join at ~4M pairs for a 5k batch at ~100x replication,
        and neither salting nor AQE skew-join shrinks a pair COUNT
        (cf. cap_hot_buckets, operators/dedup.py). With the cap on,
        each STORE-side bucket is truncated to its `max_bucket_size`
        SMALLEST ids, so candidates are <= batch x bands x cap. This
        deliberately does NOT drop whole buckets (cap_hot_buckets'
        move): the delta pipeline's only dup detection is this probe,
        and the keep-lowest-id survivor rule means the cluster's
        canonical representative IS its smallest id — truncation
        keeps every flood member colliding with exactly the
        representatives that outrank it, so dup-against-flood recall
        is preserved and only redundant loser-vs-loser pairs (already
        adjudicated when those members were first probed) are
        skipped. Costs one extra shuffle of the PRUNED slim scan (the
        per-bucket rank window) — paid only when the cap is on."""
        from data_engineering_pipeline_spark.operators.dedup import (
            minhash_signature,
            shingle_sets,
        )

        id_col = self.id_col
        if shingles is None:
            shingles = shingle_sets(new_docs, id_col, self.text_col, self.n)
        # checkpoint the batch signatures ONCE: sig feeds the fresh
        # anti-join, the banding, the verify lookup AND the caller's
        # commit — without the checkpoint every one of those actions
        # re-runs the tokenize+shingle+minhash chain (and the caller's
        # whole new_docs lineage above it); the r11 500k probe
        # measured that recomputation as the dominant wall. The
        # exploded+aggregate form ON PURPOSE (r14 A/B, negative): a
        # map-only array-expression form would keep this checkpoint
        # lazy under AQE — no serial job here — but higher-order
        # array functions are CodegenFallback (interpreted per
        # element), and the interleaved probe-form A/B read the array
        # variant 1.30x SLOWER on the corpus-sized graded batches
        # (5.74/6.41 vs 4.67/4.66 s): the codegen'd aggregate beats
        # the saved driver job.
        ex = shingles.select(
            F.col(id_col), F.explode("shingles").alias("shingle")
        )
        sig = minhash_signature(ex, id_col, self.num_hashes).localCheckpoint(
            eager=False
        )

        def est_jaccard(a, b) -> Column:
            matches = F.lit(0)
            for c in self._payload:
                matches = matches + F.when(a(c) == b(c), 1).otherwise(0)
            return matches / F.lit(self.num_hashes)

        return self._probe(
            sig, self._bucket_rows(sig), est_jaccard, "est_jaccard",
            threshold, assume_fresh, max_bucket_size, stats,
        )

    def compact(
        self,
        to_sig_pfx: int | None = None,
        to_bucket_pfx: int | None = None,
        auto_grow: bool = False,
    ) -> None:
        """Fold per-batch files to one per dir, optionally migrating
        the prefix moduli (see BucketedAppendStore._compact)."""
        self._compact(to_bucket_pfx, to_sig_pfx, auto_grow)


def _write_concurrently(spark: SparkSession, writes: list) -> None:
    """Run independent write jobs on their own threads and wait for
    all of them. Each thread inherits the caller's Spark local
    properties (job group, description), so the jobs stay attributed
    to the caller. One failure re-raises as itself; several raise
    together as an ExceptionGroup — none is swallowed."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        # one wrap per write: each captures its own copy of the local
        # properties, so the threads never share one mutable set
        futures = [
            pool.submit(inheritable_thread_target(spark)(w)) for w in writes
        ]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup("concurrent writes failed", errors)


def _dir_has_parquet(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _n_parquet(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _partition_dirs(base: str, wanted: dict) -> list[str]:
    """List `base`'s hive partition dirs, keeping only values in
    `wanted` ({col: list|None}); single-level layouts only."""
    ((col, values),) = wanted.items()
    out = []
    for d in sorted(glob.glob(os.path.join(base, f"{col}=*"))):
        v = int(os.path.basename(d).split("=", 1)[1])
        if values is None or v in values:
            out.append(d)
    return out


def _move_partition_files(stage: str, dest: str, tok: str) -> int:
    """Move every staged part-file into the matching partition dir
    under `dest` with unique names (the sinks' append discipline,
    partition-aware). Returns the number of files moved."""
    moved = 0
    for root, _dirs, files in os.walk(stage):
        rel = os.path.relpath(root, stage)
        for i, f in enumerate(sorted(files)):
            if not f.endswith(".parquet"):
                continue
            tgt_dir = dest if rel == "." else os.path.join(dest, rel)
            os.makedirs(tgt_dir, exist_ok=True)
            os.rename(
                os.path.join(root, f),
                os.path.join(tgt_dir, f"app-{tok}-{moved:05d}.parquet"),
            )
            moved += 1
    return moved
