"""Transactional snapshot table: a minimal log-structured table format
giving multi-writer safety, atomic commits, time travel, and file-level
pruning on top of plain parquet — the capability gap VERDICT r5 ranked
first for real users (the reference, like operators/upsert.py, is
single-writer by scope: database.py:60-71).

Layout (the Delta-Lake/Iceberg architecture from the public papers,
re-expressed minimally):

    table/
      _log/00000000.json  00000001.json  ...   one manifest per version
      data/<uuid>.parquet                      immutable data files

A manifest lists the files ADDED and REMOVED by that version plus
per-file row counts and column min/max stats (read locally from parquet
footers — no data scan). The live snapshot at version V is the replay
of manifests 0..V; data files are invisible until a manifest references
them, so writers can stage data at leisure and COMMIT is exactly one
atomic put-if-absent of _log/<next>.json, through a pluggable
CommitBackend: O_CREAT|O_EXCL by default (POSIX/HDFS), or a
coordination-service mutex with crash-completion for object stores
whose PUT is not atomic-if-absent (the Delta-on-S3 LogStore split).

Concurrency (optimistic, like Delta's mutual-exclusion-on-log-entry):
two writers racing for the same version — exactly one O_EXCL create
wins. The loser re-reads the log and retries against the new head:
- append: always rebases cleanly (it removes nothing).
- overwrite: replaces the whole head, rebases cleanly by definition.
- the data-rewriting writers (merge_into, delete_where, update_where,
  compact, purge_dvs) share one guard. A transaction CONFLICTS and
  raises — the caller re-runs on fresh state — when, at the new head,
  (a) a file it rewrites or masks is gone or carries different
  deletion vectors than when it was read, (b) a file in its read set
  is gone, or (c) it is serializable and the live file set changed
  at all (a file added, removed or re-masked). The read set is
  empty except for a merge-on-read delete, which keeps every file
  its predicate scanned. Only MERGE
  is serializable: a concurrent append could add a file holding a
  'not matched' key, silently turning an insert into a duplicate, and
  a concurrent DV commit could mask a row it matched (Delta documents
  the same merge/append conflict at its Serializable level). The others are write-serializable — every
  committed version's removes were live, with the DVs the writer
  read, in its parent — so concurrent appends and DML on files they
  never rewrite or mask rebase cleanly.
- rename/drop column and add-constraint conflict with any concurrent
  commit (their premise is the whole head).

DML write modes: merge_into, delete_where and update_where take
`mode`, with IDENTICAL read-side semantics either way:
- 'cow' (copy-on-write, default): the files holding matched rows are
  rewritten without them, plus the new rows. Best when matches
  cluster in few files — the rewrite IS the footprint.
- 'mor' (merge-on-read, deletion vectors): matched rows are masked by
  one tiny (file, position) DV file that reads apply via anti-join;
  NO data file is rewritten and the new rows append. Write IO is
  bounded by the batch even when its matches scatter across every
  file — the case where copy-on-write degenerates into a table
  rewrite (a measured 64/64-file rewrite for a 1000-row scattered
  merge). Reads pay the anti-join only on DV'd files until
  compact()/purge_dvs()/maintain() materializes the masks away (Delta
  DVs / Iceberg positional deletes, same lazy-compaction contract).
Either way the new rows are written in the table's column types, and
untouched files stay byte-identical in the new version.

Crash safety: a writer dying before its commit leaves only unreferenced
data files (invisible; removed by vacuum()). A writer dying after the
O_EXCL create has committed. There is no intermediate state.

Scale: manifests carry file-level metadata only — O(files) JSON, the
data plane is untouched. Snapshot resolution is a driver-side log
replay from the newest log checkpoint (written every Nth commit), so
resolution cost is O(tail), not O(versions); expire_versions() bounds
history. Reads hand Spark an explicit file
list, so time travel and stat-pruning cost nothing at plan time;
pruning uses the manifest min/max to drop whole files before Spark
ever sees them — the same IO win as partition pruning but on any
stats column.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession


class CommitBackend:
    """The one primitive the whole commit protocol rests on: an atomic
    put-if-absent of the version's manifest. Everything else (staging,
    replay, conflicts) is backend-agnostic. Local filesystems and
    HDFS-like stores get it from O_EXCL / create(overwrite=false);
    object stores without an atomic create (classic S3) plug in a
    coordination-service backend instead — the same split as Delta's
    LogStore abstraction, where S3 commits go through a DynamoDB
    mutex. Implementations must be safe across processes racing on
    the same path."""

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        """Create `path` with `payload` iff it does not exist. Returns
        True when this caller created it, False when it already
        existed (some other writer won). Must be atomic: two racing
        callers see exactly one True."""
        raise TypeError(
            "CommitBackend is an interface; use LocalFSCommitBackend "
            "or a store-specific implementation"
        )


class LocalFSCommitBackend(CommitBackend):
    """Atomic put-if-absent on POSIX local filesystems: the payload is
    written COMPLETELY to a private temp file first, then linked to
    the target name — link(2) fails with EEXIST if any other writer
    won, and a crash at any point leaves either nothing or a whole
    manifest under the target name. (A bare O_CREAT|O_EXCL + write
    has a crash window where the name exists with zero/partial bytes,
    which would wedge the log: the version looks committed but its
    manifest never parses.)"""

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        tmp = path + "." + uuid.uuid4().hex[:8] + ".tmp"
        # the tmp write sits INSIDE the try (ADVICE r8): a write/fsync
        # exception must not strand the temp; a hard crash still can,
        # which is why vacuum's crash-garbage sweep ages out log-dir
        # *.tmp files on the same grace window as staging dirs
        try:
            with open(tmp, "wb") as fh:
                fh.write(payload)
                fh.flush()
                os.fsync(fh.fileno())
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass


class MutexCommitBackend(CommitBackend):
    """Put-if-absent via an EXTERNAL mutex for stores whose plain PUT
    is not atomic-if-absent (classic S3): the claim on the path is
    taken in the coordination service first (DynamoDB conditional
    write, a database unique insert...), and only the claim winner
    writes the object — losers never even attempt the PUT, so a
    non-atomic store can't produce two manifests for one version.

    `claims` is the coordination handle: any object with a
    `claim(key, payload) -> bytes | None` method that atomically
    records first ownership WITH the winner's payload (None = this
    caller won; otherwise the recorded winner's payload comes back).
    Recording the payload closes the crash window: a winner dying
    between its claim and its PUT cannot wedge the version — the next
    writer of that path fails its claim, COMPLETES the crashed
    winner's write from the recorded payload (idempotent: same bytes,
    tmp+replace), and then reports the loss, exactly the
    commit-completion step of the S3+DynamoDB LogStore protocol.
    InMemoryClaims below implements the handle for tests and
    single-process multi-threaded writers; a DynamoDB/ZooKeeper/DB
    unique-insert implementation drops in for real object stores."""

    def __init__(self, claims):
        self.claims = claims

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        if os.path.exists(path):
            return False  # fast path: a prior winner's object landed
        prior = self.claims.claim(path, payload)
        if prior is None:
            self._write(path, payload)
            return True
        if not os.path.exists(path):
            # complete a crashed winner's commit so the log never
            # wedges on a claimed-but-missing version
            self._write(path, prior)
        return False

    @staticmethod
    def _write(path: str, payload: bytes) -> None:
        tmp = path + "." + uuid.uuid4().hex[:8] + ".tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, path)
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass  # the replace consumed it (the normal path)


class InMemoryClaims:
    """Process-local coordination for MutexCommitBackend: a lock and a
    claim->payload map — the in-memory stand-in for a DynamoDB
    conditional write, sufficient for tests and single-process
    multi-threaded writers."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._claims: dict[str, bytes] = {}

    def claim(self, key: str, payload: bytes) -> bytes | None:
        with self._lock:
            prior = self._claims.get(key)
            if prior is not None:
                return prior
            self._claims[key] = payload
            return None


class SnapshotConflict(Exception):
    """A read-modify-write transaction lost the race: files it read
    were removed by a concurrently committed version. Re-run on fresh
    state."""


class SchemaConflict(Exception):
    """An incoming DataFrame re-declares an existing column with a
    different type. Schema evolution only ADDS columns — silent type
    rewrites corrupt every existing file's read."""


class ExpectationViolation(Exception):
    """A fail-action expectation found violating rows; the batch was
    NOT committed."""


class Expectation:
    """A data-quality gate on incoming batches (the Delta
    constraints / DLT expectations idea): `predicate` is a SQL boolean
    over the batch's columns; rows where it is false OR NULL violate.
    `action`: 'fail' aborts the commit, 'drop' commits only passing
    rows, 'warn' commits everything. Violation counts land in the
    manifest either way — the corpus-quality audit trail."""

    def __init__(self, name: str, predicate: str, action: str = "fail"):
        if action not in ("fail", "drop", "warn"):
            raise ValueError("action must be fail | drop | warn")
        self.name = name
        self.predicate = predicate
        self.action = action


def enforce_expectations(
    df: DataFrame, expects: list[Expectation]
) -> tuple[DataFrame, dict[str, int]]:
    """Count violations per expectation (ONE aggregate pass over the
    batch — batch-sized, never table-sized), raise on any 'fail' hit,
    and filter 'drop' rows. Returns (clean frame, {name: violations}).
    Usable standalone in any pipeline stage, not just table commits."""
    from pyspark.sql import functions as F

    row = df.agg(
        *[
            F.sum(
                F.when(F.expr(e.predicate), F.lit(0)).otherwise(F.lit(1))
            ).alias(e.name)
            for e in expects
        ]
    ).collect()[0]
    report = {e.name: int(row[e.name] or 0) for e in expects}
    bad = [e.name for e in expects
           if e.action == "fail" and report[e.name]]
    if bad:
        raise ExpectationViolation(
            f"expectations failed: "
            f"{ {n: report[n] for n in bad} }; batch not committed"
        )
    out = df
    for e in expects:
        if e.action == "drop" and report[e.name]:
            out = out.filter(
                F.coalesce(F.expr(e.predicate), F.lit(False))
            )
    return out, report


# Safe, lossless type-widening lattices (the Delta/Iceberg type
# widening rules): a file written with the narrower physical type
# stays readable under the wider table schema — Spark 4's parquet
# reader upcasts natively when handed an explicit wider schema.
_WIDEN_INT = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_WIDEN_FLOAT = {"float": 0, "double": 1}


def _widened(a, b):
    """The wider of two WIDENING-COMPATIBLE types, else None (same
    type is trivially compatible)."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    for lattice in (_WIDEN_INT, _WIDEN_FLOAT):
        if an in lattice and bn in lattice:
            return a if lattice[an] >= lattice[bn] else b
    return None


def _merge_schemas(base, extra):
    """Evolve `base` with `extra`: new fields append; shared fields
    must agree on type OR widen losslessly (byte<short<int<long,
    float<double — the table schema takes the wider type and narrower
    files upcast at read). Anything else (string vs int, long into a
    float chain) is refused. Nullability is not compared — parquet
    files written from non-null frames stay readable under a nullable
    table schema."""
    from pyspark.sql.types import StructField, StructType

    by_name = {f.name: f for f in base.fields}
    merged = list(base.fields)
    for f in extra.fields:
        have = by_name.get(f.name)
        if have is None:
            merged.append(f)
            continue
        wide = _widened(have.dataType, f.dataType)
        if wide is None:
            raise SchemaConflict(
                f"column {f.name!r} is {have.dataType.simpleString()} in "
                f"the table but {f.dataType.simpleString()} in the "
                "incoming data; evolution adds columns or widens "
                "losslessly (byte<short<int<long, float<double)"
            )
        if wide != have.dataType:
            merged = [
                StructField(x.name, wide, x.nullable, x.metadata)
                if x.name == f.name else x
                for x in merged
            ]
    return StructType(merged)


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _file_stats(files: list[str], stat_cols: list[str]) -> list[dict]:
    """Per-file row counts and column min/max, read from parquet FOOTERS
    (local metadata decode, no data scan). Stats power read-time file
    pruning; only min/max of scalar-comparable columns are kept."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        stats: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in stat_cols:
                    continue
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                mn, mx = s.min, s.max
                if isinstance(mn, bytes):
                    continue  # physical byte stats aren't comparable
                if not isinstance(mn, (int, float, str, bool)):
                    mn, mx = str(mn), str(mx)
                if name in stats:
                    stats[name] = [min(stats[name][0], mn),
                                   max(stats[name][1], mx)]
                else:
                    stats[name] = [mn, mx]
        out.append(
            {
                "path": os.path.basename(f),
                "rows": md.num_rows,
                "stats": stats,
            }
        )
    return out


# sentinel: the caller did not capture a column-mapping basis, so the
# commit loop skips the concurrent-rename conflict check (schema-
# replacing ops like overwrite/restore/publish legitimately clobber it)
_COLMAP_UNGUARDED = object()

_BLOOM_DIR = "_bloom"
# Bloom sizing (r11): a merge probes each candidate file's sidecar
# with EVERY distinct source key, so the per-file survival odds are
# ~q * fp — at the old ~1% fp a 5,000-key batch kept every file and
# the index only served point lookups. 20 bits/row with k=14 gives
# fp ~7e-5 before the power-of-2 m rounding (usually another 2-4x
# margin), which keeps big-batch merge pruning effective up to
# q ~ 10^4 distinct keys. Old sidecars persist their own k and still
# probe correctly.
_BLOOM_K = 14
_BLOOM_BITS_PER_ROW = 20
# distinct-key cap for collecting a big merge batch's key values for
# bloom probing (driver holds one value list; the positions job and
# the vectorized bit test are both O(q) with tiny constants). Batches
# beyond the cap fall back to stat-range pruning only.
_BLOOM_MERGE_POINT_CAP = 65536


def _bloom_path(table_path: str, data_file: str) -> str:
    return os.path.join(
        table_path, "data", _BLOOM_DIR, data_file + ".bloom"
    )


class SnapshotTable:
    """Handle on a snapshot table directory. Stateless between calls —
    every operation re-reads the log head, which is what makes the
    optimistic protocol correct across processes."""

    def __init__(self, spark: SparkSession, path: str,
                 stat_cols: list[str] | None = None,
                 checkpoint_every: int = 16,
                 commit_backend: CommitBackend | None = None,
                 bloom_cols: list[str] | None = None,
                 generated_cols: dict[str, str] | None = None,
                 cdf: bool = False):
        self.spark = spark
        self.path = path
        self.stat_cols = stat_cols or []
        # generated_cols: {column: SQL expr over the other columns}
        # (Delta's generated columns). A write missing the column gets
        # it materialized — typically a coarse derivation of a fine
        # column (day from a timestamp, prefix from an id) listed in
        # stat_cols/bloom_cols so reads prune on it. A write that
        # SUPPLIES the column is trusted as-is (validate with a CHECK
        # constraint if needed). Persisted as `generated.<col>` table
        # properties, so every handle materializes them.
        self.generated_cols = dict(generated_cols or {})
        # bloom_cols: columns that get a per-file BLOOM FILTER sidecar
        # at write time, enabling equality file-skipping on
        # high-cardinality UNSORTED columns — exactly where min/max
        # stat pruning is useless because every file's range spans the
        # whole domain (Delta's bloom filter index / Iceberg puffin
        # sidecars, same contract: a miss proves absence, a hit means
        # "must open"). Like stat_cols, a handle-level convention.
        self.bloom_cols = bloom_cols or []
        # cdf: capture CHANGE-DATA FILES at DML commit time (Delta's
        # delta.enableChangeDataFeed): merge/delete/update stage their
        # change rows as a cdc parquet riding the same manifest, so
        # change_feed() reads exact change rows instead of diffing the
        # commit's churned files. Opt-in (costs one batch-sized write
        # per DML commit; the MoR paths additionally read the matched
        # rows they otherwise only mask). Property-persisted.
        self.cdf = cdf
        # probe positions are computed by a tiny Spark job (the only
        # way to reproduce xxhash64 exactly); memoized per
        # (col, m, type, values) so repeated point lookups — the
        # bloom workload — pay it once, not per read. Parsed sidecars
        # are cached too (they are immutable once written; a data
        # file's bloom never changes).
        self._bloom_pos_memo: dict = {}
        self._bloom_sidecar_cache: dict = {}
        # the atomic put-if-absent provider; swap in MutexCommitBackend
        # (with a real coordination service) for object stores whose
        # plain PUT is not atomic-if-absent
        self.commit_backend = commit_backend or LocalFSCommitBackend()
        # every Nth commit also writes a log CHECKPOINT (the fully
        # replayed live-file state + txn high-water marks), so snapshot
        # resolution is O(N) tail manifests instead of O(versions) —
        # the same device as Delta's _last_checkpoint. Checkpoints are
        # derived data: deleting one only makes reads replay further.
        self.checkpoint_every = checkpoint_every

    # ---------------- log plumbing ----------------

    def _versions(self) -> list[int]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(d)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_manifest(self, version: int) -> dict:
        with open(_manifest_path(self.path, version)) as fh:
            return json.load(fh)

    def _manifest_ts(self, version: int) -> float:
        """Commit timestamp of `version`. Manifests are immutable so
        the answer is memoized per handle. Pre-`ts` manifests (tables
        written before timestamps were stamped) fall back to the
        manifest file's mtime — the same approximation Delta used
        before in-commit timestamps."""
        memo = getattr(self, "_ts_memo", None)
        if memo is None:
            memo = self._ts_memo = {}
        if version in memo:
            return memo[version]
        m = self._read_manifest(version)
        ts = m.get("ts")
        if ts is None:
            ts = os.path.getmtime(_manifest_path(self.path, version))
        memo[version] = float(ts)
        return memo[version]

    def version_at_timestamp(self, ts: float) -> int:
        """Time travel by TIMESTAMP: the latest committed version whose
        commit time is <= `ts` (what the table looked like at that
        moment). Commit timestamps are monotone in version (stamped
        max(now, prev+1ms) at commit), so a linear scan back from the
        head stops at the first qualifying version — O(distance from
        head), not O(log length), for the common recent-ts case.
        Raises if `ts` predates the oldest SURVIVING manifest (history
        before it was expired by retention) or the table is empty."""
        vs = self._versions()
        if not vs:
            raise ValueError("empty table (no committed version)")
        for v in reversed(vs):
            if self._manifest_ts(v) <= ts:
                return v
        raise ValueError(
            f"timestamp {ts} predates the oldest retained version "
            f"{vs[0]} (committed {self._manifest_ts(vs[0])}); earlier "
            "history has been expired by retention"
        )

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(
            _log_dir(self.path), f"{version:08d}.checkpoint.json"
        )

    def _checkpoints(self) -> list[int]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return []
        suf = ".checkpoint.json"
        return sorted(
            int(f[: -len(suf)]) for f in os.listdir(d)
            if f.endswith(suf) and f[: -len(suf)].isdigit()
        )

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the replayed state at `version` (live files +
        per-app txn high-water marks) as one JSON file, via tmp+rename
        so readers never see a partial checkpoint. Only the committer
        of `version` calls this, so there is no write race; a crash
        mid-write leaves a tmp file the log scan ignores."""
        path = self._checkpoint_path(version)
        if os.path.exists(path):
            return
        live = self._live_files(version)
        props = self.properties_at(version)
        if props.get("colmap"):
            # column-mapped table: materialize each entry's write-time
            # physical-name mapping NOW, while every adding version's
            # manifest (and its colmap property) still exists — after
            # retention expires those manifests, version-stamp
            # resolution would fall back to the bootstrap mapping and
            # misread post-rename files
            live = {
                n: (e if e.get("cmap") is not None
                    else {**e, "cmap": self._entry_cmap(e)})
                for n, e in live.items()
            }
        state = {
            "version": version,
            "live": live,
            "txns": self._txns_through(version),
            "props": props,
        }
        # the schema must survive retention too: after expire deletes
        # the manifest that recorded it, _schema_at falls back to the
        # newest checkpoint at or below the read version — without
        # this, reads degrade to footer inference (breaking evolution
        # null-fill) and mapped tables silently serve physical names
        sch = self._schema_at(version)
        if sch is not None:
            state["schema"] = sch.json()
        tmp = path + "." + uuid.uuid4().hex[:8] + ".tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump(state, fh)
            os.rename(tmp, path)
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass  # the rename consumed it (the normal path)

    def _replay_base(self, version: int) -> tuple[int, dict]:
        """Latest checkpoint at or below `version` -> (next version to
        replay, starting live-file state)."""
        for cv in reversed(self._checkpoints()):
            if cv <= version:
                with open(self._checkpoint_path(cv)) as fh:
                    return cv + 1, dict(json.load(fh)["live"])
        return 0, {}

    def _live_files(self, version: int | None = None) -> dict[str, dict]:
        """Replay manifests up to `version` -> {file name: file entry},
        starting from the newest checkpoint at or below it (O(tail)
        instead of O(versions))."""
        head = self.latest_version()
        if head is None:
            return {}
        if version is None:
            version = head
        if version > head or version < 0:
            raise ValueError(f"version {version} not in log (head {head})")
        start, live = self._replay_base(version)
        for v in range(start, version + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                raise ValueError(
                    f"version {v} has been expired by a retention run "
                    "and no checkpoint covers it"
                ) from None
            for r in m["removes"]:
                live.pop(r, None)
            for a in m["adds"]:
                # stamp the ADDING version: column mapping resolves a
                # file's physical column names from the colmap that was
                # current when the file entered the log (explicit
                # per-entry "cmap" — stamped by restore/clone/publish —
                # wins over the version stamp)
                live[a["path"]] = {**a, "v": v}
            # merge-on-read: a deletion-vector commit attaches dv files
            # to still-live targets; a target's DVs die with it (the
            # pop above) — compaction implicitly retires them
            for d in m.get("dv_adds", []):
                for tgt in d["targets"]:
                    e = live.get(tgt)
                    if e is not None:
                        live[tgt] = {
                            **e, "dvs": [*e.get("dvs", []), d["path"]]
                        }
        return live

    def _stage_files(self, df: DataFrame, prefix: str = "") -> list[str]:
        """The one staging step of every write: Spark writes df into a
        private `.stage-<token>` dir, its part files move into data/ as
        `<prefix><token>-NNNNN.parquet`, and the stage dir is removed
        whether the write succeeded or raised. Moved files stay
        unreferenced until a manifest commits them — a crash here
        leaves garbage for vacuum(), never a visible partial write.
        Returns the moved paths."""
        token = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, f".stage-{token}")
        moved = []
        try:
            df.write.mode("overwrite").parquet(tmp)
            data = os.path.join(self.path, "data")
            os.makedirs(data, exist_ok=True)
            for i, f in enumerate(sorted(os.listdir(tmp))):
                if f.endswith(".parquet"):
                    dst = os.path.join(
                        data, f"{prefix}{token}-{i:05d}.parquet"
                    )
                    os.rename(os.path.join(tmp, f), dst)
                    moved.append(dst)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return moved

    def _stage(self, df: DataFrame) -> list[dict]:
        """Stage df as data files and return their manifest adds
        (row counts, stats, bloom sidecars written)."""
        moved = self._stage_files(df)
        stats = _file_stats(moved, self._effective_stat_cols())
        bloom_cols = self._effective_bloom_cols()
        if bloom_cols and moved:
            self._write_blooms(moved, stats, bloom_cols)
        return stats

    def _effective_cols(self, own: list[str], prop_key: str) -> list[str]:
        """The handle's own column list, else the table property a
        previous writer stamped — so a stats/bloom-unaware handle (a
        nightly maintain() job, a generic sink) keeps the metadata
        alive through its rewrites instead of silently shedding it.

        Column-mapping staleness guard: on a RENAMED table, a handle
        constructed before the rename still advertises the old names —
        writing (and property-stamping) those would silently kill
        stats/blooms table-wide (files gain no stats under a name the
        schema no longer has, and the stamped property clobbers the
        renamed one). When a colmap exists and any advertised name is
        absent from the head schema, the PERSISTED property (which the
        rename updated) wins. The cost of the guard: on a mapped
        table, a stale handle cannot introduce stats for a brand-new
        column in the same write — rebuild the handle after renames."""
        head = self.latest_version()
        if own:
            if head is not None and self._colmap_at(head) is not None:
                sch = self._schema_at(head)
                if sch is not None and any(
                    c not in sch.fieldNames() for c in own
                ):
                    prop = self.properties_at().get(prop_key, "")
                    persisted = [c for c in prop.split(",") if c]
                    if persisted:
                        return persisted
            return own
        if head is None:
            return []
        prop = self.properties_at().get(prop_key, "")
        return [c for c in prop.split(",") if c]

    def _effective_stat_cols(self) -> list[str]:
        return self._effective_cols(self.stat_cols, "stat_cols")

    def _effective_bloom_cols(self) -> list[str]:
        return self._effective_cols(self.bloom_cols, "bloom_cols")

    def _effective_generated(self) -> dict[str, str]:
        if self.generated_cols:
            return self.generated_cols
        if self.latest_version() is None:
            return {}
        pfx = "generated."
        return {
            k[len(pfx):]: v
            for k, v in self.properties_at().items()
            if k.startswith(pfx) and v
        }

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Materialize missing generated columns on an incoming write
        (no-op when none are configured or all are supplied)."""
        from pyspark.sql import functions as F

        for c, expr in self._effective_generated().items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(expr))
        return df

    # ---------------- column mapping (rename / drop) ----------------
    #
    # Iceberg/Delta-style COLUMN MAPPING: every column gets a stable
    # integer id the first time it appears, and all metadata that must
    # survive a rename — per-file stats keys, bloom sidecar columns,
    # CDC rows, prune predicates — resolves through ids instead of
    # names. The mapping lives in the versioned `colmap` table property
    # (JSON {current_name: id}); a data file's PHYSICAL column names
    # are the names that were current when it was committed, recovered
    # from the colmap at the file's adding version (stamped on every
    # live entry during replay) or from an explicit per-entry "cmap"
    # (stamped by restore/clone/publish, whose adds re-reference files
    # born under older mappings). Tables that never rename/drop never
    # get a colmap and take the exact pre-mapping code paths — zero
    # plan or metadata change.

    def _colmap_at(self, version: int | None) -> dict[str, int] | None:
        """{current_name: id} as of `version`, None when the table has
        no column mapping at that version (pre-bootstrap). Memoized
        per committed version (immutable once committed) — the prune
        paths resolve entry mappings O(files x predicates) times per
        merge, and each resolution would otherwise re-list the log and
        re-parse the property JSON. `None` results are NOT memoized
        (a table can bootstrap mapping later in this handle's life)."""
        if version is None or self.latest_version() is None:
            return None
        memo = self.__dict__.setdefault("_colmap_memo", {})
        if version in memo:
            return dict(memo[version])
        raw = self.properties_at(version).get("colmap")
        if not raw:
            return None
        cm = {n: int(i) for n, i in json.loads(raw).items()}
        if len(memo) > 256:
            memo.clear()
        memo[version] = dict(cm)
        return cm

    def _colmap_base(self) -> dict[str, int] | None:
        """The PRE-BOOTSTRAP name->id mapping — the interpretation for
        files (and checkpoint entries) that predate the mapping: their
        physical names are exactly the names current at bootstrap,
        because renames only exist after it. Stamped as the
        `colmap_base` property by the bootstrapping rename/drop (the
        first `colmap` itself already reflects that commit's change,
        so it is NOT a valid interpretation of older files). Memoized
        once found (immutable); absence is never memoized — a table
        can bootstrap later in this handle's life."""
        memo = self.__dict__.get("_colmap_base_memo")
        if memo is not None:
            return memo
        head = self.latest_version()
        if head is None:
            return None
        raw = self.properties_at(head).get("colmap_base")
        base = (
            {n: int(i) for n, i in json.loads(raw).items()}
            if raw else None
        )
        if base is not None:
            self._colmap_base_memo = base
        return base

    def _entry_phys(self, e: dict) -> dict[int, str]:
        """id -> physical column name for one live-file entry."""
        cmap = e.get("cmap")
        if cmap is not None:
            return {int(i): n for n, i in cmap.items()}
        cm = self._colmap_at(e.get("v")) if e.get("v") is not None else None
        if cm is None:
            cm = self._colmap_base() or {}
        return {i: n for n, i in cm.items()}

    def _entry_cmap(self, e: dict) -> dict[str, int]:
        """{physical_name: id} for one entry — the explicit form
        restore/clone/publish stamp onto re-referenced adds so the
        mapping survives without the original log."""
        return {n: i for i, n in self._entry_phys(e).items()}

    def _stats_name(self, e: dict, col: str,
                    colmap: dict[str, int] | None) -> str:
        """The key under which `col` (a CURRENT name) appears in this
        entry's stats / bloom sidecar — its physical name at write
        time. Falls back to the name itself when unmapped (the file
        then simply has no stats under it: conservative keep)."""
        if colmap is None or col not in colmap:
            return col
        return self._entry_phys(e).get(colmap[col], col)

    def _colmap_token(self, version: int | None = None) -> str | None:
        """The raw colmap property at `version` (head when None) — a
        cheap comparable token for the concurrent-rename conflict
        guard: a writer that read its schema under one mapping must
        not commit under another (its staged old-name columns would
        silently re-enter the schema as brand-new columns)."""
        head = self.latest_version() if version is None else version
        if head is None:
            return None
        return self.properties_at(head).get("colmap")

    def _next_col_id(self, version: int) -> int:
        props = self.properties_at(version)
        if "colmap_seq" in props:
            return int(props["colmap_seq"])
        cm = self._colmap_at(version) or {}
        return (max(cm.values()) + 1) if cm else 0

    def _remap_names(self, df: DataFrame, from_v: int, to_v: int,
                     keep: tuple = ()) -> DataFrame:
        """Rename df's columns from their `from_v` names to their
        `to_v` names through the ids; columns dropped by `to_v` are
        omitted, `keep` columns (feed bookkeeping) pass through. No-op
        when the table has no mapping."""
        from pyspark.sql import functions as F

        cm_from = self._colmap_at(from_v)
        cm_to = self._colmap_at(to_v)
        if cm_from is None and cm_to is None:
            return df
        base = self._colmap_base() or {}
        cm_from = cm_from if cm_from is not None else base
        cm_to = cm_to if cm_to is not None else base
        id_to_new = {i: n for n, i in cm_to.items()}
        sel = []
        for c in df.columns:
            if c in keep or c not in cm_from:
                sel.append(F.col(c))
                continue
            i = cm_from[c]
            if i in id_to_new:
                sel.append(F.col(c).alias(id_to_new[i]))
            # else: dropped by to_v — omit
        return df.select(*sel)

    def _name_at(self, version: int, col: str, ref_version: int) -> str:
        """The name `col` (current at ref_version) had at `version`."""
        cm_ref = self._colmap_at(ref_version)
        if cm_ref is None or col not in cm_ref:
            return col
        i = cm_ref[col]
        cm_v = self._colmap_at(version)
        if cm_v is None:
            cm_v = self._colmap_base() or {}
        for n, j in cm_v.items():
            if j == i:
                return n
        return col

    def _colmap_props(self, head: int | None, schema,
                      replace: bool) -> dict | None:
        """Property updates a commit recording `schema` must carry to
        keep the colmap consistent: new columns get fresh ids; an
        overwrite (replace) restricts the mapping to the surviving
        names. None when the table has no mapping (nothing to do) or
        nothing changed. Called per commit-loop retry — the head (and
        therefore the base mapping) can move between attempts."""
        cm = self._colmap_at(head) if head is not None else None
        if cm is None or schema is None:
            return None
        names = schema.fieldNames()
        out = dict(cm)
        if replace:
            out = {n: i for n, i in out.items() if n in names}
        seq = self._next_col_id(head)
        for n in names:
            if n not in out:
                out[n] = seq
                seq += 1
        if out == cm and seq == self._next_col_id(head):
            return None
        return {"colmap": json.dumps(out), "colmap_seq": str(seq)}

    def _write_blooms(self, moved: list[str], stats: list[dict],
                      bloom_cols: list[str] | None = None) -> None:
        """Write one bloom-filter sidecar per staged data file, built in
        ONE distributed pass over ONLY the new files: each value sets
        k = 7 bit positions (xxhash64(value, seed) mod m), OR-folded
        into 64-bit words JVM-side via a bit_or aggregate (map-side
        combined, so at most m/64 sparse (file, word) rows per file
        leave the shuffle — never anything row-count-shaped), then
        PACKED INTO THE DENSE BITSET EXECUTOR-SIDE (Arrow-batched
        applyInPandas): the driver collects exactly one m/8-byte blob
        per file, not word rows. m is sized to ~10 bits per row of the
        batch's largest file (~1% false positives).

        Sidecar format is binary — a one-line JSON header
        {"m","k","cols":{col:[offset,len]}} followed by the raw
        bitsets — because readers parse EVERY candidate's sidecar:
        a point lookup over 64 files must cost 64 header reads + bit
        probes, not 64 multi-MB JSON decodes. Sidecars land in
        data/_bloom/ BEFORE the manifest commits, so a crash strands
        only invisible sidecars (swept with their data files); a
        missing or column-less sidecar makes reads keep the file —
        pruning is only ever an over-approximation of "might
        contain"."""
        import pandas as pd
        from pyspark.sql import functions as F

        max_rows = max((e["rows"] for e in stats), default=0)
        if max_rows == 0:
            return
        m = 1024
        while m < _BLOOM_BITS_PER_ROW * max_rows:
            m *= 2
        base = self.spark.read.parquet(*moved)
        cols = [
            c for c in (bloom_cols or self.bloom_cols)
            if c in base.columns
        ]
        if not cols:
            return
        base = base.select(
            F.col("_metadata.file_name").alias("__f"),
            *[F.col(c) for c in cols],
        )
        n_words = m // 64

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            arr = np.zeros(n_words, dtype="<i8")
            arr[pdf["w"].to_numpy(dtype="int64")] = (
                pdf["b"].to_numpy(dtype="int64")
            )
            return pd.DataFrame(
                {"f": [pdf["__f"].iloc[0]], "bits": [arr.tobytes()]}
            )

        per_file: dict[str, dict[str, bytes]] = {}
        for c in cols:
            rows = (
                base.where(F.col(c).isNotNull())
                .select(
                    "__f",
                    F.explode(F.array(*[
                        F.pmod(F.xxhash64(F.col(c), F.lit(s)), F.lit(m))
                        for s in range(_BLOOM_K)
                    ])).alias("p"),
                )
                .groupBy(
                    "__f",
                    F.expr("shiftright(p, 6)").alias("w"),
                )
                .agg(F.bit_or(F.expr(
                    "shiftleft(1L, cast(pmod(p, 64) as int))"
                )).alias("b"))
                .groupBy("__f")
                .applyInPandas(pack, "f string, bits binary")
                .collect()
            )
            for r in rows:
                per_file.setdefault(r["f"], {})[c] = bytes(r["bits"])
        bdir = os.path.join(self.path, "data", _BLOOM_DIR)
        os.makedirs(bdir, exist_ok=True)
        zero = b"\x00" * (m // 8)  # all-null column: proves absence
        # record each column's WRITE-TIME type: xxhash64 output depends
        # on the physical type, so after a type widening (int column
        # widened to long) probes must hash with the type the sidecar
        # bits were set with, not the current schema type
        col_types = {
            f.name: f.dataType.typeName()
            for f in base.schema.fields if f.name in cols
        }
        for f in moved:
            name = os.path.basename(f)
            header: dict = {
                "m": m, "k": _BLOOM_K, "cols": {}, "types": col_types,
            }
            blobs = b""
            for c in cols:
                bts = per_file.get(name, {}).get(c, zero)
                header["cols"][c] = [len(blobs), len(bts)]
                blobs += bts
            tmp = _bloom_path(self.path, name) + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(json.dumps(header).encode() + b"\n" + blobs)
            os.replace(tmp, _bloom_path(self.path, name))

    def _bloom_probe_positions(
        self, col: str, values: list, m: int, dtype,
        k: int = _BLOOM_K,
    ) -> list[tuple[int, ...]]:
        """k bit positions per probe value, computed by SPARK ITSELF
        with the identical expression the writer used — xxhash64's
        output depends on the value's physical type, so driver-side
        reimplementation would be a silent-corruption trap; a tiny
        local job on the probe values (bounded by the probe, never the
        table) is exact by construction. `k` comes from the SIDECAR
        being probed (it persists its own hash count precisely so a
        later change of the default cannot misprobe old files)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        df = self.spark.createDataFrame(
            [(v,) for v in values],
            StructType([StructField("v", dtype)]),
        )
        rows = df.select(F.array(*[
            F.pmod(F.xxhash64(F.col("v"), F.lit(s)), F.lit(m))
            for s in range(k)
        ]).alias("ps")).collect()
        return [tuple(int(p) for p in r["ps"]) for r in rows]

    def _load_bloom(self, name: str,
                    entry: dict | None = None) -> dict | None:
        """Parse (and cache) one sidecar: {"m", "k", "cols": {col:
        bitset bytes}}. Sidecars are write-once, so caching by file
        name is safe; the cache is capped like the position memo.
        Clone-inherited entries (`loc`) look the sidecar up beside
        the SOURCE file, so a clone keeps the source's bloom prunes."""
        cache = self._bloom_sidecar_cache
        if name in cache:
            return cache[name]
        if entry is not None and entry.get("loc"):
            src_table = os.path.dirname(os.path.dirname(entry["loc"]))
            sp = _bloom_path(src_table, name)
        else:
            sp = _bloom_path(self.path, name)
        if not os.path.exists(sp):
            doc = None
        else:
            with open(sp, "rb") as fh:
                header_line = fh.readline()
                blobs = fh.read()
            header = json.loads(header_line)
            doc = {
                "m": header["m"],
                "k": header["k"],
                "cols": {
                    c: blobs[off:off + ln]
                    for c, (off, ln) in header["cols"].items()
                },
                "types": header.get("types", {}),
            }
        if len(cache) > 512:
            cache.clear()
        cache[name] = doc
        return doc

    def _bloom_keep_files(
        self, files: dict[str, dict],
        preds: list[tuple[str, list]],
        version: int | None,
    ) -> dict[str, dict]:
        """Drop candidate files whose bloom sidecar PROVES they contain
        none of the probe values for some predicate. Conservative on
        every gap: no sidecar, un-indexed column, or unknown column
        type all keep the file. Probe positions are computed once per
        (column, m, values) across the candidate set and memoized on
        the handle."""
        v = self.latest_version() if version is None else version
        schema = self._schema_at(v)
        cm = self._colmap_at(v)
        pos_cache = self._bloom_pos_memo

        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
        )

        int_types = {
            "byte": (ByteType(), 1 << 7),
            "short": (ShortType(), 1 << 15),
            "integer": (IntegerType(), 1 << 31),
            "long": (LongType(), 1 << 63),
        }

        def might_contain(doc: dict, col: str, values: list,
                          phys: str) -> bool:
            # sidecar headers key the PHYSICAL (write-time) name; the
            # probe type is the WRITE-TIME type the bits were hashed
            # with (xxhash64 differs across int widths, so a widened
            # column must probe with the file's narrower type — values
            # outside that type's range provably aren't in the file)
            cols = doc["cols"]
            if phys not in cols:
                return True
            if schema is None or col not in schema.fieldNames():
                return True
            dtype = schema[col].dataType
            rec = doc.get("types", {}).get(phys)
            if rec is not None and rec != dtype.typeName():
                if (rec in int_types
                        and dtype.typeName() in int_types):
                    narrow, bound = int_types[rec]
                    values = [
                        v for v in values
                        if isinstance(v, int) and -bound <= v < bound
                    ]
                    if not values:
                        return False  # none representable: proven absent
                    dtype = narrow
                else:
                    # float->double widening (or unknown recorded
                    # type): the probe value's narrow representation
                    # is lossy — conservative keep
                    return True
            key = (col, doc["m"], doc["k"], str(dtype), tuple(values))
            if key not in pos_cache:
                if len(pos_cache) > 256:
                    pos_cache.clear()
                pos_cache[key] = self._bloom_probe_positions(
                    col, values, doc["m"], dtype, k=doc["k"]
                )
            bits = cols[phys]
            ps_list = pos_cache[key]
            if len(ps_list) > 256:
                # big-batch probe: one vectorized gather over the
                # bitset instead of q*k Python bit tests (the merge
                # path probes thousands of keys per candidate file)
                import numpy as np

                pos = np.asarray(ps_list, dtype=np.int64)
                words = np.frombuffer(bits, dtype="<u8")[pos >> 6]
                hit = (
                    (words >> (pos & 63).astype(np.uint64)) & 1
                ).astype(bool)
                return bool(hit.all(axis=1).any())
            for ps in ps_list:
                hit = True
                for p in ps:
                    word = int.from_bytes(
                        bits[8 * (p >> 6):8 * (p >> 6) + 8], "little"
                    )
                    if not (word >> (p & 63)) & 1:
                        hit = False
                        break
                if hit:
                    return True
            return False

        out = {}
        for name, e in files.items():
            doc = self._load_bloom(name, e)
            if doc is None:
                out[name] = e
                continue
            if all(
                might_contain(
                    doc, col, list(values),
                    self._stats_name(e, col, cm),
                )
                for col, values in preds
            ):
                out[name] = e
        return out

    def _effective_cdf(self) -> bool:
        """Change-data-file capture on? Handle opt-in or the persisted
        `cdf` table property (so any handle keeps capturing once one
        writer turned it on — same convention as stat/bloom cols)."""
        if self.cdf:
            return True
        if self.latest_version() is None:
            return False
        return self.properties_at().get("cdf", "") == "true"

    def _try_commit(self, version: int, manifest: dict) -> bool:
        """The atomic heart: exactly one writer creates the version
        file, through the pluggable CommitBackend — O_EXCL by default
        (POSIX local, HDFS-like create(overwrite=false)); object
        stores without an atomic create swap in MutexCommitBackend
        over a real coordination service."""
        os.makedirs(_log_dir(self.path), exist_ok=True)
        # commit timestamp, stamped at the single commit choke point.
        # Monotonic per table (Delta's in-commit-timestamp discipline:
        # max(now, prev+1ms)) so version order and timestamp order
        # never disagree — version_at_timestamp() depends on that.
        if "ts" not in manifest:
            ts = time.time()
            if version > 0:
                try:
                    prev = self._manifest_ts(version - 1)
                    ts = max(ts, prev + 1e-3)
                except (FileNotFoundError, ValueError):
                    pass  # expired predecessor: now() is fine
            manifest["ts"] = ts
        won = self.commit_backend.put_if_absent(
            _manifest_path(self.path, version),
            json.dumps(manifest).encode(),
        )
        if not won:
            return False
        if version > 0 and version % self.checkpoint_every == 0:
            self._write_checkpoint(version)
        return True

    # ---------------- write operations ----------------

    def _commit_loop(self, op: str, adds: list[dict],
                     removes_fn, schema=None,
                     replace_schema: bool = False,
                     txn: tuple[str, int] | None = None,
                     properties: dict | None = None,
                     dv_adds: list[dict] | None = None,
                     cdc_adds: list[dict] | None = None,
                     colmap_basis=_COLMAP_UNGUARDED,
                     manifest_extra: dict | None = None) -> int:
        """Retry the O_EXCL commit against a moving head. removes_fn
        maps the CURRENT live file set to the removes list, raising
        SnapshotConflict if the transaction's premise no longer holds.

        `schema` is the transaction's staged schema; unless
        `replace_schema` (overwrite), it is re-merged against the
        HEAD's schema on every retry, so rebasing over a concurrent
        commit that evolved the schema cannot silently hide that
        commit's new columns.

        `colmap_basis`: the colmap token the caller READ its schema
        under (pass `t._colmap_token()` captured at the read). A
        concurrent rename/drop changes no live files — the file-level
        guards cannot see it — but re-merging a pre-rename staged
        schema against the renamed head would resurrect the old name
        as a brand-new column; the commit conflicts instead."""
        if (self.bloom_cols or self.stat_cols or self.generated_cols
                or self.cdf):
            # a metadata-maintaining handle advertises its columns as
            # table properties, so unaware handles keep the metadata
            # alive through their rewrites (_effective_cols)
            # caller-supplied properties WIN over the handle's
            # advertisement (a rename commit passes the renamed lists
            # while the handle still carries the old names until the
            # commit succeeds)
            properties = dict(properties or {})
            if self.bloom_cols:
                properties.setdefault(
                    "bloom_cols", ",".join(self._effective_bloom_cols())
                )
            if self.stat_cols:
                properties.setdefault(
                    "stat_cols", ",".join(self._effective_stat_cols())
                )
            if self.cdf:
                properties.setdefault("cdf", "true")
            for c, e in self.generated_cols.items():
                properties.setdefault(f"generated.{c}", e)
        while True:
            head = self.latest_version()
            if txn is not None and self.txn_version(txn[0]) >= txn[1]:
                return head  # a racing replayer already committed this txn
            if (colmap_basis is not _COLMAP_UNGUARDED
                    and self._colmap_token(head) != colmap_basis):
                raise SnapshotConflict(
                    "the table's column mapping changed under this "
                    "transaction (concurrent rename/drop); re-run "
                    "against fresh state"
                )
            next_v = 0 if head is None else head + 1
            removes = removes_fn(self._live_files() if head is not None else {})
            manifest = {
                "version": next_v,
                "op": op,
                "adds": adds,
                "removes": removes,
            }
            if manifest_extra:
                manifest.update(manifest_extra)
            if txn is not None:
                manifest["txn"] = [txn[0], txn[1]]
            props = dict(properties) if properties is not None else None
            if dv_adds:
                manifest["dv_adds"] = dv_adds
            if cdc_adds:
                manifest["cdc"] = cdc_adds
            if schema is not None:
                eff = schema
                if not replace_schema and head is not None:
                    cur = self._schema_at(head)
                    if cur is not None:
                        eff = _merge_schemas(cur, schema)
                manifest["schema"] = eff.json()
                # column-mapped tables: new columns get stable ids in
                # the SAME commit that introduces them (re-computed per
                # retry — the head's mapping can move under us). A
                # caller-supplied colmap (rename/drop) wins.
                cm_props = self._colmap_props(head, eff, replace_schema)
                if cm_props:
                    merged = dict(cm_props)
                    merged.update(props or {})
                    props = merged
            if props is not None:
                manifest["properties"] = props
            if self._try_commit(next_v, manifest):
                return next_v
            # lost the race: loop re-reads the new head and re-validates

    def _commit_dml(self, op: str, head: int, live: dict[str, dict],
                    schema, rows: DataFrame | None = None,
                    gate: DataFrame | None = None,
                    masks: DataFrame | None = None,
                    changes: list | None = None,
                    rewrites=(), reads=(), serializable: bool = False,
                    txn: tuple[str, int] | None = None) -> int:
        """Stage and commit a data-rewriting transaction (merge,
        delete, update, compact, purge) whose caller found its matches
        in `live`, the file entries it read at `head`. Every frame is
        written in `schema`'s column types, so no writer forks a
        column's physical type across files (a SET expression turning
        an int into a double, an int source merged into a bigint
        column).

        - `rows`: data rows to add.
        - `gate`: the new rows no earlier commit validated (postimages,
          inserts); they must pass the CHECK constraints before
          anything stages.
        - `masks`: rows whose `__file`/`__pos` coordinates (from
          `_read_files(with_pos=True)`) become one DELETION VECTOR file
          of (target, pos) pairs: tiny (the batch's footprint,
          keys-only narrow), in data/ beside the files it masks and,
          like a data file, invisible until its manifest lands. A DV
          that masks nothing means the predicate matched nothing: no
          version is committed and `head` comes back.
        - `changes`: [(DataFrame, _change_type label)], captured when
          change-data capture is on as one CHANGE-DATA file (Delta's
          _change_data design): written at commit time while the DML
          has the rows in hand, so the change feed reads exactly these
          rows instead of diffing the commit's (possibly huge) churned
          files. Never part of the live set; it lives and dies with
          its manifest.

        The conflict guard is the module docstring's one rule, built
        from `rewrites` (the files this commit removes), the DV
        targets, `reads` and `serializable`."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        types = (
            {f.name: f.dataType for f in schema.fields}
            if schema is not None else {}
        )

        def typed(df: DataFrame) -> DataFrame:
            if all(types.get(f.name, f.dataType) == f.dataType
                   for f in df.schema.fields):
                return df
            return df.select(*[
                F.col(c).cast(types[c]).alias(c) if c in types
                else F.col(c)
                for c in df.columns
            ])

        if gate is not None:
            self._constraint_gate(typed(gate))
        dv_adds = []
        if masks is not None:
            dv = masks.select(
                F.col("__file").alias("target"),
                F.col("__pos").alias("pos"),
            )
            for p in self._stage_files(dv.coalesce(1), "dv-"):
                tbl = pq.read_table(p, columns=["target"])
                if not tbl.num_rows:
                    os.remove(p)
                    continue
                # arrow-side unique: the python list is file-count
                # bounded, never row-count bounded (a wide delete masks
                # many rows but only ever as many files as the table has)
                dv_adds.append({
                    "path": os.path.basename(p),
                    "targets": sorted(
                        tbl.column("target").unique().to_pylist()
                    ),
                    "rows": tbl.num_rows,
                })
            if not dv_adds:
                return head
        adds = self._stage(typed(rows)) if rows is not None else []
        cdc_adds = None
        if changes and self._effective_cdf():
            cdc = None
            for df, label in changes:
                lab = typed(df).withColumn("_change_type", F.lit(label))
                cdc = lab if cdc is None else cdc.unionByName(
                    lab, allowMissingColumns=True
                )
            cdc_adds = [
                {"path": os.path.basename(p),
                 "rows": pq.ParquetFile(p).metadata.num_rows}
                for p in self._stage_files(cdc.coalesce(1), "cdc-")
            ]

        guarded = set(rewrites) | {t for d in dv_adds for t in d["targets"]}
        basis = self._dv_state({
            n: e for n, e in live.items() if serializable or n in guarded
        })
        reads = set(reads)
        removes = sorted(rewrites)

        def guard(now: dict[str, dict]) -> list[str]:
            now_dv = self._dv_state(now)
            if (any(now_dv.get(n) != v for n, v in basis.items())
                    or not reads <= now.keys()
                    or (serializable and now.keys() != basis.keys())):
                raise SnapshotConflict(
                    f"{op}: files this transaction read, rewrites or "
                    "masks changed under a concurrent commit; re-run"
                )
            return removes

        return self._commit_loop(
            op, adds, guard, schema=schema, txn=txn, dv_adds=dv_adds,
            cdc_adds=cdc_adds, colmap_basis=self._colmap_token(head),
        )

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None,
               expect: list[Expectation] | None = None,
               properties: dict | None = None) -> int:
        """Blind append: stages data, commits against whatever head
        wins. Never conflicts (removes nothing).

        `txn=(app_id, txn_version)` makes the append IDEMPOTENT per
        (app, version) — the Delta txnAppId/txnVersion protocol that
        gives a replayed batch exactly-once semantics: a batch re-run
        after its commit landed (a `curate_increment` retried with the
        same batch id, or a stream epoch re-delivered through
        sources/spark_datasource.py) finds its txn already in the log
        and becomes a no-op. The check re-runs inside the commit retry
        loop, so two racing replayers cannot both commit: the loser's
        re-read sees the winner's txn and abandons (its staged files
        are unreferenced garbage for vacuum())."""
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return self.latest_version()
        report: dict[str, int] | None = None
        if expect:
            # quality gate BEFORE staging: a failing batch stages
            # nothing (no garbage), a drop batch stages only survivors
            df, report = enforce_expectations(df, expect)
        df = self._apply_generated(df)
        self._constraint_gate(df)
        # the one append conflict: a concurrent rename/drop — the
        # commit loop's colmap guard; re-merging this batch's
        # pre-rename column names into the renamed head would
        # resurrect the old name as a brand-new column
        basis = self._colmap_token()
        adds = self._stage(df)
        return self._commit_loop(
            "append", adds, lambda live: [],
            schema=df.schema, txn=txn, properties=properties,
            colmap_basis=basis,
            manifest_extra=(
                {"expectations": report} if report is not None else None
            ),
        )

    def txn_version(self, app_id: str) -> int:
        """Highest committed txn_version for app_id, -1 if none — the
        read side of the idempotent-append protocol. O(tail) from the
        newest checkpoint's txn high-water marks; txn history therefore
        SURVIVES retention (expire_versions checkpoints before it
        deletes manifests), so a replayed batch stays a no-op even
        after its original commit was expired."""
        head = self.latest_version()
        if head is None:
            return -1
        return self._txns_through(head).get(app_id, -1)

    def properties_at(self, version: int | None = None) -> dict:
        """Table PROPERTIES as of `version`: free-form key->value
        metadata committed atomically WITH a write (append/overwrite
        `properties=`), newest value per key wins. This is how side
        state that must stay consistent with the data (e.g. the ANN
        index's centroid sidecar name) rides the snapshot: a reader
        that resolves version V gets exactly the properties committed
        at or before V — never a newer sidecar paired with older
        files. Seeded from checkpoints, so properties survive
        retention like txn marks do."""
        head = self.latest_version()
        if head is None:
            return {}
        if version is None:
            version = head
        if version > head or version < 0:
            raise ValueError(f"version {version} not in log (head {head})")
        # memo per resolved version: properties at a committed version
        # are immutable, and the hot write paths resolve them several
        # times per commit (stat/bloom columns, constraints) — without
        # the memo a multi-commit workload pays O(commits^2) log reads
        memo = self.__dict__.setdefault("_props_memo", {})
        if version in memo:
            return dict(memo[version])
        props: dict = {}
        start = 0
        for cv in reversed(self._checkpoints()):
            if cv <= version:
                with open(self._checkpoint_path(cv)) as fh:
                    props = dict(json.load(fh).get("props", {}))
                start = cv + 1
                break
        for v in self._versions():
            if start <= v <= version:
                p = self._read_manifest(v).get("properties")
                if p:
                    props.update(p)
        if len(memo) > 64:
            memo.clear()
        memo[version] = dict(props)
        return props

    def _txns_through(self, version: int) -> dict[str, int]:
        """Per-app txn high-water marks over versions 0..version,
        seeded from the newest checkpoint at or below `version`."""
        txns: dict[str, int] = {}
        start = 0
        for cv in reversed(self._checkpoints()):
            if cv <= version:
                with open(self._checkpoint_path(cv)) as fh:
                    txns = dict(json.load(fh)["txns"])
                start = cv + 1
                break
        for v in self._versions():
            if start <= v <= version:
                t = self._read_manifest(v).get("txn")
                if t is not None:
                    txns[t[0]] = max(txns.get(t[0], -1), t[1])
        return txns

    def overwrite(self, df: DataFrame,
                  txn: tuple[str, int] | None = None,
                  properties: dict | None = None) -> int:
        """Replace the table's full contents atomically. Readers see
        the old snapshot until the commit instant, then the new one.
        `txn` carries the same idempotence protocol as append — a
        replayed overwrite with an already-committed (app, version)
        stamp is a no-op (used by refresh_aggregate for exactly-once
        incremental refreshes)."""
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return self.latest_version()
        df = self._apply_generated(df)
        self._constraint_gate(df)
        adds = self._stage(df)
        return self._commit_loop(
            "overwrite", adds, lambda live: sorted(live),
            schema=df.schema, replace_schema=True, txn=txn,
            properties=properties,
        )

    def compact(self, target_files: int = 1,
                cluster_by: list[str] | None = None,
                bits: int = 8,
                target_bytes: int | None = None,
                where: list | None = None) -> int | None:
        """Rewrite the current snapshot into `target_files` files —
        the small-file cure for append-heavy tables. Read-modify-write:
        commits only if its source files are all still live.

        `target_bytes` sizes the rewrite by DATA instead: the file
        count becomes ceil(live bytes / target_bytes) — the way a
        100 TB table is actually compacted (aim at ~1 GiB files, not a
        count that goes stale as the table grows). Sizes come from the
        live files' on-disk footprint, driver-side, no scan.

        `cluster_by` additionally CLUSTERS the rewrite: one column is
        an exact range-partition + sort on it (tight, pairwise-
        disjoint per-file [min,max] — the layout that lets merge_into
        stat-prune a keyed table, and it works for any orderable type
        including strings); two or more columns Z-ORDER (Delta's
        OPTIMIZE ZORDER BY): rows are range-partitioned and sorted on
        the Morton key of the named columns, so every output file's
        manifest min/max is tight in ALL of them at once and
        read(prune=...) box predicates skip most files. Grid bounds
        come free from the manifest stats when the columns are in
        stat_cols (driver-side, no scan); otherwise one min/max agg
        pass. Cost: the one range-partition shuffle any global sort
        pays — which compaction was going to pay anyway.

        `where` SCOPES the rewrite (Delta's OPTIMIZE ... WHERE): a
        list of read(prune=)-style predicates — (col, lo, hi) ranges
        or (col, values) point sets — selects only the live files
        whose stats may overlap; everything else is untouched and
        cannot conflict. That is how a 100 TB table is compacted in
        slices (yesterday's ingest partition, one tenant's key range)
        instead of one table-wide transaction. Returns None if the
        predicate selects nothing (or a single file with no
        clustering request — already optimal)."""
        from pyspark.sql import functions as F

        from data_engineering_pipeline_spark.sources.zorder import (
            grid_coord,
            zorder_key,
        )

        head = self.latest_version()
        if head is None:
            raise ValueError("cannot compact an empty table")
        read_files = self._live_files()
        if where:
            read_files = self._apply_prunes(read_files, where, None, head)
            if not read_files or (
                len(read_files) == 1 and not cluster_by
            ):
                return None  # nothing (or nothing useful) to rewrite
        if target_bytes is not None:
            total = 0
            for name, e in read_files.items():
                try:
                    total += os.path.getsize(self._data_path(name, e))
                except OSError:
                    continue  # concurrently vacuumed: size unknown, skip
            target_files = max(1, -(-total // target_bytes))
        cur_schema = self._schema_at(head)
        # DV-aware: compaction materializes the masked rows away — the
        # rewrite retires every deletion vector on its source files
        df = self._read_files(read_files, cur_schema)
        if cluster_by and len(cluster_by) == 1:
            # single-column clustering: a plain range partition + sort
            # beats the Z-order path — exact (no 2^bits grid
            # quantization, so per-file [min,max] are TIGHT and
            # pairwise disjoint) and type-agnostic (strings/decimals
            # cluster too; the Morton grid needs floats). This is what
            # makes a keyed MoR table mergeable at scale: after
            # compact(cluster_by=[key]) each file owns one slice of
            # the key domain and merge_into's stat point test drops
            # every file holding none of the batch's keys, blooms or
            # no blooms. Same single range-partition shuffle the
            # rewrite pays anyway.
            c = cluster_by[0]
            df = df.repartitionByRange(
                target_files, F.col(c).asc_nulls_last()
            ).sortWithinPartitions(F.col(c).asc_nulls_last())
        elif cluster_by:
            bounds: dict[str, tuple[float, float]] = {}
            entries = list(read_files.values())
            cl_cm = self._colmap_at(head)
            for c in cluster_by:
                keys_per_entry = [
                    (e, self._stats_name(e, c, cl_cm)) for e in entries
                ]
                per_file = [
                    e["stats"][k]
                    for e, k in keys_per_entry
                    if k in e.get("stats", {})
                ]
                if len(per_file) == len(entries) and per_file:
                    bounds[c] = (min(p[0] for p in per_file),
                                 max(p[1] for p in per_file))
            missing = [c for c in cluster_by if c not in bounds]
            if missing:
                row = df.agg(
                    *[F.min(c).alias(f"lo_{c}") for c in missing],
                    *[F.max(c).alias(f"hi_{c}") for c in missing],
                ).collect()[0]
                for c in missing:
                    bounds[c] = (row[f"lo_{c}"], row[f"hi_{c}"])
            coords = []
            for c in cluster_by:
                lo, hi = bounds[c]
                if lo is None or hi is None or not hi > lo:
                    continue  # constant/empty column: nothing to spread
                coords.append(grid_coord(c, float(lo), float(hi), bits))
            if coords:
                df = (
                    df.withColumn("__z", zorder_key(coords, bits))
                    .repartitionByRange(target_files, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                df = df.coalesce(target_files)
        else:
            df = df.coalesce(target_files)
        return self._commit_dml("compact", head, read_files, df.schema,
                                rows=df, rewrites=read_files)

    def purge_dvs(self) -> int | None:
        """Materialize deletion-vector masks away by rewriting ONLY
        the files that carry DVs — the targeted half of compact() for
        merge-on-read tables: a 100 TB table with masks on 0.1% of its
        files rewrites that 0.1%, not the table (Delta's REORG TABLE
        ... APPLY (PURGE)). Returns the committed version, or None if
        no live file carries a DV."""
        head = self.latest_version()
        if head is None:
            return None
        dvd = {n: e for n, e in self._live_files().items() if e.get("dvs")}
        if not dvd:
            return None
        schema = self._schema_at(head)
        clean = self._read_files(dvd, schema).coalesce(len(dvd))
        return self._commit_dml("purge", head, dvd, schema, rows=clean,
                                rewrites=dvd)

    def merge_into(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "update",
        insert_not_matched: bool = True,
        txn: tuple[str, int] | None = None,
        dedupe_source: str | None = None,
        mode: str = "cow",
    ) -> int:
        """MERGE INTO: merge that touches ONLY THE FILES CONTAINING
        MATCHED KEYS — the property that makes merge usable on a
        100 TB table where a batch touches a sliver of it.

        Semantics (the Delta/Iceberg MERGE core):
          when_matched='update'  target row replaced by the source row
          when_matched='delete'  target row dropped
          insert_not_matched     source rows matching no target key
                                 are appended

        `mode` is 'cow' or 'mor' (the module docstring's DML write
        modes); the new rows are the matched postimages and inserts.

        Plan shape, in order of cheapness:
          1. manifest stat-prune: files whose [min,max] on keys[0]
             cannot intersect the source's key range are untouched
             without being opened (driver-side, O(files));
          2. a column-pruned scan of the surviving candidates' key
             columns, semi-joined with the source keys (keys-only
             shuffle), yields the touched-file list — bounded by file
             count, same driver-side convention as the touched
             partition values upsert_parquet collects;
          3. cow: only touched files are read in full and rewritten;
             mor: only the DV and the new rows are written. Untouched
             files stay byte-identical in the new version either way.

        Isolation is SERIALIZABLE (the module docstring's guard): even
        a concurrent pure append conflicts.

        Duplicate keys in the SOURCE are rejected (same as Delta's
        'multiple source rows matched'): with when_matched='update'
        every duplicate copy would be appended — and duplicate
        not-matched rows would all insert — silently breaking the key
        uniqueness changes()/CDC and later merges rely on. Pass
        `dedupe_source=<order col>` to instead keep, per key, the row
        with the highest order value (ties broken deterministically by
        the key columns' row) — the last-write-wins shape a batch
        with in-batch updates needs."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError("when_matched must be 'update' or 'delete'")
        if mode not in ("cow", "mor"):
            raise ValueError("mode must be 'cow' or 'mor'")
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return self.latest_version()  # replayed merge: no-op
        # generated columns materialize on the source before anything
        # reads its column set (the lacking-columns guard included)
        source = self._apply_generated(source)
        if dedupe_source is not None:
            w = Window.partitionBy(*keys).orderBy(
                F.desc(dedupe_source), *[F.desc(k) for k in keys]
            )
            source = (
                source.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        head = self.latest_version()
        if head is None:
            if not insert_not_matched:
                raise ValueError("merge into an empty table inserts "
                                 "nothing; nothing to commit")
            if dedupe_source is None:
                dup = (
                    source.groupBy(*keys)
                    .count().filter(F.col("count") > 1).limit(1).count()
                )
                if dup:
                    raise ValueError(
                        "duplicate keys in merge source; dedup upstream "
                        "or pass dedupe_source=<order col>"
                    )
            return self.append(source, txn=txn)

        live = self._live_files()
        cur_schema = self._schema_at(head)
        if cur_schema is not None and (
            when_matched == "update" or insert_not_matched
        ):
            # when source rows get WRITTEN, they must carry every
            # target column: a narrower source would silently null the
            # columns it lacks on matched rows (rejected, like Delta's
            # UPDATE SET *). Extra source columns are fine — additive
            # schema evolution, target rows read them as null.
            lacking = [
                c for c in cur_schema.fieldNames()
                if c not in source.columns
            ]
            if lacking:
                raise SchemaConflict(
                    f"merge source lacks target columns {lacking}; "
                    "a written source row must carry every target "
                    "column (extra source columns evolve the schema "
                    "additively)"
                )
        # 1. POINT-SET prune first (the ann_index.py discipline,
        # VERDICT r6 item 3): a batch of FEW distinct keys spread
        # across a wide range — two extreme orderkeys, say — defeats a
        # min..max range (every file intersects [lo, hi]) but prunes
        # to the true footprint on the actual key values. ONE capped
        # keys-only groupBy job (map-side combine, limit
        # short-circuit) yields the point set AND the source-key
        # uniqueness proof: if limit(cap+1) returns <= cap groups, the
        # grouped sample is the COMPLETE distinct-key set, so
        # per-group counts prove or refute uniqueness exactly — AND
        # (r13 verdict item 4) the stat-prune ranges and the
        # empty-source test, which previously cost a SEPARATE
        # full-source min/max/count job before this one: a complete
        # sample holds every distinct key value, so per-key min/max
        # over it in Python equals the engine aggregate
        # (_prune_candidates already compares these values in Python,
        # so the comparison semantics are the ones already trusted;
        # _py_orderable rejects the one divergent case, float NaN).
        # Null-keyed rows never equi-match and are exempt from the
        # uniqueness guard; big batches (sample overflow) keep the
        # full min/max/count pass and the short-circuit guard job.
        point_cap = 1024
        points: dict[str, list] = {}
        # checkpointed: the grouped frame is batch-bounded (one row per
        # distinct key) and up to four consumers read it — the capped
        # sample, and on big batches the dup guard, the min/max ranges
        # and the per-key point collections, which each re-shuffled the
        # raw SOURCE before (r14: one full aggregation job + cheap
        # cached probes instead of four source passes)
        grouped_keys = source.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__n")
        ).localCheckpoint(eager=False)
        sample = grouped_keys.limit(point_cap + 1).collect()
        if not sample:
            return head  # empty source (e.g. a replayed increment): no-op
        fully_keyed = [
            r for r in sample if all(r[k] is not None for k in keys)
        ]
        complete = len(sample) <= point_cap
        if complete:
            if dedupe_source is None and any(
                r["__n"] > 1 for r in fully_keyed
            ):
                raise ValueError(
                    "duplicate keys in merge source; dedup upstream "
                    "or pass dedupe_source=<order col>"
                )
            if fully_keyed:
                points = {
                    k: sorted(
                        {r[k] for r in sample if r[k] is not None}
                    ) for k in keys
                }
        elif dedupe_source is None:
            # big batch: exact short-circuit guard — the grouped keys
            # re-aggregate with map-side combine and stop at the first
            # duplicate fully-keyed group
            dup = (
                grouped_keys.filter(
                    (F.col("__n") > 1)
                    & F.expr(
                        " AND ".join(f"({k} IS NOT NULL)" for k in keys)
                    )
                )
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "duplicate keys in merge source; dedup upstream "
                    "or pass dedupe_source=<order col>"
                )

        if complete and all(
            _py_orderable(r[k]) for r in sample for k in keys
        ):
            # the sample is the complete distinct-key set: derive the
            # stat-prune ranges from it instead of a second source pass
            ranges = {}
            for k in keys:
                vals = [r[k] for r in sample if r[k] is not None]
                ranges[k] = (
                    (min(vals), max(vals)) if vals else (None, None)
                )
        else:
            # big batch (or a value type whose Python ordering is not
            # the engine's): one min/max pass over the CACHED grouped
            # keys — every source key value is a group key, so the
            # aggregate is identical to one over the source, without
            # re-shuffling the raw rows. Deliberately a PURE min/max
            # aggregate: adding a count_distinct here (the round-7
            # shape) mixed distinct and non-distinct aggregates, which
            # Spark plans via Expand — every source row duplicated
            # through a full shuffle — and showed up as a measured
            # 1.3x on the merge wall.
            rng = grouped_keys.agg(
                *[F.min(k).alias(f"lo_{k}") for k in keys],
                *[F.max(k).alias(f"hi_{k}") for k in keys],
            ).collect()[0]
            ranges = {k: (rng[f"lo_{k}"], rng[f"hi_{k}"]) for k in keys}
        merge_cm = self._colmap_at(head)
        if not points and live:
            # big batch (beyond the stat point cap): a complete
            # distinct-value list still prunes where the min..max range
            # cannot — one capped keys-only distinct per indexed key
            # column, driver holds the values
            # (<= _BLOOM_MERGE_POINT_CAP longs). Collected for BOTH
            # index kinds: bloom-indexed columns feed the vectorized
            # sidecar bit test, and stat-indexed columns feed the
            # bisect point test against per-file [min,max] — on a
            # range-CLUSTERED table (compact(cluster_by=...)) that
            # alone drops every file whose slice of the key domain
            # holds none of the batch's keys. This is the path a
            # 100 TB delta merge lives on: thousands of mostly-new
            # keys scattered across the domain, where the range test
            # keeps everything.
            prunable = set(self._effective_stat_cols()) | set(
                self._effective_bloom_cols()
            )
            for k in keys:
                if k not in prunable:
                    continue
                # distinct over the cached grouped keys == distinct
                # over the source column (every source value appears
                # in some group key tuple)
                vals = [
                    r[0]
                    for r in grouped_keys.select(k)
                    .where(F.col(k).isNotNull())
                    .distinct()
                    .limit(_BLOOM_MERGE_POINT_CAP + 1)
                    .collect()
                ]
                if vals and len(vals) <= _BLOOM_MERGE_POINT_CAP:
                    points[k] = sorted(vals)
        candidates = _prune_candidates(
            live, keys, ranges, points,
            stats_name=(
                (lambda e, k: self._stats_name(e, k, merge_cm))
                if merge_cm is not None else None
            ),
        )
        bloom_points: dict[str, list] = dict(points)
        if bloom_points and candidates:
            # bloom pre-prune (no-op without sidecars): on an
            # UNCLUSTERED table every file's [min,max] spans the key
            # domain and the stat prune keeps everything — the bloom
            # sidecars then drop files that provably hold NONE of the
            # batch's keys BEFORE the keys-only candidate scan below,
            # which is otherwise the dominant cost of a sparse merge.
            # Conservative exactly like the stat test: masked rows and
            # false positives only re-enter the semi-join, never the
            # result. All-null key columns are excluded (they cannot
            # equi-match, and an empty probe set proves nothing).
            candidates = self._bloom_keep_files(
                candidates,
                [
                    (k, bloom_points[k])
                    for k in keys
                    if bloom_points.get(k)
                ],
                head,
            )
        # observability for tests and probes: how far metadata alone
        # narrowed this merge before any data was scanned
        self.last_merge_stats = {
            "live": len(live), "candidates": len(candidates),
        }
        src_keys = source.select(*keys)
        touched: set[str] = set()
        matched_pos = None
        if candidates:
            # 2. keys-only semi-join to find files holding matched keys
            # (DV-aware: already-masked rows can't match again; the mor
            # path keeps live-row coordinates to mint the new DV from)
            tgt_keys = self._read_files(
                candidates, cur_schema, with_pos=True
            ).select(*keys, "__file", "__pos")
            matched = tgt_keys.join(src_keys, keys, "left_semi")
            if mode == "mor":
                # pin the matched coordinates (batch-sized) so the DV
                # stage and the touched-file listing share ONE scan of
                # the candidate files instead of two; the touched-file
                # set rides the checkpoint's own materialization via
                # observe() (r14 — the pagerank/CC pattern: map-side
                # collect_set over candidate-file-count-bounded names,
                # no separate distinct+collect job)
                from pyspark.sql import Observation

                obs = Observation(f"merge_touched_{uuid.uuid4().hex[:8]}")
                matched_pos = matched.select("__file", "__pos").observe(
                    obs, F.collect_set("__file").alias("t")
                ).localCheckpoint()
                touched = set(obs.get["t"])
            else:
                touched = {
                    r["__file"]
                    for r in matched.select("__file").distinct().collect()
                }

        def union(dfs: list[DataFrame]) -> DataFrame:
            # allowMissingColumns: an EVOLVED source (extra columns)
            # merges additively — kept target rows read the new columns
            # as null, the same contract append evolution gives. The
            # reverse (source LACKING target columns when its rows are
            # written) is rejected up front, never silently nulled.
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                dfs,
            )

        # the NEW rows (matched postimages + inserts) and the change
        # rows, alike in both modes
        news: list[DataFrame] = []
        changes: list = []
        if touched:
            touched_df = self._read_files(
                {n: live[n] for n in touched}, cur_schema
            )
            changes.append((
                touched_df.join(src_keys, keys, "left_semi"),
                "update_preimage" if when_matched == "update"
                else "delete",
            ))
            if when_matched == "update":
                # cow joins the keys of the files it rewrites anyway;
                # mor the candidate keys its insert anti-join reads
                # (the same rows: only touched files hold matches)
                hit = touched_df if mode == "cow" else self._read_files(
                    candidates, cur_schema
                )
                post = source.join(hit.select(*keys), keys, "left_semi")
                news.append(post)
                changes.append((post, "update_postimage"))
        if insert_not_matched:
            ins = source
            if candidates:
                ins = source.join(
                    self._read_files(candidates, cur_schema).select(*keys),
                    keys, "left_anti",
                )
            news.append(ins)
            changes.append((ins, "insert"))
        if not touched and not news:
            return head  # delete-only merge with no matches: no-op

        if mode == "mor":
            # 3b. mask the matched rows, append the new ones; rewrite
            # NOTHING
            rows = union(news).coalesce(1) if news else None
            masks = matched_pos if touched else None
            rewrites: set[str] = set()
        else:
            # 3. cow: rewrite touched files only, sized like their
            # input — a merge that touched 2 files writes ~2 files, not
            # one per shuffle partition (a small-file factory)
            kept = [touched_df.join(src_keys, keys, "left_anti")
                    ] if touched else []
            rows = union(kept + news).coalesce(max(1, len(touched)))
            masks = None
            rewrites = touched
        # the rows are written in the POST-merge types: an int source
        # into a bigint column must not fork the file types; a WIDER
        # source widens the table instead of being downcast
        written = (rows if rows is not None else source).schema
        schema = (
            _merge_schemas(cur_schema, written)
            if cur_schema is not None else written
        )
        # the constraint gate checks the NEW rows only; the kept rows
        # of rewritten files pre-date the constraint's validated add
        # and re-checking them would re-scan touched files
        return self._commit_dml(
            "merge", head, live, schema, rows=rows,
            gate=union(news) if news else None, masks=masks,
            changes=changes, rewrites=rewrites, serializable=True,
            txn=txn,
        )

    def delete_where(self, condition: str, mode: str = "cow",
                     prune_hint: list | None = None) -> int:
        """DELETE WHERE: predicate delete that touches ONLY the files
        actually containing matching rows — one column-pruned pass
        with the parquet metadata columns finds them; every other file
        stays byte-identical in the new version. Rows where the
        condition is NULL are kept (SQL three-valued semantics); a
        no-match delete commits nothing. `mode` is 'cow' or 'mor' (the
        module docstring's DML write modes).

        `prune_hint`: optional (col, values) / (col, lo, hi)
        predicates that must be IMPLIED by `condition` (every matching
        row satisfies them). They drive manifest stat + bloom
        file-pruning so the match scan opens only candidate files —
        the point-delete path on a huge table. CONTRACT (the same one
        Delta's replaceWhere carries): a hint the condition does not
        imply can silently skip matching rows; the hint narrows IO,
        the condition alone decides semantics."""
        if mode not in ("cow", "mor"):
            raise ValueError("mode must be 'cow' or 'mor'")
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot delete from an empty table")
        live = self._live_files()
        n_live = len(live)
        schema = self._schema_at(head)
        if prune_hint:
            live = self._apply_prunes(live, prune_hint, prune_hint,
                                      head)
        self.last_dml_stats = {"live": n_live, "scanned": len(live)}
        if not live:
            return head  # hint proves no file can match: no-op
        matched = self._read_files(
            live, schema, with_pos=True
        ).filter(condition)
        changes = [(matched.drop("__file", "__pos"), "delete")]
        if mode == "mor":
            return self._commit_dml("delete", head, live, schema,
                                    masks=matched, changes=changes,
                                    reads=live)
        touched = {
            r["__file"]
            for r in matched.select("__file").distinct().collect()
        }
        if not touched:
            return head  # nothing matches: no-op, no new version
        kept = (
            self._read_files({n: live[n] for n in touched}, schema)
            .filter(f"NOT coalesce(({condition}), false)")
            .coalesce(len(touched))
        )
        return self._commit_dml("delete", head, live, schema, rows=kept,
                                changes=changes, rewrites=touched)

    def update_where(self, condition: str, assignments: dict[str, str],
                     mode: str = "cow",
                     prune_hint: list | None = None) -> int:
        """UPDATE ... SET ... WHERE: predicate update touching only
        the files containing matching rows (same file-confinement as
        delete_where). `assignments` maps column -> SQL expression,
        applied only where `condition` is TRUE; NULL/false rows keep
        their values. Assigned columns must already exist (schema
        evolution happens through append/overwrite, not UPDATE), and a
        SET result is stored in its column's type. `mode` is 'cow' or
        'mor' (the module docstring's DML write modes); the new rows
        are the matched rows' updated images.

        `prune_hint`: same contract as delete_where — predicates the
        condition IMPLIES, used for stat + bloom file-pruning of the
        match scan; an unimplied hint can silently skip matching
        rows."""
        from pyspark.sql import functions as F

        if mode not in ("cow", "mor"):
            raise ValueError("mode must be 'cow' or 'mor'")
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot update an empty table")
        schema = self._schema_at(head)
        live = self._live_files()
        n_live = len(live)
        cols = (
            [f.name for f in schema.fields] if schema is not None
            else self._df_for(live).columns
        )
        missing = [c for c in assignments if c not in cols]
        if missing:
            raise ValueError(f"unknown columns in SET: {missing}")
        if prune_hint:
            live = self._apply_prunes(live, prune_hint, prune_hint,
                                      head)
        self.last_dml_stats = {"live": n_live, "scanned": len(live)}
        if not live:
            return head  # hint proves no file can match: no-op
        matched = self._read_files(
            live, schema, with_pos=True
        ).filter(condition)
        if mode == "mor":
            # pin the matched rows (batch-sized) so postimage staging
            # and DV staging share one scan of the table
            matched = matched.localCheckpoint()
        # one select: every SET expression evaluates against the
        # PRE-update row (SQL UPDATE), never a half-assigned one
        post = matched.select(
            *[
                F.expr(assignments[c]).alias(c)
                if c in assignments else F.col(c)
                for c in matched.columns
            ]
        ).drop("__file", "__pos")
        changes = [
            (matched.drop("__file", "__pos"), "update_preimage"),
            (post, "update_postimage"),
        ]
        if mode == "mor":
            return self._commit_dml("update", head, live, schema,
                                    rows=post.coalesce(1), gate=post,
                                    masks=matched, changes=changes)

        touched = {
            r["__file"]
            for r in matched.select("__file").distinct().collect()
        }
        if not touched:
            return head
        cond = F.expr(f"coalesce(({condition}), false)")
        df = self._read_files({n: live[n] for n in touched}, schema)
        # the condition AND every SET expression read the PRE-update
        # row here too: one select (not sequential withColumn) —
        # otherwise an assignment to a column the condition or a later
        # expression reads would feed them the new value
        df = df.withColumn("__hit", cond)
        base_cols = [c for c in df.columns if c != "__hit"]
        df = df.select(
            *[
                (
                    F.when(F.col("__hit"), F.expr(assignments[c]))
                    .otherwise(F.col(c)).alias(c)
                    if c in assignments else F.col(c)
                )
                for c in base_cols
            ],
            F.col("__hit"),
        )
        # gate only the SET results — the untouched rows of the
        # rewritten files pre-date the constraint's validated add
        return self._commit_dml(
            "update", head, live, schema,
            rows=df.drop("__hit").coalesce(len(touched)),
            gate=df.filter(F.col("__hit")).drop("__hit"),
            changes=changes, rewrites=touched,
        )

    def changes_between_timestamps(
        self, ts_from: float, ts_to: float, keys: list[str]
    ) -> DataFrame:
        """Delta's timestamp-bounded change feed: CDC between the
        snapshots as of two instants (each resolved through the
        monotone in-commit timestamps). `ts_from` earlier than the
        retained log raises, same as version_at_timestamp."""
        return self.changes(
            self.version_at_timestamp(ts_from),
            self.version_at_timestamp(ts_to),
            keys,
        )

    def change_feed(
        self, v_from: int, v_to: int, keys: list[str]
    ) -> DataFrame:
        """PER-COMMIT change rows (Delta's table_changes semantics),
        `_commit_version`-stamped, over (v_from, v_to]. Differs from
        changes() exactly when a row churns more than once in the
        range — changes() nets the snapshots (two updates collapse to
        one pre/post pair, an insert-then-delete cancels entirely),
        while the feed keeps every intermediate transition, which is
        what audit trails and at-least-once downstream appliers
        consume.

        Cost ladder, per commit:
        - a DML commit on a CDF-enabled table (`cdf=True` /
          property) has its change rows ALREADY MATERIALIZED in a cdc
          file staged at commit time — the feed just reads it, IO =
          the change rows themselves, regardless of how wide the
          churned files were;
        - a pure append synthesizes inserts from the commit's own
          added files (no diff, no join);
        - compaction / DV purges contribute nothing (no logical
          change);
        - anything else (overwrite, restore, publish, pre-CDF DML)
          falls back to that commit's pairwise diff, which reads only
          the commit's churned files."""
        from pyspark.sql import functions as F

        if v_from >= v_to:
            raise ValueError(
                f"change_feed requires v_from < v_to "
                f"(got {v_from} >= {v_to})"
            )
        # feed rows are served under the END version's column names;
        # commits before a rename emit their own (older) names and get
        # remapped through the ids (no-op on unmapped tables)
        mapped = self._colmap_at(v_to) is not None
        feed_keep = ("_change_type", "_commit_version")
        parts = []
        for v in range(v_from + 1, v_to + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                raise ValueError(
                    f"version {v} has been expired by retention; the "
                    "per-commit feed needs each commit's manifest — "
                    "changes() can still serve the net diff through "
                    "checkpoints"
                ) from None
            stamp = F.lit(v).cast("long")
            if m.get("cdc"):
                df = self.spark.read.parquet(*[
                    os.path.join(self.path, "data", e["path"])
                    for e in m["cdc"]
                ])
                if mapped:
                    df = self._remap_names(df, v, v_to, keep=feed_keep)
                parts.append(df.withColumn("_commit_version", stamp))
                continue
            no_change = not m["removes"] and not m.get("dv_adds")
            if no_change and not m["adds"]:
                continue  # pure metadata commit
            if no_change:
                # append/clone: the added files ARE the insert rows
                # (read straight under the END version's names — the
                # mapped read resolves each entry's physical names)
                entries = {a["path"]: {**a, "v": v} for a in m["adds"]}
                df = self._df_for(
                    entries, self._schema_at(v), at_version=v_to
                )
                parts.append(
                    df.withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_version", stamp)
                )
                continue
            if m["op"] in ("compact", "purge"):
                continue  # physical rewrite, no logical change
            if m["op"] in ("rename", "drop_column"):
                continue  # metadata-only schema change, no row change
            keys_v = (
                [self._name_at(v, k, v_to) for k in keys]
                if mapped else keys
            )
            diff = self.changes(v - 1, v, keys_v).withColumn(
                "_commit_version", stamp
            )
            if mapped:
                diff = self._remap_names(diff, v, v_to, keep=feed_keep)
            parts.append(diff)
        if not parts:
            # empty feed with the right shape
            return (
                self.read(version=v_to).limit(0)
                .withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0).cast("long"))
            )
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            parts,
        )

    def _changes_from_capture(
        self, v_from: int, v_to: int, keys: list[str]
    ) -> DataFrame | None:
        """Net diff derived from CAPTURED change rows alone: when
        every commit in (v_from, v_to] is cdc-covered, a pure append,
        metadata-only, or a physical rewrite, the net transition per
        key falls out of its first and last feed events — old state =
        the first preimage/delete (absent if the first event is an
        insert), new state = the last postimage/insert (absent if the
        last event is a delete) — with no-op transitions dropped by
        the same null-safe compare the diff path uses. IO is the
        change rows themselves, never the churned files: the payoff
        that makes CDC-driven view maintenance (refresh_aggregate /
        refresh_join) change-row-bounded on CDF tables. Returns None
        when any commit lacks capture (the caller diffs instead)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        for v in range(v_from + 1, v_to + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                # retention expired this manifest; the diff path can
                # still serve the range through checkpoints
                return None
            if m.get("cdc"):
                continue
            if not m["removes"] and not m.get("dv_adds"):
                continue  # append / metadata-only: synthesizable
            if m["op"] in ("compact", "purge"):
                continue  # no logical change
            return None  # uncaptured change commit: diff instead
        feed = self.change_feed(v_from, v_to, keys)
        cols = [
            c for c in feed.columns
            if c not in keys + ["_change_type", "_commit_version"]
        ]
        # within one commit a key contributes at most a pre (rank 0)
        # and a post (rank 1); ordering by (version, rank) makes the
        # first event the v_from-state witness and the last event the
        # v_to-state witness
        ranked = feed.withColumn(
            "__rank",
            F.when(
                F.col("_change_type").isin(
                    "update_preimage", "delete"
                ),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        w_asc = Window.partitionBy(*keys).orderBy(
            "_commit_version", "__rank"
        )
        w_desc = Window.partitionBy(*keys).orderBy(
            F.desc("_commit_version"), F.desc("__rank")
        )
        marked = ranked.select(
            *keys,
            F.struct(*cols).alias("__val"),
            "_change_type",
            F.row_number().over(w_asc).alias("__first"),
            F.row_number().over(w_desc).alias("__last"),
        )
        old = marked.filter(F.col("__first") == 1).select(
            *keys,
            F.when(
                F.col("_change_type").isin(
                    "update_preimage", "delete"
                ),
                F.col("__val"),
            ).alias("__o"),
        )
        new = marked.filter(F.col("__last") == 1).select(
            *keys,
            F.when(
                F.col("_change_type").isin(
                    "update_postimage", "insert"
                ),
                F.col("__val"),
            ).alias("__n"),
        )
        j = old.join(new, keys)
        ins = j.filter(F.col("__o").isNull() & F.col("__n").isNotNull())
        del_ = j.filter(F.col("__n").isNull() & F.col("__o").isNotNull())
        upd = j.filter(
            F.col("__o").isNotNull()
            & F.col("__n").isNotNull()
            & ~F.col("__o").eqNullSafe(F.col("__n"))
        )

        def emit(df: DataFrame, side: str, label: str) -> DataFrame:
            return df.select(
                *keys,
                *[F.col(f"{side}.{c}").alias(c) for c in cols],
                F.lit(label).alias("_change_type"),
            )

        return (
            emit(ins, "__n", "insert")
            .unionByName(emit(del_, "__o", "delete"))
            .unionByName(emit(upd, "__o", "update_preimage"))
            .unionByName(emit(upd, "__n", "update_postimage"))
        )

    def changes(
        self, v_from: int, v_to: int, keys: list[str],
        use_capture: bool = True,
    ) -> DataFrame:
        """Change data feed: row-level diff between two committed
        versions, labelled `_change_type` in {insert, delete,
        update_preimage, update_postimage}. Requires `keys` unique
        within each snapshot (CDC is only well-defined over a key).

        Scale: when the range is fully covered by captured change
        rows (cdf tables), the net diff is derived from those rows
        alone — IO = change rows (see _changes_from_capture).
        Otherwise reads ONLY the symmetric difference of the two
        versions' EFFECTIVE file sets — a file live in both versions
        with the same deletion vectors cannot contribute a change and
        is never opened, so the cost tracks the churn between
        versions, not table size. A file whose DV set changed between
        the versions (a merge-on-read delete/update/merge) is read on
        both sides — each under its own version's masks — and its
        unchanged rows are cancelled by the null-safe struct compare,
        same as copy-on-write survivors."""
        from pyspark.sql import functions as F

        if use_capture and v_from < v_to:
            fast = self._changes_from_capture(v_from, v_to, keys)
            if fast is not None:
                return fast

        if v_from > v_to:
            raise ValueError(
                f"changes requires v_from <= v_to (got {v_from} > {v_to})"
            )
        a = self._live_files(v_from)
        b = self._live_files(v_to)
        dv_changed = {
            n for n in set(a) & set(b)
            if tuple(a[n].get("dvs", ())) != tuple(b[n].get("dvs", ()))
        }
        removed = {
            n: e for n, e in a.items() if n not in b or n in dv_changed
        }
        added = {
            n: e for n, e in b.items() if n not in a or n in dv_changed
        }
        # both sides read under v_to's schema AND column names: columns
        # added between the versions diff as null -> value transitions;
        # a rename between them is pure metadata (same ids, no change)
        sch = self._schema_at(v_to)
        proto = self._df_for(a if a else b, sch, at_version=v_to)
        cols = [c for c in proto.columns if c not in keys]
        old = (
            self._read_files(removed, sch, at_version=v_to)
            if removed else proto.limit(0)
        )
        new = (
            self._read_files(added, sch, at_version=v_to)
            if added else proto.limit(0)
        )
        o = old.select(*keys, F.struct(*cols).alias("__o"))
        n = new.select(*keys, F.struct(*cols).alias("__n"))
        j = o.join(n, keys, "full_outer")
        ins = j.filter(F.col("__o").isNull() & F.col("__n").isNotNull())
        del_ = j.filter(F.col("__n").isNull() & F.col("__o").isNotNull())
        upd = j.filter(
            F.col("__o").isNotNull()
            & F.col("__n").isNotNull()
            & ~F.col("__o").eqNullSafe(F.col("__n"))
        )

        def emit(df: DataFrame, side: str, label: str) -> DataFrame:
            return df.select(
                *keys,
                *[F.col(f"{side}.{c}").alias(c) for c in cols],
                F.lit(label).alias("_change_type"),
            )

        return (
            emit(ins, "__n", "insert")
            .unionByName(emit(del_, "__o", "delete"))
            .unionByName(emit(upd, "__o", "update_preimage"))
            .unionByName(emit(upd, "__n", "update_postimage"))
        )

    def expire_versions(self, keep_last: int,
                        grace_seconds: float = 3600.0) -> dict:
        """Retention: truncate time-travel history to the newest
        `keep_last` versions. Writes a checkpoint at the oldest
        retained version first (so its state — and all txn high-water
        marks — stay reconstructible), then deletes the expired
        manifests and every data file no retained version can reach.
        This is the policy decision vacuum() deliberately is not:
        time travel to an expired version now raises.

        Files referenced by SOME manifest but no retained version are
        time-travel garbage and delete immediately. Files referenced by
        NO manifest at all may be an IN-FLIGHT writer's staged data
        (_stage moves files into data/ BEFORE its manifest commits), so
        those only delete once older than `grace_seconds` — the same
        race Delta's VACUUM retention window exists for. Size the grace
        above the longest plausible stage-to-commit gap.

        Scale: history growth is the one unbounded driver-side cost of
        the format (O(versions) manifests); a periodic
        expire_versions(N) bounds both the log length and the
        removed-file garbage that back old snapshots."""
        vs = self._versions()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(vs) <= keep_last:
            return {"expired": [], "deleted_files": []}
        cutoff = vs[-keep_last]  # oldest retained version
        self._write_checkpoint(cutoff)
        reachable = _all_refs(self._live_files(cutoff))
        ever: set[str] = set()
        for v in vs:
            m = self._read_manifest(v)
            refs = {a["path"] for a in m["adds"]}
            # restore/publish manifests re-reference deletion vectors
            # INSIDE their add entries (no dv_adds commit of their
            # own) — missing these deleted live DV files and wedged
            # every read of the restored/published head
            refs |= {
                p for a in m["adds"] for p in a.get("dvs", ())
            }
            refs |= {d["path"] for d in m.get("dv_adds", [])}
            cdc = {e["path"] for e in m.get("cdc", [])}
            ever |= refs | cdc
            if v > cutoff:
                reachable |= refs
            if v >= cutoff:
                # a cdc file lives exactly as long as its manifest:
                # the cutoff version's manifest survives, so its
                # change rows stay readable
                reachable |= cdc
        for cv in self._checkpoints():
            with open(self._checkpoint_path(cv)) as fh:
                ever |= _all_refs(json.load(fh)["live"])
        expired = [v for v in vs if v < cutoff]
        for v in expired:
            os.remove(_manifest_path(self.path, v))
            ck = self._checkpoint_path(v)
            if os.path.exists(ck):
                os.remove(ck)
        deleted = self._sweep_data(
            keep=reachable, known=ever, grace_seconds=grace_seconds
        )
        return {"expired": expired, "deleted_files": sorted(deleted)}

    def maintain(self, max_files: int = 64, keep_versions: int = 30,
                 cluster_by: list[str] | None = None,
                 grace_seconds: float = 3600.0,
                 max_dv_files: int = 8,
                 target_bytes: int | None = None) -> dict:
        """One-call housekeeping — the routine a scheduler runs
        nightly: purge deletion-vector masks once more than
        `max_dv_files` live files carry them (bounding the read-time
        anti-join merge-on-read DML accumulates), compact when the
        live file count exceeds `max_files` (optionally Z-ordering via
        `cluster_by`), expire history past `keep_versions`, vacuum
        crash garbage. Each step is the already-tested primitive; this
        just sequences them with sensible triggers so append-heavy
        tables do not decay into small-file soup, mask soup, or
        unbounded logs."""
        out: dict = {"compacted": False, "purged": False,
                     "expired": [], "vacuumed": []}
        live = self._live_files()
        n_dvd = sum(1 for e in live.values() if e.get("dvs"))
        will_compact = len(live) > max_files
        if n_dvd > max_dv_files and not will_compact:
            # compaction below materializes masks anyway; purge only
            # when the table is otherwise healthy
            self.purge_dvs()
            out["purged"] = True
        if will_compact:
            # target_bytes sizes the rewrite by data volume (the
            # steady-state policy); the max_files count is the
            # fallback when no byte target is set
            self.compact(target_files=max_files, cluster_by=cluster_by,
                         target_bytes=target_bytes)
            out["compacted"] = True
        res = self.expire_versions(
            keep_versions, grace_seconds=grace_seconds
        )
        out["expired"] = res["expired"]
        out["vacuumed"] = self.vacuum(grace_seconds=grace_seconds)
        return out

    def vacuum(self, grace_seconds: float = 3600.0,
               dry_run: bool = False) -> list[str]:
        """Delete data files referenced by NO version in the log
        (crash leftovers from writers that died before commit), but
        only once they are older than `grace_seconds`: an unreferenced
        file younger than that may belong to an IN-FLIGHT writer that
        staged it and has not committed its manifest yet — deleting it
        would corrupt that writer's imminent commit (its manifest would
        reference a missing file). Files removed by a later version are
        kept regardless — they back time travel; truncating history
        would be a retention policy, not vacuum (that is
        expire_versions).

        `dry_run` returns what WOULD be deleted without touching
        anything (Delta's VACUUM DRY RUN) — the operational preflight
        before pointing a sweep at a shared table."""
        ever: set[str] = set()
        for v in self._versions():
            m = self._read_manifest(v)
            for a in m["adds"]:
                ever.add(a["path"])
                # restore/publish re-reference DVs inside their adds
                ever.update(a.get("dvs", ()))
            for d in m.get("dv_adds", []):
                ever.add(d["path"])
            for e in m.get("cdc", []):
                ever.add(e["path"])
        # after retention, a live file's adding manifest may be gone:
        # checkpoints are then the only reference keeping it alive
        for cv in self._checkpoints():
            with open(self._checkpoint_path(cv)) as fh:
                ever |= _all_refs(json.load(fh)["live"])
        return self._sweep_data(
            keep=ever, known=ever, grace_seconds=grace_seconds,
            dry_run=dry_run,
        )

    def _sweep_data(self, keep: set[str], known: set[str],
                    grace_seconds: float,
                    dry_run: bool = False) -> list[str]:
        """Delete data files not in `keep`. Files also absent from
        `known` (referenced by no manifest/checkpoint at all) are
        possibly mid-stage for an uncommitted writer: those survive
        until older than `grace_seconds` (mtime)."""
        import time

        data = os.path.join(self.path, "data")
        dropped = []
        now = time.time()
        for f in os.listdir(data) if os.path.isdir(data) else []:
            if not f.endswith(".parquet") or f in keep:
                continue
            p = os.path.join(data, f)
            if f not in known:
                try:
                    age = now - os.path.getmtime(p)
                except FileNotFoundError:
                    continue  # a concurrent sweep got it first
                if age < grace_seconds:
                    continue  # possibly an in-flight writer's staging
            if not dry_run:
                os.remove(p)
                # a data file's bloom sidecar dies with it
                bp = _bloom_path(self.path, f)
                if os.path.exists(bp):
                    os.remove(bp)
            dropped.append(f)
        # crash garbage OUTSIDE data/*.parquet: a writer dying inside
        # _stage leaves a whole .stage-<token>/ directory in the table
        # root (its files never reached data/), and a bloom writer can
        # strand *.bloom.tmp sidecars — both age out on the same grace
        # window (referenced by nothing, by construction)
        for d in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if not d.startswith(".stage-"):
                continue
            p = os.path.join(self.path, d)
            try:
                if now - os.path.getmtime(p) < grace_seconds:
                    continue
            except FileNotFoundError:
                continue
            if not dry_run:
                shutil.rmtree(p, ignore_errors=True)
            dropped.append(d + "/")
        bdir = os.path.join(data, _BLOOM_DIR)
        for f in os.listdir(bdir) if os.path.isdir(bdir) else []:
            if not f.endswith(".tmp"):
                continue
            p = os.path.join(bdir, f)
            try:
                if now - os.path.getmtime(p) < grace_seconds:
                    continue
            except FileNotFoundError:
                continue
            if not dry_run:
                try:
                    os.remove(p)
                except OSError:
                    continue
            dropped.append(f)
        # commit-log temps (ADVICE r8): a writer hard-crashing between
        # its tmp-manifest/checkpoint write and the link/rename strands
        # '<name>.<hex>.tmp' in _log/ forever — referenced by nothing
        # (committed names never end in .tmp), so age them out on the
        # same grace window
        ldir = _log_dir(self.path)
        for f in os.listdir(ldir) if os.path.isdir(ldir) else []:
            if not f.endswith(".tmp"):
                continue
            p = os.path.join(ldir, f)
            try:
                if now - os.path.getmtime(p) < grace_seconds:
                    continue
            except FileNotFoundError:
                continue
            if not dry_run:
                try:
                    os.remove(p)
                except OSError:
                    continue
            dropped.append(f)
        return dropped

    # ---------------- read operations ----------------

    def _schema_at(self, version: int):
        """Table schema as of `version`: the newest recorded schema at
        or below it (every post-evolution commit records one), falling
        back to the newest checkpoint at or below it when retention
        expired the recording manifest. None only for legacy logs that
        never recorded a schema — reads then use footer inference."""
        from pyspark.sql.types import StructType

        for v in range(version, -1, -1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                break  # expired prefix: the checkpoint carries it
            s = m.get("schema")
            if s is not None:
                return StructType.fromJson(json.loads(s))
        for cv in reversed(self._checkpoints()):
            if cv <= version:
                with open(self._checkpoint_path(cv)) as fh:
                    s = json.load(fh).get("schema")
                if s is not None:
                    return StructType.fromJson(json.loads(s))
                break
        return None

    def _data_path(self, name: str, entry: dict | None = None) -> str:
        """Physical location of a manifest entry's data file. Entries
        born here live in <table>/data/<name>; entries inherited by a
        SHALLOW CLONE carry an absolute `loc` pointing into the source
        table, which wins."""
        if entry is not None and entry.get("loc"):
            return entry["loc"]
        return os.path.join(self.path, "data", name)

    def _dv_path(self, p: str) -> str:
        """Deletion-vector file location: clone-inherited DV refs are
        absolute, locally-minted ones are names under data/."""
        return p if os.path.isabs(p) else os.path.join(
            self.path, "data", p
        )

    def _mapping_groups(self, files: dict[str, dict],
                        at_version: int | None):
        """Column-mapping read plan: group `files` by their physical-
        name signature for the read version's columns. Returns None on
        the FAST PATH — no colmap, or every file's physical names match
        the current names (identity), which covers every table that
        has never renamed: the caller then takes the exact pre-mapping
        read. Otherwise returns (current fields, [(signature, paths)])
        where a signature holds, per current field, the physical name
        in that group's files (None = the files predate the column —
        null-fill)."""
        v = self.latest_version() if at_version is None else at_version
        colmap = self._colmap_at(v)
        if colmap is None or not files:
            return None
        schema = self._schema_at(v)
        if schema is None:
            return None
        cur = [(f, colmap.get(f.name)) for f in schema.fields]
        groups: dict[tuple, list[str]] = {}
        identity = True
        for name in sorted(files):
            e = files[name]
            phys_of = self._entry_phys(e)
            write_ids = {n: i for i, n in phys_of.items()}
            sig = tuple(
                phys_of.get(fid, None) if fid is not None else f.name
                for f, fid in cur
            )
            groups.setdefault(sig, []).append(self._data_path(name, e))
            for (f, fid), p in zip(cur, sig):
                if p is not None and p != f.name:
                    identity = False  # plain rename: physical != current
                elif p is None and write_ids.get(f.name) not in (
                    None, fid
                ):
                    # drop-then-readd: the file may physically hold a
                    # DIFFERENT (dropped) column under this reused name
                    # — a plain schema read would resurrect its bytes
                    identity = False
        if identity:
            return None
        return [f for f, _ in cur], sorted(
            groups.items(),
            key=lambda kv: tuple(p or "" for p in kv[0]),
        )

    def _df_for(self, files: dict[str, dict], schema=None,
                at_version: int | None = None,
                with_meta: bool = False) -> DataFrame:
        """Scan a file set under the read version's column names.
        `with_meta=True` appends `__file`/`__pos` (file name, row
        index) — the coordinates DV masking and DML need."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        meta_cols = [
            F.col("_metadata.file_name").alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        mg = self._mapping_groups(files, at_version)
        if mg is None:
            paths = [
                self._data_path(name, files[name])
                for name in sorted(files)
            ]
            if schema is not None:
                # explicit schema: files written before a column existed
                # read it as null — the schema-evolution read contract
                df = self.spark.read.schema(schema).parquet(*paths)
            else:
                df = self.spark.read.parquet(*paths)
            return df.select("*", *meta_cols) if with_meta else df

        cur_fields, groups = mg
        parts = []
        for sig, paths in groups:
            read_fields = [
                StructField(phys, f.dataType, True)
                for f, phys in zip(cur_fields, sig)
                if phys is not None
            ]
            raw = self.spark.read.schema(
                StructType(read_fields)
            ).parquet(*paths)
            sel = [
                F.col(phys).alias(f.name) if phys is not None
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f, phys in zip(cur_fields, sig)
            ]
            if with_meta:
                sel += meta_cols
            parts.append(raw.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_files(self, files: dict[str, dict], schema=None,
                    with_pos: bool = False,
                    at_version: int | None = None) -> DataFrame:
        """The DV-AWARE read every content consumer goes through:
        files carrying deletion vectors get their masked rows dropped
        by a (file, position) anti-join; files without DVs take the
        plain path untouched. A table that has never seen a
        merge-on-read commit pays NOTHING — no metadata columns, no
        union, byte-identical plan to the pre-DV reader.

        Scale: the anti-join's left side is only the DV'd files' rows
        (bounded by churn since the last compaction, not table size)
        and the right side is the DV rows themselves (batch-sized);
        position comes from the parquet reader's `_metadata.row_index`
        — generated metadata, zero extra IO.

        `with_pos=True` additionally exposes `__file`/`__pos` (the
        LIVE rows' coordinates) so DML can mint new DVs."""
        from pyspark.sql import functions as F

        dvd = {n: e for n, e in files.items() if e.get("dvs")}
        if not dvd and not with_pos:
            return self._df_for(files, schema, at_version)

        def tagged(sub: dict[str, dict]) -> DataFrame:
            return self._df_for(sub, schema, at_version, with_meta=True)

        plain = {n: e for n, e in files.items() if n not in dvd}
        parts = []
        if plain:
            parts.append(
                tagged(plain) if with_pos
                else self._df_for(plain, schema, at_version)
            )
        if dvd:
            dv_paths = sorted(
                {p for e in dvd.values() for p in e["dvs"]}
            )
            full = [self._dv_path(p) for p in dv_paths]
            dv_raw = self.spark.read.parquet(*full)
            # DV sets are churn-sized; when their physical footprint is
            # small, broadcast so the anti-join never shuffles the
            # (possibly huge) masked files' rows (decided driver-side
            # from the actual file sizes, not estimator stats)
            try:
                dv_bytes = sum(os.path.getsize(p) for p in full)
            except OSError:
                dv_bytes = None
            small = dv_bytes is not None and dv_bytes < 64 * 1024 * 1024

            if not with_pos and len(dvd) <= 4096:
                # hot read path: fold (file, pos) into ONE long via a
                # literal file-id map — hashing a long per row in the
                # anti-join measured 1.5x faster than hashing the
                # (string, long) pair (row_index < 2^40 per file; file
                # ids are per-read ordinals, nothing persists them)
                ids = {n: i for i, n in enumerate(sorted(dvd))}
                fmap = F.create_map(
                    *[x for n, i in ids.items()
                      for x in (F.lit(n), F.lit(i))]
                )
                key = (
                    fmap[F.col("__file")].cast("long")
                    * F.lit(1 << 40)
                    + F.col("__pos")
                ).alias("__key")
                dv = dv_raw.select(
                    (
                        fmap[F.col("target")].cast("long")
                        * F.lit(1 << 40)
                        + F.col("pos")
                    ).alias("__key")
                )
                if small:
                    dv = F.broadcast(dv)
                kept = (
                    tagged(dvd)
                    .select("*", key)
                    .join(dv, "__key", "left_anti")
                    .drop("__key", "__file", "__pos")
                )
                parts.append(kept)
            else:
                dv = dv_raw.select(
                    F.col("target").alias("__file"),
                    F.col("pos").alias("__pos"),
                )
                if small:
                    dv = F.broadcast(dv)
                kept = tagged(dvd).join(
                    dv, ["__file", "__pos"], "left_anti"
                )
                parts.append(
                    kept if with_pos else kept.drop("__file", "__pos")
                )
        if not parts:
            return self._df_for(
                files, schema, at_version, with_meta=with_pos
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _dv_state(files: dict[str, dict]) -> dict[str, tuple]:
        """The conflict premise for DV-writing transactions: file set
        AND per-file DV lists — a concurrent merge-on-read commit
        changes no file names, only DV attachments, and must still
        conflict with a transaction that read the pre-DV rows."""
        return {n: tuple(e.get("dvs", ())) for n, e in files.items()}

    def read(
        self,
        version: int | None = None,
        prune: list[tuple[str, object, object]] | None = None,
        bloom: list[tuple[str, list]] | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read, optionally at a past version (time travel)
        and optionally file-pruned: prune entries are either
        (col, lo, hi) RANGE predicates or (col, values) POINT-SET
        predicates (a file survives if ANY value can fall in its
        [min,max] — the IVF-probe shape, where a scattered cell set
        would defeat a single min..max range). Either way files drop
        BEFORE Spark plans the scan — file-level skipping on any
        stats column, complementing parquet's row-group stats which
        Spark only consults after opening the file.

        `bloom` entries are (col, values) EQUALITY predicates tested
        against the per-file bloom sidecars (bloom_cols): the prune
        for point lookups on high-cardinality UNSORTED columns, where
        every file's [min,max] spans the domain and stat pruning keeps
        everything. Both prunes over-approximate "might contain" —
        callers still apply the exact filter on the returned frame.

        `timestamp` is time travel by commit time — resolved to a
        version via version_at_timestamp() (mutually exclusive with
        `version`)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        files = self._live_files(version)
        if not files:
            v0 = self.latest_version() if version is None else version
            schema0 = self._schema_at(v0) if v0 is not None else None
            if schema0 is None:
                raise ValueError("empty table (no committed version)")
            # a COMMITTED table with zero live files — an empty first
            # append through the datasource, or DML that deleted every
            # row — is a legitimate state: read it as an empty frame
            # with the committed schema. The old unconditional raise
            # made a fully-deleted table unreadable (r10 review).
            return self.spark.createDataFrame([], schema0)
        v = self.latest_version() if version is None else version
        schema = self._schema_at(v)
        files = self._apply_prunes(files, prune, bloom, v)
        if not files:
            # every file pruned: empty frame with the right schema
            any_files = self._live_files(version)
            return self._df_for(any_files, schema, v).limit(0)
        return self._read_files(files, schema, at_version=v)

    def _apply_prunes(
        self,
        files: dict[str, dict],
        prune: list | None,
        bloom: list | None,
        version: int | None,
    ) -> dict[str, dict]:
        """The shared file-pruning ladder: manifest stat predicates
        (range or point-set), then bloom sidecars — both conservative
        over-approximations of "might contain". Predicates name
        columns by their CURRENT names; per-file stats are keyed by
        the names current when the file was written, so lookups go
        through the column mapping (identity when the table never
        renamed)."""
        if prune:
            v = self.latest_version() if version is None else version
            cm = self._colmap_at(v)

            def keep(e, pred) -> bool:
                if len(pred) == 3:
                    col, lo, hi = pred
                    mm = e["stats"].get(self._stats_name(e, col, cm))
                    return _may_contain(mm, lo, hi)
                col, values = pred
                mm = e["stats"].get(self._stats_name(e, col, cm))
                return mm is None or any(
                    _may_contain(mm, x, x) for x in values
                )

            files = {
                name: e
                for name, e in files.items()
                if all(keep(e, pred) for pred in prune)
            }
        # blooms answer equality only: range predicates (3-tuples,
        # legal in prune/prune_hint lists) are stat-territory
        bloom = [p for p in (bloom or []) if len(p) == 2]
        if bloom and files:
            files = self._bloom_keep_files(files, bloom, version)
        return files

    # ------------- column rename / drop (metadata-only) -------------

    def _mapping_refs_guard(self, col: str) -> None:
        """Refuse a rename/drop of a column referenced by a CHECK
        constraint or a generated-column expression: those are SQL
        text keyed on names, and silently rewriting user SQL is worse
        than an explicit error (Delta makes the same demand — drop and
        recreate the constraint around the rename)."""
        import re as _re

        pat = _re.compile(rf"\b{_re.escape(col)}\b")
        for n, pred in self.constraints().items():
            if pat.search(pred):
                raise ValueError(
                    f"column {col!r} is referenced by CHECK constraint "
                    f"{n!r} ({pred!r}); drop the constraint, change the "
                    "column, then re-add it with the new name"
                )
        for c, expr in self._effective_generated().items():
            if c == col:
                raise ValueError(
                    f"column {col!r} is a generated column; drop the "
                    "generation rule first"
                )
            if pat.search(expr):
                raise ValueError(
                    f"column {col!r} is referenced by generated column "
                    f"{c!r} ({expr!r}); update the generation rule first"
                )

    def _bootstrap_colmap(
        self, head: int
    ) -> tuple[dict[str, int], int, dict | None]:
        """Current mapping plus the next free id; when this is the
        table's first rename/drop, the mapping is bootstrapped from
        the schema (ids by field position) and returned as the third
        element too — the caller must stamp it as `colmap_base` so
        pre-bootstrap files keep resolving to their true (bootstrap)
        physical names."""
        cm = self._colmap_at(head)
        if cm is not None:
            return dict(cm), self._next_col_id(head), None
        schema = self._schema_at(head)
        if schema is None:
            raise ValueError(
                "table has no recorded schema; column mapping needs one"
            )
        cm = {n: i for i, n in enumerate(schema.fieldNames())}
        return cm, len(cm), dict(cm)

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as ONE metadata commit — no data movement
        (Delta column mapping / Iceberg's id-based rename). The column
        keeps its stable id, so per-file stats, bloom sidecars, CDC
        rows and prune predicates written under the old name keep
        working: reads resolve the new name through the id to each
        file's physical (write-time) name. Time travel to a
        pre-rename version serves the old name (the mapping is
        versioned with the log). stat_cols/bloom_cols properties (and
        this handle's own lists) follow the rename; columns referenced
        by constraints or generated columns are refused."""
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot rename a column of an empty table")
        schema = self._schema_at(head)
        if schema is None or old not in schema.fieldNames():
            raise ValueError(f"no column {old!r} at head version {head}")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        self._mapping_refs_guard(old)
        cm, seq, base = self._bootstrap_colmap(head)
        cm = {(new if n == old else n): i for n, i in cm.items()}
        props = {"colmap": json.dumps(cm), "colmap_seq": str(seq)}
        if base is not None:
            props["colmap_base"] = json.dumps(base)
        # metadata columns follow the rename — on the persisted
        # properties AND this handle's own lists (so its next commit's
        # property stamp doesn't resurrect the old name). Handles
        # created before the rename should be rebuilt. The handle's
        # own lists mutate only AFTER the commit succeeds: a conflict
        # must leave the handle advertising the names the table
        # actually has.
        new_stat = new_bloom = None
        stat = self._effective_stat_cols()
        if old in stat:
            new_stat = [new if c == old else c for c in stat]
            props["stat_cols"] = ",".join(new_stat)
        bloom = self._effective_bloom_cols()
        if old in bloom:
            new_bloom = [new if c == old else c for c in bloom]
            props["bloom_cols"] = ",".join(new_bloom)
        from pyspark.sql.types import StructField, StructType

        new_schema = StructType([
            StructField(new if f.name == old else f.name,
                        f.dataType, f.nullable)
            for f in schema.fields
        ])
        v = self._commit_loop(
            "rename", [], self._fixed_head_guard(head),
            schema=new_schema, replace_schema=True, properties=props,
        )
        if new_stat is not None:
            self.stat_cols = new_stat
        if new_bloom is not None:
            self.bloom_cols = new_bloom
        return v

    def _fixed_head_guard(self, head: int):
        """removes_fn for metadata-only schema commits (rename/drop):
        they validated against `head` and replace the schema, so ANY
        concurrent commit (which may have evolved schema or mapping)
        conflicts — the caller re-runs against fresh state."""
        def removes(live_now: dict[str, dict]) -> list[str]:
            if self.latest_version() != head:
                raise SnapshotConflict(
                    "table changed under this schema change; re-run"
                )
            return []

        return removes

    def drop_column(self, col: str) -> int:
        """DROP COLUMN as ONE metadata commit: the column leaves the
        schema and the mapping; its bytes stay in the data files
        (parquet column pruning means readers never touch them) and
        remain served by time travel to pre-drop versions. A later
        ADD of the same name is a NEW column (fresh id) — old values
        do not resurrect, exactly Delta/Iceberg drop semantics."""
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot drop a column of an empty table")
        schema = self._schema_at(head)
        if schema is None or col not in schema.fieldNames():
            raise ValueError(f"no column {col!r} at head version {head}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        self._mapping_refs_guard(col)
        cm, seq, base = self._bootstrap_colmap(head)
        cm.pop(col, None)
        props = {"colmap": json.dumps(cm), "colmap_seq": str(seq)}
        if base is not None:
            props["colmap_base"] = json.dumps(base)
        new_stat = new_bloom = None
        stat = self._effective_stat_cols()
        if col in stat:
            new_stat = [c for c in stat if c != col]
            props["stat_cols"] = ",".join(new_stat)
        bloom = self._effective_bloom_cols()
        if col in bloom:
            new_bloom = [c for c in bloom if c != col]
            props["bloom_cols"] = ",".join(new_bloom)
        from pyspark.sql.types import StructType

        new_schema = StructType(
            [f for f in schema.fields if f.name != col]
        )
        v = self._commit_loop(
            "drop_column", [], self._fixed_head_guard(head),
            schema=new_schema, replace_schema=True, properties=props,
        )
        if new_stat is not None:
            self.stat_cols = new_stat
        if new_bloom is not None:
            self.bloom_cols = new_bloom
        return v

    # ------------- table-level CHECK constraints -------------

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints, {name: predicate} — stored as
        `constraint.<name>` table properties, so every handle of the
        table enforces them (an empty value marks a drop)."""
        if self.latest_version() is None:
            return {}
        pfx = "constraint."
        return {
            k[len(pfx):]: v
            for k, v in self.properties_at().items()
            if k.startswith(pfx) and v
        }

    def add_constraint(self, name: str, predicate: str) -> int:
        """ADD CONSTRAINT (Delta CHECK): validate the predicate over
        the EXISTING rows first (one scan — adding a constraint a
        table already violates is refused, so writers may trust that
        pre-existing rows are valid), then stamp it as a versioned
        property. From that commit on, EVERY write path on any handle
        — append, overwrite, merge postimages/inserts, UPDATE SET
        results — gates its new rows (rows where the predicate is
        false OR null violate, the Expectation contract). DELETE needs
        no gate (nothing new); RESTORE deliberately bypasses — the
        operational undo must not be blocked by a constraint added
        after the restore point."""
        from pyspark.sql import functions as F

        head = self.latest_version()
        if head is not None:
            bad = (
                self.read()
                .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
                .limit(1).count()
            )
            if bad:
                raise ExpectationViolation(
                    f"existing rows violate constraint {name!r} "
                    f"({predicate}); constraint not added"
                )
        # the validation scan is only a proof about THIS head: a
        # concurrent write (whose own gate read the pre-constraint
        # properties) could land violating rows between the scan and
        # the commit — conflict instead of silently promising a
        # guarantee the table no longer meets
        guard = (
            self._fixed_head_guard(head) if head is not None
            else (lambda live: [])
        )
        return self._commit_loop(
            "add-constraint", [], guard,
            properties={f"constraint.{name}": predicate},
        )

    def drop_constraint(self, name: str) -> int:
        """DROP CONSTRAINT: an empty property value masks the
        constraint from `constraints()` at every later version."""
        return self._commit_loop(
            "drop-constraint", [], lambda live: [],
            properties={f"constraint.{name}": ""},
        )

    def _constraint_gate(self, df: DataFrame) -> None:
        """Abort-before-staging gate applied to a write's NEW rows.
        Free when the table has no constraints; one batch-sized
        aggregate otherwise (enforce_expectations)."""
        cons = self.constraints()
        if cons:
            enforce_expectations(
                df,
                [Expectation(n, p, "fail") for n, p in cons.items()],
            )

    def detail(self) -> dict:
        """DESCRIBE DETAIL: the operational one-glance summary a table
        owner checks before/after maintenance — all driver-side
        metadata, no scan. num_dv_files / dv_masked_rows quantify the
        merge-on-read debt compact()/purge_dvs() would retire;
        size_bytes is the live on-disk footprint."""
        head = self.latest_version()
        if head is None:
            return {"version": None, "num_files": 0, "num_rows": 0,
                    "size_bytes": 0, "num_dv_files": 0,
                    "properties": {}, "checkpoints": []}
        live = self._live_files()
        size = 0
        for name, e in live.items():
            try:
                size += os.path.getsize(self._data_path(name, e))
            except OSError:
                continue  # concurrently vacuumed
        dv_paths = sorted(
            {p for e in live.values() for p in e.get("dvs", ())}
        )
        # masked-row debt: DV files are batch-sized parquet, so exact
        # footer+column reads stay driver-cheap. One DV file can mask
        # several targets and outlive some of them — count only rows
        # whose target is still live (the rows a read actually drops).
        dv_masked = 0
        if dv_paths:
            import pyarrow.parquet as pq

            for p in dv_paths:
                try:
                    tgt = pq.read_table(
                        self._dv_path(p), columns=["target"]
                    ).column("target").to_pylist()
                except OSError:
                    continue
                dv_masked += sum(1 for t in tgt if t in live)
        cdc_files = cdc_rows = 0
        for v in self._versions():
            for e in self._read_manifest(v).get("cdc", []):
                cdc_files += 1
                cdc_rows += e["rows"]
        return {
            "version": head,
            "num_files": len(live),
            # LOGICAL row count: physical rows minus DV-masked rows
            "num_rows": sum(e["rows"] for e in live.values()) - dv_masked,
            "physical_rows": sum(e["rows"] for e in live.values()),
            "dv_masked_rows": dv_masked,
            "size_bytes": size,
            "num_dv_files": len(dv_paths),
            "num_cdc_files": cdc_files,
            "cdc_rows": cdc_rows,
            "stat_cols": self._effective_stat_cols(),
            "bloom_cols": self._effective_bloom_cols(),
            "constraints": self.constraints(),
            "properties": self.properties_at(),
            "checkpoints": self._checkpoints(),
        }

    def restore(self, version: int) -> int:
        """RESTORE TO VERSION: make a past snapshot the head again
        with ONE metadata commit — no data movement (Delta's RESTORE,
        the operational undo for a bad batch). The restored manifest
        re-adds the old version's file entries VERBATIM, deletion-
        vector attachments included, so a merge-on-read snapshot
        restores bit-exactly; replay resets each re-added entry, so
        masks landed after `version` do not leak in. The undone
        versions stay readable (time travel), their files stay
        vacuum-protected (ever-referenced), and the change feed across
        the restore commit is the honest rollback diff. Head
        replacement rebases like overwrite — always cleanly. Raises
        if `version` fell to retention."""
        head = self.latest_version()
        if head is None:
            raise ValueError("cannot restore an empty table")
        if version == head:
            return head  # already there: no-op, no empty commit
        old = self._live_files(version)  # raises if expired/unknown
        mapped = self._colmap_at(version) is not None or (
            self._colmap_at(head) is not None
        )
        adds = []
        for e in old.values():
            entry = dict(e)
            if mapped:
                # the re-added entries will be stamped with the RESTORE
                # commit's version on replay — their true write-time
                # mapping must ride along explicitly
                entry["cmap"] = self._entry_cmap(e)
            adds.append(entry)
        props = None
        if mapped:
            # the restored head serves the TARGET version's names; ids
            # already spent stay spent (colmap_seq never rewinds)
            cm = self._colmap_at(version)
            props = {
                "colmap": json.dumps(cm if cm is not None else
                                     self._colmap_base() or {}),
                "colmap_seq": str(self._next_col_id(head)),
            }

        def removes(now: dict[str, dict]) -> list[str]:
            return sorted(now)

        return self._commit_loop(
            "restore", adds, removes,
            schema=self._schema_at(version), replace_schema=True,
            properties=props,
        )

    def clone_to(self, dest_path: str, version: int | None = None,
                 timestamp: float | None = None) -> "SnapshotTable":
        """SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): a
        new, independently-writable table whose version 0 references
        the source's live files — data AND deletion vectors — by
        absolute location. Zero bytes copied; cost is O(files)
        driver-side metadata, so forking a 100 TB table is instant.
        That is the dev/test-against-prod and write-audit-publish
        primitive: clone, mutate/validate the clone, throw it away (or
        promote its data) without the source ever seeing a commit.

        The clone diverges freely: its appends/DML stage files into
        its OWN data/ (copy-on-write rewrites of inherited files
        land locally too), removes merely drop references, and its
        vacuum/retention sweeps only its own data/ directory — the
        source's files are physically out of reach by construction.
        compact() rewrites whatever is still referenced into local
        files, turning a shallow clone into a self-contained deep one.

        Caveat (exactly Delta's): the clone pins source FILES, not a
        source version — a source vacuum()/expire_versions() that
        deletes files the clone still references breaks those reads.
        Materialize with compact() before retiring source history."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        live = self._live_files(version)
        if not live:
            raise ValueError("cannot clone an empty table")
        v = self.latest_version() if version is None else version
        schema = self._schema_at(v)
        props = self.properties_at(v)
        mapped = self._colmap_at(v) is not None
        adds = []
        for name, e in live.items():
            entry = dict(e)
            entry["loc"] = os.path.abspath(self._data_path(name, e))
            if e.get("dvs"):
                entry["dvs"] = [
                    os.path.abspath(self._dv_path(p)) for p in e["dvs"]
                ]
            if mapped:
                # the clone cannot replay THIS table's log to recover
                # each file's write-time mapping — materialize it
                entry["cmap"] = self._entry_cmap(e)
            adds.append(entry)
        dest = SnapshotTable(
            self.spark, dest_path,
            stat_cols=self.stat_cols,
            checkpoint_every=self.checkpoint_every,
            commit_backend=self.commit_backend,
            bloom_cols=self.bloom_cols,
            generated_cols=self.generated_cols,
        )
        manifest = {
            "version": 0,
            "op": "clone",
            "adds": adds,
            "removes": [],
            "source": {
                "path": os.path.abspath(self.path), "version": v,
            },
        }
        if schema is not None:
            manifest["schema"] = schema.json()
        if props:
            manifest["properties"] = props
        if not dest._try_commit(0, manifest):
            raise SnapshotConflict(
                f"clone destination {dest_path} already has a log"
            )
        return dest

    def publish_from(self, clone: "SnapshotTable",
                     allow_unrelated_appends: bool = False) -> int:
        """WRITE-AUDIT-PUBLISH: promote a shallow clone's state back
        into this (source) table with ONE metadata commit — the
        Iceberg WAP / Databricks blessed-clone workflow. The clone was
        forked with clone_to(), mutated and validated off to the side
        (expectations, dual-run comparisons, human sign-off); publish
        makes its exact state the source's next version:

        - files the clone still INHERITS are kept (they are this
          table's own files — no IO at all);
        - files the clone created locally (appends, COW rewrites, DV
          masks) are ADOPTED by HARDLINK into this table's data dir,
          then referenced by the publish manifest — zero copies, and
          the clone keeps its own name for every inode, so a crash
          (or a conflict) strands only grace-windowed vacuum garbage
          here and the clone stays fully readable. Cross-device
          clones fall back to a physical copy of just the clone-local
          files;
        - source files the clone dropped are removed (references
          only — they still back time travel).

        Conflict discipline (Iceberg's fast-forward rule): publishing
        is only sound against the source state the clone forked from
        (recorded in the clone's own manifest), so the commit raises
        SnapshotConflict if the source has advanced since the fork —
        a removed or DV-masked inherited file, OR any file committed
        here that the fork never saw (silently dropping a concurrent
        append would be data loss, not a merge). The one relaxation:
        `allow_unrelated_appends=True` rebases over pure appends by
        keeping the post-fork files alongside the published state
        (sound only if the caller knows the appends are key-disjoint
        from the branch's changes). Adopted links are removed on
        conflict. The clone is readable before AND after publish (its
        log keeps its own references); the published state lives
        entirely under this table's directory, so the clone can be
        deleted once the audit trail no longer needs it."""
        head_c = clone.latest_version()
        if head_c is None:
            raise ValueError("cannot publish an empty clone")
        m0 = clone._read_manifest(0)
        src_ref = m0.get("source") if m0.get("op") == "clone" else None
        if src_ref is None or os.path.abspath(
            src_ref["path"]
        ) != os.path.abspath(self.path):
            raise ValueError(
                "publish_from requires a clone of THIS table "
                "(clone_to provenance missing or pointing elsewhere)"
            )
        # the fork basis: what the source looked like when the branch
        # was cut. Files committed here after that are post-fork.
        try:
            forked = set(self._live_files(src_ref["version"]))
        except ValueError:
            forked = None  # fork version expired: strict mode only
        live_c = clone._live_files()
        schema = clone._schema_at(head_c)
        src_data = os.path.abspath(os.path.join(self.path, "data"))
        os.makedirs(src_data, exist_ok=True)
        moved: list[tuple[str, str]] = []
        adopted: dict[str, str] = {}

        def adopt(loc: str) -> str:
            loc = os.path.abspath(loc)
            if loc in adopted:  # one DV file can mask many targets
                return adopted[loc]
            name = os.path.basename(loc)
            dst = os.path.join(src_data, name)
            if loc != dst:
                if os.path.exists(dst):
                    raise ValueError(f"publish name collision: {name}")
                try:
                    os.link(loc, dst)  # zero-copy; clone keeps its name
                except OSError:
                    shutil.copy2(loc, dst)  # cross-device clone
                moved.append((dst, loc))
            adopted[loc] = name
            return name

        clone_mapped = clone._colmap_at(head_c) is not None
        src_head = self.latest_version()
        if clone_mapped and src_head is not None:
            # ids minted INDEPENDENTLY on both sides since the fork
            # collide: a post-fork source file kept by
            # allow_unrelated_appends would serve its column's bytes
            # under the clone's different same-id column. (Independent
            # BOOTSTRAPS agree — ids by position of the shared fork
            # schema — so only post-fork additions can collide.)
            try:
                forked_ids = set(
                    (self._colmap_at(src_ref["version"]) or {}).values()
                )
            except ValueError:
                forked_ids = set()
            new_src = set(
                (self._colmap_at(src_head) or {}).values()
            ) - forked_ids
            new_clone = set(
                (clone._colmap_at(head_c) or {}).values()
            ) - forked_ids
            if new_src & new_clone:
                raise SnapshotConflict(
                    "source and clone minted the same column id(s) "
                    f"{sorted(new_src & new_clone)} independently "
                    "since the fork; re-clone and re-apply"
                )
        if (not clone_mapped and src_head is not None
                and self._colmap_at(src_head) is not None):
            # the source bootstrapped column mapping after the fork —
            # a metadata-only change the file-level conflict guard
            # cannot see; the clone's unmapped entries would be
            # misread under the source's (possibly renamed) mapping
            raise SnapshotConflict(
                "source gained column mapping since the fork; "
                "re-clone and re-apply"
            )
        adds: list[dict] = []
        inherited: dict[str, tuple] = {}  # name -> expected dv names
        for name, e in live_c.items():
            # "v" is a clone-log version stamp — meaningless in this
            # table's log; the write-time mapping travels explicitly
            entry = {
                k: v for k, v in e.items()
                if k not in ("loc", "dvs", "v")
            }
            if clone_mapped:
                entry["cmap"] = clone._entry_cmap(e)
            dvs = []
            for p in e.get("dvs", ()):
                dloc = os.path.abspath(clone._dv_path(p))
                dvs.append(
                    os.path.basename(dloc)
                    if os.path.dirname(dloc) == src_data
                    else adopt(dloc)
                )
            if dvs:
                entry["dvs"] = dvs
            loc = os.path.abspath(clone._data_path(name, e))
            if os.path.dirname(loc) == src_data:
                # an inherited source file: expected dv state = what
                # the clone forked with (source-side dvs only)
                inherited[name] = tuple(sorted(
                    os.path.basename(os.path.abspath(clone._dv_path(p)))
                    for p in e.get("dvs", ())
                    if os.path.dirname(
                        os.path.abspath(clone._dv_path(p))
                    ) == src_data
                ))
            else:
                entry["path"] = adopt(loc)
            adds.append(entry)
        keep = {a["path"] for a in adds}

        def removes(now: dict[str, dict]) -> list[str]:
            for n, expected in inherited.items():
                cur = now.get(n)
                if cur is None:
                    raise SnapshotConflict(
                        f"inherited file {n} was removed by a "
                        "concurrent commit; re-clone and re-apply"
                    )
                if tuple(sorted(cur.get("dvs", ()))) != expected:
                    raise SnapshotConflict(
                        f"inherited file {n} gained deletion vectors "
                        "under a concurrent commit; re-clone and "
                        "re-apply"
                    )
            if self.latest_version() == src_ref["version"]:
                post_fork = []  # source untouched since the fork
            elif forked is not None:
                post_fork = [
                    n for n in now
                    if n not in keep and n not in forked
                ]
            else:
                # fork version expired AND the head moved: post-fork
                # files cannot be told apart from the clone's own
                # legitimate drops — strict conflict
                post_fork = [n for n in now if n not in keep]
            if post_fork and not allow_unrelated_appends:
                raise SnapshotConflict(
                    f"source advanced since the fork ({len(post_fork)} "
                    "file(s) committed after clone_to); dropping them "
                    "would lose data — re-clone and re-apply, or pass "
                    "allow_unrelated_appends=True if they are known "
                    "key-disjoint appends"
                )
            kept_post_fork = set(post_fork)
            return sorted(
                n for n in now
                if n not in keep and n not in kept_post_fork
            )

        pub_props = None
        if clone_mapped:
            # the published head serves the CLONE's names (it may have
            # renamed); ids are shared with this table by construction
            # (the clone copied them at fork time)
            pub_props = {
                "colmap": json.dumps(clone._colmap_at(head_c)),
                "colmap_seq": str(
                    max(
                        clone._next_col_id(head_c),
                        self._next_col_id(self.latest_version())
                        if self.latest_version() is not None else 0,
                    )
                ),
            }
            base_c = clone._colmap_base()
            if base_c is not None:
                pub_props["colmap_base"] = json.dumps(base_c)
        try:
            return self._commit_loop(
                "publish", adds, removes,
                schema=schema, replace_schema=True,
                properties=pub_props,
            )
        except SnapshotConflict:
            for dst, _orig in moved:
                try:
                    os.remove(dst)  # drop the links; clone untouched
                except OSError:
                    pass
            raise

    def register_view(self, name: str,
                      version: int | None = None,
                      timestamp: float | None = None) -> None:
        """Expose the snapshot (optionally a past version or a commit
        timestamp — time travel in SQL) as a temp view, so `spark.sql`
        queries the table like any other relation: the ad-hoc surface
        sources/catalog.py gives the plain parquet tables, extended to
        the transactional format. The view pins the file list resolved
        NOW (snapshot isolation for its readers); re-register after
        new commits to see them."""
        self.read(
            version=version, timestamp=timestamp
        ).createOrReplaceTempView(name)

    def history(self) -> list[dict]:
        """The committed log, oldest first: version, op, files added /
        removed, rows added — the audit surface."""
        out = []
        for v in self._versions():
            m = self._read_manifest(v)
            out.append(
                {
                    "version": v,
                    "ts": m.get("ts"),
                    "op": m["op"],
                    "n_added": len(m["adds"]),
                    "n_removed": len(m["removes"]),
                    "rows_added": sum(a["rows"] for a in m["adds"]),
                    "rows_dv_masked": sum(
                        d["rows"] for d in m.get("dv_adds", [])
                    ),
                }
            )
        return out


def _py_orderable(v) -> bool:
    """True when Python's min/max over collected values of this type
    agrees with the engine's MIN/MAX aggregate ordering — the guard
    that lets merge_into derive its stat-prune ranges from the
    complete grouped-keys sample instead of a second source pass.
    None rides along (skipped by the callers' null filters); float NaN
    is the one value whose Python comparisons diverge (the engine
    orders NaN largest, Python comparisons with NaN are unordered), so
    it forces the engine pass. str is safe: UTF-8 byte order equals
    code-point order."""
    import datetime
    import decimal

    if v is None:
        return True
    if isinstance(v, float):
        return v == v  # not NaN
    return isinstance(
        v,
        (bool, int, str, bytes, bytearray,
         datetime.date, datetime.datetime, decimal.Decimal),
    )


def _prune_candidates(
    live: dict[str, dict],
    keys: list[str],
    ranges: dict[str, tuple],
    points: dict[str, list],
    stats_name=None,
) -> dict[str, dict]:
    """Files that MAY hold one of the merge source's keys, judged from
    manifest stats alone (driver-side, O(files x log(points))): each
    key column must pass either the point-set test (any source value
    in the file's [min,max] — tight for sparse scattered batches AND
    for big batches against a range-CLUSTERED table, where the range
    test keeps every file but most files contain none of the batch's
    keys) or the range test. Point sets are per-key SORTED and
    COMPLETE distinct-value lists — the membership test is one bisect
    per (file, key), so a 64k-point batch over 100k files stays
    driver-cheap. A column with no recorded stats can never prune a
    file. `stats_name(entry, col)` resolves the per-file stats key on
    column-mapped tables (identity when None)."""
    from bisect import bisect_left

    def any_point_in(pts: list, mn, mx) -> bool:
        try:
            i = bisect_left(pts, mn)
            return i < len(pts) and not mx < pts[i]
        except TypeError:
            # incomparable types (e.g. date/decimal source values vs
            # the stringified footer stats _file_stats keeps for
            # non-primitive columns): no comparison can decide, so
            # conservatively KEEP the file — pruning must never turn
            # a type mismatch into a dropped candidate
            return True

    def may_hold(e: dict) -> bool:
        for k in keys:
            mm = e["stats"].get(
                stats_name(e, k) if stats_name is not None else k
            )
            if mm is None:
                continue
            pts = points.get(k)
            if pts:
                if not any_point_in(pts, mm[0], mm[1]):
                    return False
            elif not _may_contain(mm, *ranges[k]):
                return False
        return True

    return {name: e for name, e in live.items() if may_hold(e)}


def _all_refs(live: dict[str, dict]) -> set[str]:
    """Every physical file a live-file state references: the data
    files themselves plus their attached deletion vectors."""
    refs = set(live)
    for e in live.values():
        refs |= set(e.get("dvs", ()))
    return refs


def _may_contain(minmax: list | None, lo, hi) -> bool:
    """File-stat intersection test; a file with no stats for the column
    can never be pruned (absence of evidence)."""
    if minmax is None:
        return True
    mn, mx = minmax
    if lo is not None and mx < lo:
        return False
    if hi is not None and mn > hi:
        return False
    return True


def refresh_aggregate(
    src: SnapshotTable,
    agg: SnapshotTable,
    keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
) -> int | None:
    """Incrementally maintain a grouped COUNT/SUM materialization of
    `src` inside `agg` — the materialized-view refresh a warehouse
    would run after every batch, driven by the CHANGE DATA FEED
    instead of a full rescan.

    Bootstrap (empty agg) computes the aggregate once from the source
    snapshot. Every later refresh reads only changes(applied, head):
    inserts/update-postimages count +1, deletes/update-preimages -1
    (a row that moved groups decrements its old group and increments
    the new one), so refresh cost tracks the CHURN between versions,
    not source size. The agg rewrite is O(groups) — the dimension of
    the materialization, not the corpus.

    Exactly-once: the applied source version rides the txn protocol
    under app id "incr-agg:<src path>"; a crashed-and-replayed refresh
    finds its (app, head) txn committed and becomes a no-op, and
    `txn_version` doubles as the refresh watermark (no side state).

    Count/sum over integral measures reproduces the full recompute
    EXACTLY; double measures accumulate the usual float-association
    drift, so store money as scaled longs (cents) — the same rule the
    oracle queries follow."""
    from pyspark.sql import functions as F

    head = src.latest_version()
    if head is None:
        return None
    app = f"incr-agg:{os.path.abspath(src.path)}"
    applied = agg.txn_version(app)
    if applied >= head:
        return None  # nothing new to fold in

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
        )

    if applied < 0:
        fresh = agg_of(src.read())
    else:
        try:
            cdc = src.changes(applied, head, keys)
        except ValueError:
            # the applied watermark version was expired by retention:
            # the feed is gone, but the aggregate is still exactly
            # recomputable from the head snapshot. Full recompute once
            # instead of wedging every future refresh (the overwrite
            # below re-stamps the txn watermark at head).
            return agg.overwrite(agg_of(src.read()), txn=(app, head))
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        deltas = cdc.groupBy(*group_cols).agg(
            F.sum(sign).alias("__d_cnt"),
            *[F.sum(sign * F.col(c)).alias(f"__d_{c}") for c in sum_cols],
        )
        old = agg.read()
        fresh = (
            old.join(deltas, group_cols, "full_outer")
            .select(
                *group_cols,
                (
                    F.coalesce("cnt", F.lit(0))
                    + F.coalesce("__d_cnt", F.lit(0))
                ).cast("long").alias("cnt"),
                *[
                    (
                        F.coalesce(f"sum_{c}", F.lit(0))
                        + F.coalesce(f"__d_{c}", F.lit(0))
                    ).alias(f"sum_{c}")
                    for c in sum_cols
                ],
            )
            .filter(F.col("cnt") > 0)
        )
    return agg.overwrite(fresh, txn=(app, head))


def refresh_join(
    a: SnapshotTable,
    b: SnapshotTable,
    view: SnapshotTable,
    a_keys: list[str],
    b_keys: list[str],
    on: list[str],
) -> int | None:
    """Incrementally maintain a materialized INNER EQUI-JOIN of two
    snapshot tables inside `view`, driven by BOTH change data feeds —
    refresh_aggregate's sibling for the other big warehouse
    materialization. Non-join columns of `a` and `b` must be disjoint
    (the usual materialized-join contract); rows of `view` are keyed
    by a_keys + b_keys (the pair key).

    Delta rule (exact): the pairs affected by a refresh are those
    touching a changed a-key or a changed b-key. Stale pairs are
    dropped with a merge-on-read MERGE DELETE (write IO bounded by
    churn, never view size); the replacement slice is

        dA_post JOIN b_head            (changed-a pairs), union
        (a_head MINUS changed-a keys) JOIN dB_post   (changed-b-only)

    — the postimages already carry the new rows, so neither source is
    rescanned for its own changes; the cross terms read the OTHER
    side's head snapshot, a read that stat/bloom prunes to the
    matching footprint when `on` is indexed (bloom_cols) on both
    tables. Refresh cost therefore tracks CHURN, not source or view
    size, and the result equals a full a JOIN b recompute EXACTLY.

    Exactly-once: both applied head versions ride ONE txn watermark,
    encoded ha * 2^31 + hb (monotone — heads only grow; version
    counts are nowhere near 2^31). A crash between the delete commit
    and the txn-stamped append replays convergently: the watermark
    has not advanced, the re-run's stale set simply finds the
    already-deleted pairs gone (merge-delete no-op) and the slice is
    recomputed and appended once. Readers wanting a consistent view
    mid-refresh pin a version — snapshot isolation is the table
    format's own contract. If retention expired a watermark's CDC
    range, the view falls back to one full recompute and re-stamps
    (same rule as refresh_aggregate)."""
    from pyspark.sql import functions as F

    ha, hb = a.latest_version(), b.latest_version()
    if ha is None or hb is None:
        return None
    app = (
        f"incr-join:{os.path.abspath(a.path)}:{os.path.abspath(b.path)}"
    )
    enc_applied = view.txn_version(app)
    enc_new = ha * (1 << 31) + hb
    if enc_applied >= enc_new:
        return None
    if enc_applied < 0:
        return view.overwrite(a.read().join(b.read(), on),
                              txn=(app, enc_new))
    wa, wb = divmod(enc_applied, 1 << 31)
    try:
        cdc_a = a.changes(wa, ha, a_keys) if ha > wa else None
        cdc_b = b.changes(wb, hb, b_keys) if hb > wb else None
    except ValueError:
        # a watermark's CDC range fell to retention: recompute once
        return view.overwrite(a.read().join(b.read(), on),
                              txn=(app, enc_new))
    # pin each diff once (it is churn-sized): the refresh consumes it
    # from several actions (key collects, the stale semi-joins, both
    # delta terms) and re-deriving the multi-scan diff plan each time
    # would dominate the per-batch constant
    if cdc_a is not None:
        cdc_a = cdc_a.localCheckpoint(eager=True)
    if cdc_b is not None:
        cdc_b = cdc_b.localCheckpoint(eager=True)
    post = ("insert", "update_postimage")
    pair = a_keys + b_keys

    # every read below is FOOTPRINT-BOUNDED when the churn is sparse:
    # the changed key / join-value sets (capped at the same 1024 the
    # merge planner uses) become point-set stat + bloom prunes on the
    # view and on the cross-term source reads, so a small batch opens
    # only the files that can hold affected rows. Pruning is always a
    # superset of the matching rows; the joins on top keep exactness.
    point_cap = 1024

    def small_vals(df: DataFrame, cols: list[str]) -> list | None:
        rows = (
            df.select(*cols).distinct().limit(point_cap + 1).collect()
        )
        if len(rows) > point_cap:
            return None
        preds = [
            (c, sorted({r[c] for r in rows if r[c] is not None}))
            for c in cols
        ]
        return [(c, v) for c, v in preds if v]

    def pruned_read(t: SnapshotTable, preds: list | None) -> DataFrame:
        if not preds:
            return t.read()
        return t.read(prune=preds, bloom=preds)

    changed_a = (
        cdc_a.select(*a_keys).distinct() if cdc_a is not None else None
    )
    changed_b = (
        cdc_b.select(*b_keys).distinct() if cdc_b is not None else None
    )
    stale_parts = []
    if changed_a is not None:
        vw_a = pruned_read(view, small_vals(changed_a, a_keys))
        stale_parts.append(
            vw_a.select(*pair).join(changed_a, a_keys, "left_semi")
        )
    if changed_b is not None:
        vw_b = pruned_read(view, small_vals(changed_b, b_keys))
        stale_parts.append(
            vw_b.select(*pair).join(changed_b, b_keys, "left_semi")
        )
    stale = stale_parts[0]
    for p in stale_parts[1:]:
        # by NAME: a USING join reorders output columns (join keys
        # first), so the two semi-joins disagree on column order
        stale = stale.unionByName(p)
    # the delete leg carries its OWN txn watermark: a racing refresher
    # at the same (or an older) watermark must not re-delete pairs the
    # winner already replaced — its merge no-ops on the committed del
    # mark, and its append no-ops on the main mark. A separate app id
    # keeps crash replay convergent: a crash between delete and append
    # leaves the MAIN watermark unadvanced, so the re-run still runs
    # (its delete no-ops, its append lands the slice exactly once).
    view.merge_into(
        stale.distinct(), pair,
        when_matched="delete", insert_not_matched=False, mode="mor",
        txn=(app + "#del", enc_new),
    )

    fresh_parts = []
    if cdc_a is not None:
        a_post = cdc_a.filter(
            F.col("_change_type").isin(*post)
        ).drop("_change_type")
        b_read = pruned_read(b, small_vals(a_post, on))
        fresh_parts.append(a_post.join(b_read, on))
    if cdc_b is not None:
        b_post = cdc_b.filter(
            F.col("_change_type").isin(*post)
        ).drop("_change_type")
        a_side = pruned_read(a, small_vals(b_post, on))
        if changed_a is not None:
            # changed-a pairs are already covered by the first term
            a_side = a_side.join(changed_a, a_keys, "left_anti")
        fresh_parts.append(a_side.join(b_post, on))
    fresh = fresh_parts[0]
    for p in fresh_parts[1:]:
        fresh = fresh.unionByName(p)

    # the refresh writes through _commit_loop directly, so it applies
    # the view's constraint gate itself (append would have)
    view._constraint_gate(fresh)
    adds = view._stage(fresh)

    def guard(live_now: dict) -> list:
        # commit-time premise, re-checked inside the retry loop: the
        # watermark this refresh READ must still be current. Without
        # it, two racing refreshes over overlapping CDC ranges could
        # both append their slices (the delete leg's serializable
        # conflict does not fire when the stale sets are empty — e.g.
        # pure-insert churn) and double-apply the overlap.
        if view.txn_version(app) != enc_applied:
            raise SnapshotConflict(
                "join view advanced past this refresh's watermark "
                "(concurrent refresh committed); re-run"
            )
        return []

    return view._commit_loop(
        "append", adds, guard, schema=fresh.schema, txn=(app, enc_new)
    )
