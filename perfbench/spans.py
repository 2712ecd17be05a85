"""Span recorder for the traced run.

Layers are measured from outside: `Tracer.install` wraps every public
function and every public method of the classes defined in each layer
module, and rebinds the wrapped name in every loaded module of the
package that imported it. Each wrapped call records a span (name,
layer, start, end, parent, op id). While a span is open its id is the
Spark job group, so every job Spark runs is attributed to the innermost
open span; jobs outside any span land in `unattributed`.

Self time of a span is its duration minus the part of its interval
that its child spans cover; a layer's `self_s` sums its spans' self
times, so lazy work bills to whichever span triggered the action.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager

PACKAGE = "data_engineering_pipeline_spark"

LAYERS = (
    "session",
    "sources.rest",
    "sources.json_ingest",
    "sources.snapshot_table",
    "operators.upsert",
    "operators.dedup",
    "operators.sig_store",
    "operators.lm",
    "operators.sampling",
    "operators.graph",
    "operators.sharding",
    "operators.ann_index",
    "operators.search",
    "plans.pipeline",
    "plans.curation_pipeline",
    "plans.search_pipeline",
)

UNATTRIBUTED = "unattributed"


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    """Holds the spans of one run in memory; `dump` writes them out."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._wrapped: dict[int, object] = {}  # id(original) -> wrapper
        self.jobs = {UNATTRIBUTED: _zero_counts()}  # layer -> counts
        self.total_jobs = 0
        self._harvested = 0  # spans before this index are harvested
        self._quiet = 0
        self.missing_jobs = 0

    # -- spans ---------------------------------------------------------
    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def span(self, name: str, layer: str, quiet: bool = False):
        """Record one span. Inside a `quiet` span wrapped calls record
        nothing, so its Spark jobs all bill to it."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        self._quiet += quiet
        try:
            yield rec
        finally:
            self._quiet -= quiet
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if sid is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])

    # -- installation --------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        if id(fn) in self._wrapped:
            return self._wrapped[id(fn)]
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._quiet:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn
        self._wrapped[id(fn)] = wrapper
        return wrapper

    def install(self, layers=LAYERS) -> None:
        """Wrap each layer module's public functions and class methods,
        then rebind the names in every loaded package module."""
        import importlib

        originals: dict[int, object] = {}
        for layer in layers:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    w = self._wrap(obj, attr, layer)
                    originals[id(obj)] = w
                    setattr(mod, attr, w)
                elif inspect.isclass(obj):
                    for m, f in list(vars(obj).items()):
                        if m.startswith("_") or not inspect.isfunction(f):
                            continue
                        setattr(obj, m, self._wrap(f, f"{attr}.{m}", layer))
        self.rebind(originals)

    def rebind(self, originals: dict[int, object] | None = None) -> None:
        """Point every `from layer import f` binding in the package (and
        in the benchmark's own modules) at the wrapper. Call again after
        lazily imported modules load."""
        originals = originals or {
            id(w.__perfbench_original__): w for w in self._wrapped.values()
        }
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname.startswith(PACKAGE) or modname.startswith("perfbench")
            ):
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and obj is not w:
                    setattr(mod, attr, w)

    # -- Spark job attribution ----------------------------------------
    def harvest(self) -> None:
        """Attribute the live SparkContext's jobs to spans. Call before
        the context stops: job ids restart with each context."""
        sc = self._sc()
        if sc is None:
            return
        st = sc.statusTracker()
        seen: set[int] = set()

        def add(bucket: dict, job_ids) -> None:
            for jid in job_ids:
                seen.add(jid)
                info = st.getJobInfo(jid)
                bucket["spark_jobs"] += 1
                for stage_id in info.stageIds if info else ():
                    si = st.getStageInfo(stage_id)
                    if si is not None:
                        bucket["spark_tasks"] += si.numCompletedTasks
                        bucket["failed_tasks"] += si.numFailedTasks

        for s in self.spans[self._harvested:]:
            ids = st.getJobIdsForGroup(f"pb{s['id']}")
            counts = _zero_counts()
            add(counts, ids)
            s.update(counts)
        add(self.jobs[UNATTRIBUTED], st.getJobIdsForGroup(None))
        self._harvested = len(self.spans)
        # job ids are dense from 0 within a context; a gap would mean a
        # job the status store no longer retains
        self.total_jobs += (max(seen) + 1) if seen else 0
        self.missing_jobs += (max(seen) + 1 - len(seen)) if seen else 0

    # -- reporting -----------------------------------------------------
    def layer_metrics(self) -> dict[str, dict]:
        st = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            m = out.setdefault(
                s["layer"], {"calls": 0, "self_s": 0.0, **_zero_counts()}
            )
            m["calls"] += 1
            m["self_s"] += st[s["id"]]
            for k in ("spark_jobs", "spark_tasks", "failed_tasks"):
                m[k] += s.get(k, 0)
        out[UNATTRIBUTED] = {"calls": 0, "self_s": 0.0, **self.jobs[UNATTRIBUTED]}
        return out

    def attributed_jobs(self) -> int:
        return sum(s.get("spark_jobs", 0) for s in self.spans)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self_s=st[s["id"]]) for s in self.spans], fh
            )


def _zero_counts() -> dict:
    return {"spark_jobs": 0, "spark_tasks": 0, "failed_tasks": 0}
