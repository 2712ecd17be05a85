"""Staged pipeline orchestration (op-orch-stages / op-orch-txn /
op-orch-idempotent; reference database.py:174-207, transformer.py:185-197).

The reference runs named stages sequentially, logging each, with
commit-on-success/rollback-on-error DB scopes. Spark equivalents:

- stages: named callables over a shared context dict; every stage logged
  with wall-clock (the reference logs every stage).
- txn scope: Spark writes are job-atomic via the output commit protocol;
  a layer write stages its new copy and swaps it in through
  sources/dirswap.py, which heals an interrupted swap on the next
  write, so a failed run never loses a layer (upsert_parquet writes
  the raw and cleaned layers this way).
- idempotency: re-running a pipeline that ends in an upsert write leaves
  the data unchanged (tested in tests/test_pipeline.py).

Stages stay LAZY end-to-end: a stage returns DataFrames into the context
and only terminal stages (writes/counts) trigger jobs, so the whole
pipeline is one or two Spark jobs, not one per stage — the reference's
Python/SQL process boundaries collapse into exchange boundaries inside a
single plan (SURVEY.md §3)."""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

log = logging.getLogger(__name__)

Context = dict[str, Any]


@dataclass
class Stage:
    name: str
    fn: Callable[[Context], Any]


def stage(name: str):
    """Decorator attaching a stage name to a function."""

    def deco(fn):
        return Stage(name, fn)

    return deco


@dataclass
class Pipeline:
    name: str
    stages: list[Stage] = field(default_factory=list)

    def add(self, name: str, fn: Callable[[Context], Any]) -> "Pipeline":
        self.stages.append(Stage(name, fn))
        return self

    def run(self, context: Context | None = None) -> Context:
        ctx: Context = dict(context or {})
        t_total = time.perf_counter()
        log.info("pipeline %s: %d stages", self.name, len(self.stages))
        for st in self.stages:
            t0 = time.perf_counter()
            try:
                result = st.fn(ctx)
            except Exception:
                log.exception("pipeline %s: stage %s FAILED", self.name, st.name)
                raise
            if result is not None:
                ctx[st.name] = result
            log.info(
                "pipeline %s: stage %s done in %.2fs",
                self.name,
                st.name,
                time.perf_counter() - t0,
            )
        log.info(
            "pipeline %s: finished in %.2fs",
            self.name,
            time.perf_counter() - t_total,
        )
        return ctx
