"""Crash-safe directory swap: the one way a Parquet layer is replaced.

The reference commits each refresh in one transaction scope, so a
failed run never loses the table (database.py:60-71). A directory of
Parquet files gets the same guarantee by swapping: stage the new copy
beside the live one, then rename it in. Every writer that replaces a
directory, or some subdirectories of one (shard dirs), does it
through `DirSwap`; Spark reads and writes stay with the caller:

    swap = DirSwap(target)     # heals an interrupted swap of target
    old = read(target)
    with swap.writing():       # a failed write removes the stage
        write the new copy into swap.stage
    swap.commit(units)         # None: the whole dir is one unit

Transient state sits beside the target, named
`<target>.__swap__<token>.<role>`, one token per swap:
- `stage`: the new copy — the whole dir, or the new copies of units at
  their paths relative to the target;
- `commit`: the commit record, the units to swap;
- `aside`: the replaced live copies, until they are deleted.

Crash contract. `commit` writes the record atomically (tmp + rename)
before it touches anything live: the record is the commit point. It
lists each unit as "swap" (present in the stage) or "drop" (absent
from the stage: the unit is removed, e.g. a shard every row left).
Then, unit by unit, the live copy is renamed aside and the staged
copy renamed in. Last come the deletes: the asides, then the stage,
then the record. `heal` runs whenever a DirSwap is constructed, so a
writer always heals its target before it reads it, and it has one
policy:
- record present: roll forward. Every unit still in the stage is
  swapped in, every drop unit still live is renamed aside, and then
  the deletes run. Each step skips what is already done, so a heal
  that dies is finished by the next one.
- no record: nothing live was renamed yet, so rolling back is
  dropping the stage (and a half-written record).
A reader therefore finds each unit as its full old or full new copy,
except inside one rename pair, where the unit is missing and the next
writer's heal puts it back. Every caller's staged content is a pure
function of its inputs, so replaying the interrupted writer converges
to the uncrashed result either way.

Single writer per target, like the reference. Renames are atomic on a
POSIX driver-local filesystem.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Iterator
from contextlib import contextmanager


def _remnant(target: str, token: str, role: str) -> str:
    return f"{target}.__swap__{token}.{role}"


def _at(root: str, unit: str) -> str:
    return os.path.join(root, unit) if unit else root


def _finish(target: str, token: str, plan: dict) -> None:
    """Roll the swap named by `plan` forward, then delete its remnants;
    every step is skipped when already done."""
    stage = _remnant(target, token, "stage")
    aside = _remnant(target, token, "aside")

    def put_aside(unit: str) -> None:
        live = _at(target, unit)
        if os.path.exists(live):
            os.makedirs(os.path.dirname(_at(aside, unit)), exist_ok=True)
            os.rename(live, _at(aside, unit))

    for unit in plan["swap"]:
        staged = _at(stage, unit)
        if not os.path.exists(staged):
            continue  # already swapped in
        put_aside(unit)
        os.makedirs(os.path.dirname(_at(target, unit)), exist_ok=True)
        os.rename(staged, _at(target, unit))
    for unit in plan["drop"]:
        put_aside(unit)
    _clean(target, token)


def _clean(target: str, token: str) -> None:
    for role in ("aside", "stage"):
        if os.path.exists(_remnant(target, token, role)):
            shutil.rmtree(_remnant(target, token, role))
    for role in ("commit.tmp", "commit"):  # the record goes last
        if os.path.exists(_remnant(target, token, role)):
            os.remove(_remnant(target, token, role))


def heal(target: str) -> None:
    """Finish (record present) or drop (no record) every interrupted
    swap of `target`; a no-op when there is none."""
    parent, name = os.path.split(os.path.abspath(target))
    if not os.path.isdir(parent):
        return
    pat = re.compile(re.escape(name) + r"\.__swap__([0-9a-f]{8})\.")
    tokens = sorted({
        m.group(1) for f in os.listdir(parent) if (m := pat.match(f))
    })
    for token in tokens:
        record = _remnant(target, token, "commit")
        if os.path.exists(record):
            with open(record) as fh:
                _finish(target, token, json.load(fh))
        else:
            _clean(target, token)


class DirSwap:
    """One swap of `target`. Constructing it heals the target."""

    def __init__(self, target: str) -> None:
        heal(target)
        self.target = target
        self._token = uuid.uuid4().hex[:8]
        self.stage = _remnant(target, self._token, "stage")

    @contextmanager
    def writing(self) -> Iterator[str]:
        """Guard the staged write: if it raises, the stage is removed
        and the error re-raised. Call `commit` after the block, never
        inside it."""
        try:
            yield self.stage
        except BaseException:
            shutil.rmtree(self.stage, ignore_errors=True)
            raise

    def commit(self, units: list[str] | None = None) -> None:
        """Swap the staged copy in. `units` are paths relative to the
        target (shard dirs); None swaps the whole dir. A
        unit missing from the stage is removed from the target."""
        units = [""] if units is None else units
        staged = [u for u in units if os.path.exists(_at(self.stage, u))]
        plan = {"swap": staged,
                "drop": [u for u in units if u not in staged]}
        record = _remnant(self.target, self._token, "commit")
        with open(record + ".tmp", "w") as fh:
            json.dump(plan, fh)
        os.rename(record + ".tmp", record)  # the commit point
        _finish(self.target, self._token, plan)
