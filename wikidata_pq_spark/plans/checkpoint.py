"""Per-stage checkpoint state machine (resume gates).

Mirrors the reference's file-granular JSONL state machine (reference:
state.py:11-18 Step IntEnum INIT(0)..COMPLETE(6); state.py:30-35 one
single-row JSONL per unit; process.py:279-282 skip-if-done gates) with
our stage names. State lives in a JSON file per partition unit in a
state directory -- tiny driver-side metadata, exactly like the
reference's choice of NDJSON over a database.

At cluster scale the state dir sits on the shared filesystem / object
store; a Delta/Iceberg MERGE-based checkpoint table is the drop-in
upgrade (same API surface).
"""

from __future__ import annotations

import json
import os
from enum import IntEnum


class Step(IntEnum):
    # state files store the int, so the values stay fixed
    INIT = 0
    LINKED = 2
    CANONICALIZED = 3
    MATERIALIZED = 4
    VERIFIED = 5
    COMPLETE = 6


class StateStore:
    """JSON-file-per-unit step store with idempotent gates."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, unit: str) -> str:
        return os.path.join(self.state_dir, f"{unit}.json")

    def _record(self, unit: str) -> dict:
        p = self._path(unit)
        if not os.path.exists(p):
            return {"step": int(Step.INIT)}
        with open(p) as f:
            return json.load(f)

    def get(self, unit: str) -> Step:
        return Step(self._record(unit)["step"])

    def set(self, unit: str, step: Step, **metrics) -> None:
        """Advance a unit's step and merge ``metrics`` into its record,
        so what an earlier stage recorded survives the later ones.
        Refuses to move backwards (idempotent re-runs are safe, lost
        progress is not silently possible)."""
        record = self._record(unit)
        if step < record["step"]:
            return
        record.update(metrics, step=int(step))
        tmp = self._path(unit) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self._path(unit))

    def metrics(self, unit: str) -> dict:
        """Stage metrics only (the step itself comes from ``get``)."""
        record = self._record(unit)
        record.pop("step")
        return record

    def gate(self, unit: str, step: Step) -> bool:
        """True if this step still needs to run for the unit
        (reference: process.py:279-282 skip semantics)."""
        return self.get(unit) < step
