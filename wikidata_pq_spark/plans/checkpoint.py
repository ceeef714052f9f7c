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
    INIT = 0
    # unused since LINKED extracts and links in one write; kept because
    # state files store the int
    EXTRACTED = 1
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

    def get(self, unit: str) -> Step:
        p = self._path(unit)
        if not os.path.exists(p):
            return Step.INIT
        with open(p) as f:
            return Step(json.load(f)["step"])

    def set(self, unit: str, step: Step, **metrics) -> None:
        """Advance a unit's step; refuses to move backwards (idempotent
        re-runs are safe, lost progress is not silently possible)."""
        cur = self.get(unit)
        if step < cur:
            return
        payload = {"step": int(step), **metrics}
        tmp = self._path(unit) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._path(unit))

    def metrics(self, unit: str) -> dict:
        """Stage metrics only (the step itself comes from ``get``)."""
        p = self._path(unit)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            payload = json.load(f)
        payload.pop("step", None)
        return payload

    def incomplete(self, units: list[str]) -> list[str]:
        """Units still below COMPLETE, in deterministic order
        (reference: state.py:59-63 min-incomplete-chunk selection)."""
        return sorted(u for u in units if self.get(u) < Step.COMPLETE)

    def gate(self, unit: str, step: Step) -> bool:
        """True if this step still needs to run for the unit
        (reference: process.py:279-282 skip semantics)."""
        return self.get(unit) < step
