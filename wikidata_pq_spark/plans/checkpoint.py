"""The commit log, and the per-stage state machine (resume gates) on it.

A commit log is a directory of full snapshots, ``<version:020d>.json``
(the Delta Lake protocol, Armbrust et al., VLDB 2020). ``commit``
fsyncs a snapshot to a temp file and installs it with os.link, which
fails if the version exists: of two writers that read version V,
exactly one creates V+1 and the other gets FileExistsError, and no
reader sees a half-written version. The epoch stores
(``streaming/incremental.py``) and ``StateStore`` both commit this way.

``StateStore`` is the reference's step state machine (reference:
state.py:11-18 Step INIT(0)..COMPLETE(6), state.py:30-35 one record per
unit, process.py:279-282 skip-if-done gates), each unit's record in its
own log, ``<log_dir>/<unit>/<version:020d>.json``: a version holds one
unit's record only, as a Delta commit holds only what it changed.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
from enum import IntEnum

_VERSION_FILE = re.compile(r"^(\d{20})\.json$")


def head(log_dir: str) -> tuple[int, dict]:
    """The newest committed version under ``log_dir`` and its snapshot;
    (-1, {}) if no version was committed."""
    names = os.listdir(log_dir) if os.path.isdir(log_dir) else []
    versions = [int(m.group(1)) for m in map(_VERSION_FILE.match, names) if m]
    if not versions:
        return -1, {}
    version = max(versions)
    with open(os.path.join(log_dir, f"{version:020d}.json")) as fh:
        return version, json.load(fh)


def read(log_dir: str, version: int) -> dict | None:
    """The snapshot committed as ``version`` under ``log_dir``; None if
    that version was never committed."""
    try:
        with open(os.path.join(log_dir, f"{version:020d}.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def commit(log_dir: str, version: int, snapshot: dict) -> None:
    """Install ``snapshot`` as ``version``; raises FileExistsError if
    another writer committed that version first."""
    os.makedirs(log_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=".", suffix=".tmp", dir=log_dir)
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(snapshot, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, os.path.join(log_dir, f"{version:020d}.json"))
    finally:
        os.remove(tmp)


class Step(IntEnum):
    # records store the int, so the values stay fixed
    INIT = 0
    LINKED = 2
    CANONICALIZED = 3
    MATERIALIZED = 4
    VERIFIED = 5
    COMPLETE = 6


class StateStore:
    """One commit log per unit under ``log_dir``, with idempotent gates."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def _head(self, unit: str) -> tuple[int, dict]:
        version, record = head(os.path.join(self.log_dir, unit))
        return version, record or {"step": int(Step.INIT)}

    def get(self, unit: str) -> Step:
        return Step(self._head(unit)[1]["step"])

    def set(self, unit: str, step: Step, **metrics) -> None:
        """Advance a unit's step and merge ``metrics`` into its record,
        so what an earlier stage recorded survives the later ones. Never
        moves backwards: a stage that runs again after a later one (a
        corpus stage of a growth run) merges its metrics and keeps the
        later step. A record still at INIT is a plan (a ``KGPipeline``
        chunk's version 0, read with ``read(<log_dir>/<unit>, 0)``), and
        is not carried into the versions after it. Commits nothing if the
        record is unchanged; a race lost to a writer of the same unit
        re-reads and retries."""
        while True:
            version, old = self._head(unit)
            base = old if old["step"] > Step.INIT else {}
            record = {**base, **metrics, "step": max(int(step), old["step"])}
            if record == old:
                return
            try:
                commit(os.path.join(self.log_dir, unit), version + 1, record)
                return
            except FileExistsError:
                continue

    def metrics(self, unit: str) -> dict:
        """Stage metrics only (the step itself comes from ``get``)."""
        return {k: v for k, v in self._head(unit)[1].items() if k != "step"}

    def gate(self, unit: str, step: Step) -> bool:
        """True if this step still needs to run for the unit
        (reference: process.py:279-282 skip semantics)."""
        return self.get(unit) < step
