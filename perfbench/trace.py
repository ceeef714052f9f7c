"""Per-layer tracing for the pipeline benchmark.

Tracing is done from the benchmark's side of the package boundary: the
tracer wraps public functions of ``plans.checkpoint``,
``operators.extract``, ``operators.linking``, ``operators.canonicalize``
and ``streaming.incremental`` for the length of a traced run and restores
them afterwards. No package code is changed.

Three kinds of numbers come out of a traced run:

- spans: wall time of each layer, measured in Python. A pipeline stage's
  span runs from the ``StateStore.gate`` call that lets the stage run to
  the ``StateStore.set`` call that records it done;
- job counts taken with Spark's status tracker before and after a call
  (``*.plan_jobs``: jobs launched while a plan is built; ``cc_jobs``);
- task metrics from Spark's own event log. Every job carries the job
  group of the span it ran in, and :func:`reduce_event_log` sums the
  task metrics of each group.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# pipeline Step name (the job group) -> layer name
STEP_LAYERS = {
    "EXTRACTED": "extract",
    "LINKED": "linking",
    "CANONICALIZED": "canonicalize",
    "MATERIALIZED": "tableio.write",
    "VERIFIED": "tableio.post_check",
}
INCREMENTAL_LAYERS = ("incremental.merge", "incremental.read", "incremental.compact")
OTHER = "other"  # job group for work outside every layer span

_MB = 1024 * 1024


def _task_values(tm: dict) -> dict:
    """One SparkListenerTaskEnd's "Task Metrics" -> per-layer units."""
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / _MB,
        "shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / _MB,
        "spill_mb": tm.get("Disk Bytes Spilled", 0) / _MB,
        "input_mb": (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB,
        "output_mb": (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB,
    }


def _layer_of(group: str | None) -> str:
    if group in STEP_LAYERS:
        return STEP_LAYERS[group]
    return group if group in INCREMENTAL_LAYERS else OTHER


def _covered_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def reduce_event_log(path: str, window: tuple) -> dict:
    """Sum task metrics per layer over one time window.

    ``window`` is the (start_ms, end_ms) wall-clock span of the traced
    iteration. A job counts if its submission time falls in the window,
    and its tasks go to the job's layer (from its job group). Returns
    ``<layer>.<metric>`` sums and ``driver.gap_s``, the part of the window
    no Spark job covered.
    """
    lo, hi = window
    out: dict = defaultdict(float)
    spans: list = []
    stage_job: dict = {}
    jobs: dict = {}  # job id -> (layer, submission ms), for jobs in the window

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid, t = ev["Job ID"], ev["Submission Time"]
                if not lo <= t <= hi:
                    continue
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = _layer_of(group)
                jobs[jid] = (layer, t)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                out[f"{layer}.jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    spans.append((jobs[ev["Job ID"]][1], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                layer = jobs[jid][0]
                out[f"{layer}.tasks"] += 1
                for k, v in _task_values(ev.get("Task Metrics") or {}).items():
                    out[f"{layer}.{k}"] += v
    out["driver.gap_s"] = (hi - lo - _covered_ms(spans, lo, hi)) / 1e3
    return dict(out)


class NullTracer:
    """Tracing off: the untraced runs pass this, so spans cost nothing."""

    @contextlib.contextmanager
    def span(self, layer: str):
        yield

    @contextlib.contextmanager
    def iteration(self):
        yield {}


class Tracer:
    """Wraps the package's public layer functions for one traced session.

    Use as a context manager around the traced iteration, which runs
    inside :meth:`iteration`; that collects its spans and counters into
    :attr:`record`.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.record: tuple | None = None  # (start_ms, end_ms, counters)
        self._cur: dict = defaultdict(float)
        self._group = OTHER
        self._open: dict = {}  # (unit, step) -> span start
        self._patches: list = []
        self.self_s = 0.0  # time spent in the tracer's own calls into Spark

    # -- job groups and job counts -------------------------------------
    def _set_group(self, group: str, description: str = "") -> None:
        t0 = time.perf_counter()
        self._group = group
        self.sc.setJobGroup(group, description or group)
        self.self_s += time.perf_counter() - t0

    def _jobs_in_group(self) -> int:
        t0 = time.perf_counter()
        # the status store is fed by the asynchronous listener bus: drain
        # it so jobs that already finished are counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = len(self.sc.statusTracker().getJobIdsForGroup(self._group))
        self.self_s += time.perf_counter() - t0
        return n

    @contextlib.contextmanager
    def span(self, layer: str):
        prev, t0 = self._group, time.perf_counter()
        self._set_group(layer)
        try:
            yield
        finally:
            self._cur[f"{layer}.wall_s"] += time.perf_counter() - t0
            self._set_group(prev)

    @contextlib.contextmanager
    def iteration(self):
        self._cur, self._open = defaultdict(float), {}
        self._set_group(OTHER)
        t0 = time.time()
        try:
            yield self._cur
        finally:
            self._open.clear()  # a stage that raised never reached set()
            self._set_group(OTHER)
            self.record = (t0 * 1e3, time.time() * 1e3, self._cur)

    # -- wrappers --------------------------------------------------------
    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _counted(self, prefix: str, orig, time_it: bool = False):
        def wrapper(*args, **kwargs):
            before, t0 = self._jobs_in_group(), time.perf_counter()
            out = orig(*args, **kwargs)
            if time_it:
                self._cur[f"{prefix}_s"] += time.perf_counter() - t0
            self._cur[f"{prefix}_jobs"] += self._jobs_in_group() - before
            return out

        return wrapper

    def _spanned(self, layer: str, orig):
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return orig(*args, **kwargs)

        return wrapper

    def __enter__(self):
        from wikidata_pq_spark.operators import canonicalize, extract, linking
        from wikidata_pq_spark.plans.checkpoint import StateStore
        from wikidata_pq_spark.streaming import incremental

        def gate(orig):
            def wrapper(store, unit, step):
                todo = orig(store, unit, step)
                if todo and step.name in STEP_LAYERS:
                    self._open[(unit, step)] = time.perf_counter()
                    self._set_group(step.name, STEP_LAYERS[step.name])
                return todo

            return wrapper

        def set_(orig):
            def wrapper(store, unit, step, **metrics):
                orig(store, unit, step, **metrics)
                t0 = self._open.pop((unit, step), None)
                if t0 is not None:
                    layer = STEP_LAYERS[step.name]
                    self._cur[f"{layer}.wall_s"] += time.perf_counter() - t0
                    self._set_group(OTHER)

            return wrapper

        self._patch(StateStore, "gate", gate)
        self._patch(StateStore, "set", set_)
        self._patch(extract, "extract_mentions",
                    lambda f: self._counted("extract.plan", f))
        self._patch(linking, "link_mentions",
                    lambda f: self._counted("linking.plan", f))
        self._patch(canonicalize, "apply_canonical",
                    lambda f: self._counted("canonicalize.plan", f))
        self._patch(canonicalize, "connected_components",
                    lambda f: self._counted("canonicalize.cc", f, time_it=True))
        for name, layer in (
            ("merge_triple_support", "incremental.merge"),
            ("merge_current_beliefs", "incremental.merge"),
            ("compact_triple_support", "incremental.compact"),
            ("compact_current_beliefs", "incremental.compact"),
        ):
            self._patch(incremental, name, lambda f, L=layer: self._spanned(L, f))
        return self

    def __exit__(self, *exc):
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()
        return False
