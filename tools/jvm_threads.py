"""Driver-JVM CPU by thread group over session start and one cold perfbench iteration.

    python3 tools/jvm_threads.py --workload kg_incremental --seed 5
    python3 tools/jvm_threads.py --workload kg_batch --seed 5 --root <other checkout>

Runs ``perfbench/run.py --trace 0`` of the checkout at ``--root``
(default: this one) in this process, unchanged. It reads the driver
JVM's CPU by thread once its session has started (``start_session``),
and watches the one cold iteration (``run_once``) from outside it:
every ``PERIOD``
(0.2) seconds it reads ``/proc/<jvm pid>/task/*/stat`` and keeps each
thread's latest user + system CPU, and for the same window it logs the
JVM's GC events (``jcmd <pid> VM.log what=gc``). After perfbench's own
output it prints a table and one JSON line, ``jvm_threads {...}``:

- ``groups``: CPU seconds per thread group (C2 and C1 compilers,
  executor task threads, the py4j gateway's ``Thread-N``, G1 threads);
  ``rest`` is the JVM's process CPU less the named groups, so it also
  holds threads that ran and exited between two samples;
- ``session_groups``: the same, from the JVM's launch to the return of
  perfbench's ``start_session``, read once then (the session start
  that ``setup_s`` counts, less the launcher JVM, Python and the input
  generation); threads that exited by then are in ``rest``;
- ``gc``: the iteration's GC pauses counted by kind and cause, such as
  ``Pause Young (Concurrent Start) (G1 Humongous Allocation)``;
- ``jvm_args``: the JVM's ``-X`` input arguments, and ``page_bytes``,
  its Tungsten page size;
- ``archive``: the class-data archive the JVM mapped on top of the
  JDK's default one (``file``, null if none, and ``archived``, the
  classes it holds, from ``jcmd <pid> VM.systemdictionary``), and the
  classes the JVM had loaded by the iteration's end, in all and from
  the shared archives, the JDK's default one included (``loaded``,
  ``shared``, from ``jcmd <pid> VM.metaspace``). Both work with
  perfbench's ``-XX:-UsePerfData``;
- ``codegen``: the iteration's Janino compiles and their summed
  milliseconds, from Spark's ``CodegenMetrics`` compilation-time
  histogram (driver and local-mode tasks share one JVM, so it counts
  both). The sum is taken over the histogram's samples: exact while
  the JVM has compiled fewer than 1,028 classes, its reservoir size;
- ``py4j_calls``: the commands the driver's Python process sent the
  JVM over py4j during the iteration, and ``python_cpu_s``, that
  process's own CPU (the sampling thread's included).

The sampling thread and the GC log cost a little CPU of their own, so
compare runs of this tool with each other, not with perfbench's numbers.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (group, thread-name prefixes); /proc truncates a name to 15 characters
GROUPS = (
    ("C2 compiler", ("C2 CompilerThre",)),
    ("C1 compiler", ("C1 CompilerThre",)),
    ("executor tasks", ("Executor task l",)),
    ("py4j", ("Thread-",)),
    ("G1", ("GC Thread", "G1 ")),
)
TICK = os.sysconf("SC_CLK_TCK")
PERIOD = 0.2  # sampling period, s


def _stat(path: str) -> tuple[str, int] | None:
    """(name, user + system ticks) of one /proc stat file, or None if
    the thread or process has exited."""
    try:
        with open(path) as fh:
            data = fh.read()
    except OSError:
        return None
    head, tail = data.rsplit(")", 1)
    fields = tail.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def group_of(name: str) -> str:
    for group, prefixes in GROUPS:
        if name.startswith(prefixes):
            return group
    return "rest"


class ThreadSampler:
    """Every ``PERIOD`` seconds, the latest CPU ticks of each thread of
    process ``pid``; ``report`` gives the CPU seconds since ``start``."""

    def __init__(self, pid: int):
        self.pid = pid
        self.base: dict = {}
        self.last: dict = {}  # tid -> (name, ticks)
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> dict:
        task = f"/proc/{self.pid}/task"
        out = {}
        for tid in os.listdir(task):
            st = _stat(f"{task}/{tid}/stat")
            if st is not None:
                out[tid] = st
        return out

    def _process_ticks(self) -> int:
        return _stat(f"/proc/{self.pid}/stat")[1]

    def _run(self) -> None:
        while not self._done.wait(PERIOD):
            self.last.update(self._sample())

    def start(self) -> None:
        self.base = {tid: ticks for tid, (_, ticks) in self._sample().items()}
        self.last = {}
        self.process0 = self._process_ticks()
        self._thread.start()

    def stop(self) -> None:
        self._done.set()
        self._thread.join()
        self.last.update(self._sample())
        self.process1 = self._process_ticks()

    def since_launch(self) -> dict:
        """``report`` from the process's start until now, with no
        sampling thread: threads that ran and exited are in ``rest``."""
        self.base, self.process0 = {}, 0
        self.last = self._sample()
        self.process1 = self._process_ticks()
        return self.report()

    def report(self) -> dict:
        groups = collections.Counter({g: 0 for g, _ in GROUPS})
        for tid, (name, ticks) in self.last.items():
            group = group_of(name)
            if group != "rest":
                groups[group] += ticks - self.base.get(tid, 0)
        total = self.process1 - self.process0
        groups["rest"] = total - sum(groups.values())
        groups["JVM total"] = total
        return {g: round(t / TICK, 2) for g, t in groups.items()}


def log_gc(pid: int, path: str) -> None:
    """From now on, JVM ``pid`` logs its GC events to ``path``."""
    subprocess.run(["jcmd", str(pid), "VM.log", f"output={path}", "what=gc"],
                   check=True, capture_output=True, timeout=60)


def jcmd(pid: int, *command: str) -> str:
    return subprocess.run(["jcmd", str(pid), *command], check=True,
                          capture_output=True, text=True, timeout=60).stdout


CLASSES = re.compile(r"(\d+) classes \((\d+) shared\)")
DYNAMIC = re.compile(r"Dynamic Builtin Shared Dictionary statistics:\n.*\n"
                     r"Number of entries\s*:\s*(\d+)")


def archive_report(pid: int, jvm_args: list) -> dict:
    """The archive JVM ``pid`` mapped beyond the JDK's default one, and
    the classes it has loaded in all and from the shared archives."""
    loaded, shared = map(int, CLASSES.search(jcmd(pid, "VM.metaspace")).groups())
    dynamic = DYNAMIC.search(jcmd(pid, "VM.systemdictionary"))
    flag = "-XX:SharedArchiveFile="
    files = [a[len(flag):] for a in jvm_args if a.startswith(flag)]
    return {
        "file": files[-1] if dynamic and files else None,
        "archived": int(dynamic[1]) if dynamic else 0,
        "loaded": loaded,
        "shared": shared,
    }


GC_PAUSE = re.compile(r"\[gc\s*\] GC\(\d+\) (Pause .*?) \d+[KMG]->")


def gc_counts(log_path: str) -> dict:
    """GC pauses in a ``what=gc`` log, counted by kind and cause."""
    with open(log_path) as fh:
        return dict(collections.Counter(m[1] for m in map(GC_PAUSE.search, fh) if m))


def codegen_totals(jvm) -> tuple[int, int]:
    """(compiles, summed ms) of the JVM's Janino compiles so far."""
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return hist.getCount(), jvm.java.util.Arrays.stream(hist.getSnapshot().getValues()).sum()


class Py4jCounter:
    """Counts the commands sent over ``client`` (py4j's gateway client)
    while installed."""

    def __init__(self, client):
        self.client, self.calls = client, 0

    def __enter__(self):
        send = self.client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # the class's method again


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("kg_batch", "kg_incremental"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--root", default=HERE, help="checkout whose perfbench to run")
    args = p.parse_args(argv)

    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    from perfbench import run

    found = {}
    start_session, run_once = run.start_session, run.run_once

    def watched_start_session(*args, **kwargs):
        spark = start_session(*args, **kwargs)
        found["session_groups"] = ThreadSampler(spark.sparkContext._gateway.proc.pid).since_launch()
        return spark

    log_dir = tempfile.TemporaryDirectory(prefix="jvm_threads_")
    log_path = os.path.join(log_dir.name, "gc.log")

    def watched_run_once(spark, wl, tracer, probe):
        jvm = spark._jvm
        found["jvm_args"] = [
            a for a in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            .getInputArguments() if a.startswith("-X")
        ]
        found["page_bytes"] = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
        pid = spark.sparkContext._gateway.proc.pid
        sampler = ThreadSampler(pid)
        log_gc(pid, log_path)
        compiles, ms = codegen_totals(jvm)
        sampler.start()
        python_cpu = time.process_time()
        try:
            with Py4jCounter(spark.sparkContext._gateway._gateway_client) as py4j:
                return run_once(spark, wl, tracer, probe)
        finally:
            found["python_cpu_s"] = round(time.process_time() - python_cpu, 2)
            sampler.stop()
            found["py4j_calls"] = py4j.calls
            after = codegen_totals(jvm)
            found["codegen"] = {"compiles": after[0] - compiles, "ms": after[1] - ms}
            found["groups"] = sampler.report()
            found["gc"] = gc_counts(log_path)
            found["archive"] = archive_report(pid, found["jvm_args"])

    run.start_session, run.run_once = watched_start_session, watched_run_once
    with log_dir:
        run.main(["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", "30", "--trace", "0"])
    found.update(workload=args.workload, seed=args.seed, root=root)
    print(f"{'':>16} {'session':>9} {'iteration':>9}")
    for group, cpu in found["groups"].items():
        print(f"{group:>16} {found['session_groups'][group]:7.2f} s {cpu:7.2f} s")
    codegen = found["codegen"]
    print(f"{'janino':>16} {codegen['compiles']} compiles, {codegen['ms']} ms")
    print(f"{'py4j':>16} {found['py4j_calls']} calls, "
          f"{found['python_cpu_s']:.2f} s Python CPU")
    for pause, n in sorted(found["gc"].items()):
        print(f"{n:>16} x {pause}")
    archive = found["archive"]
    print(f"{'archive':>16} {archive['file'] or 'none'} ({archive['archived']} classes)")
    print(f"{'classes':>16} {archive['shared']} of {archive['loaded']} loaded from shared archives")
    print("jvm_threads " + json.dumps(found))
    return 0


if __name__ == "__main__":
    sys.exit(main())
