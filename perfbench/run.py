"""Pipeline benchmark for wikidata_pq_spark.

Run from the repository root:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 30 --trace 0

One run is one fresh Spark session, as one batch job would be: set-up,
then one cold iteration of the workload. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics declared in BENCHMARK.json,
``--trace 1`` the per-layer ones; a metric the run could not measure
(its iteration failed) is null. The line before it (``context {...}``)
records the run's host facts, canary and phase times. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = os.path.join(ROOT, "wikidata_pq_spark")

WORKLOADS = ("kg_batch", "kg_incremental")
SETUPS = 3  # input generation is repeated; setup_s uses the median
CANARY_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="required; a run is always one cold iteration, whatever its value")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    if not os.path.isdir(PACKAGE):
        sys.exit(f"perfbench: no wikidata_pq_spark package under {ROOT}")
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM that spark-submit runs to build the driver's
    # command line: no hsperfdata file in the system temp dir either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, ROOT)


def start_session(event_log_dir: str | None = None):
    """A session with the package's defaults; only file locations and
    console output are set here, and the event log for a traced run."""
    from wikidata_pq_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        # one plain JSON-lines file, which the reducer reads directly
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return py + jvm


def canary(spark, path: str) -> list:
    """A fixed scan-aggregate over the transcripts: a host-speed probe."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(CANARY_REPS):
        t0 = time.perf_counter()
        spark.read.parquet(path).groupBy("role").agg(
            F.count(F.lit(1)), F.sum(F.length("text")), F.max("turn_idx")
        ).collect()
        times.append(time.perf_counter() - t0)
    return times


def host_facts(spark) -> dict:
    import pyspark

    sha = "unknown"  # a checkout without .git
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or sha
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "git_sha": sha,
        "pyspark": pyspark.__version__,
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
    }


def steal_s() -> float:
    """Host-wide CPU seconds the hypervisor has stolen so far: they
    explain the spread of wall times, which CPU times do not share."""
    with open("/proc/stat") as fh:
        steal = fh.readline().split()[8]  # cpu user nice system idle iowait irq softirq steal
    return int(steal) / os.sysconf("SC_CLK_TCK")


class HostProbe:
    """Host-speed probe, run beside the benchmark.

    A daemon thread runs a fixed unit of pure-Python work every PERIOD_S
    seconds and records the thread CPU seconds it took. On a shared
    virtual host the CPU seconds a fixed piece of work costs change with
    the load of other tenants: on the 4-core host this was built on, one
    kg_batch iteration took 30 CPU seconds in a quiet spell and 50-60 in
    a busy one. Each phase's CPU seconds are divided by the probe's
    slowdown over the same window, giving CPU seconds at the probe's
    reference speed. Within a busy spell this narrowed the spread
    between runs; whether the probe follows a quiet/busy change is
    unverified (see perfbench/README.md).
    """

    PERIOD_S = 0.1
    REF_UNIT_S = 1.5e-3  # the unit's thread CPU seconds on an idle host

    def __init__(self):
        self.samples: list = []  # (perf_counter at end, unit CPU seconds)
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _unit() -> int:
        x = 0
        for i in range(20_000):
            x += i & 7
        return x

    def _run(self) -> None:
        while not self._done.wait(self.PERIOD_S):
            c0 = time.thread_time()
            self._unit()
            self.samples.append((time.perf_counter(), time.thread_time() - c0))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self._thread.join()
        return False

    def slowdown(self, t0: float, t1: float) -> float:
        """Mean unit cost over [t0, t1] relative to REF_UNIT_S; a window
        with no sample takes the latest sample before its end."""
        costs = [c for t, c in self.samples if t0 <= t <= t1]
        if not costs:
            costs = [c for t, c in self.samples if t <= t1][-1:] or [self.REF_UNIT_S]
        return statistics.fmean(costs) / self.REF_UNIT_S

    def calibrate(self, cpu_s: float, t0: float, t1: float) -> float:
        """``cpu_s`` spent over [t0, t1], at the reference speed."""
        return cpu_s / self.slowdown(t0, t1)


def run_once(spark, wl, tracer, probe: HostProbe) -> dict:
    """Run one iteration of the workload into a fresh output dir, check
    it, and remove the dir. CPU seconds are calibrated phase by phase."""
    from perfbench.workloads import dir_mb

    out = os.path.join(WORK, "out")
    t0, steal0 = time.perf_counter(), steal_s()
    try:
        with tracer.iteration() as cur:
            r = wl.iterate(spark, out, tracer)
        cur.update(r["counters"])
        r["ok"] = wl.check(r)
        r["store_mb"] = dir_mb(out)
        r["phases_cal"] = {
            p: probe.calibrate(cpu, *r["windows"][p]) for p, cpu in r["phases_cpu"].items()
        }
        r["cal_cpu_s"] = sum(r["phases_cal"].values())
        r["slowdown"] = r["cpu_s"] / r["cal_cpu_s"]
    except Exception:  # a failed iteration is counted, not fatal
        traceback.print_exc()
        r = {"ok": False}
    r["steal_s"] = steal_s() - steal0
    shutil.rmtree(out, ignore_errors=True)
    r["wall_s"] = time.perf_counter() - t0
    return r


def end_to_end(setup: dict, r: dict) -> dict:
    """Calibrated CPU seconds of set-up and of the cold iteration of the
    fresh session, as a batch job runs it. Wall times are in the context
    line and the per-layer metrics."""
    if not r["ok"]:
        return {"setup_s": setup["cal_cpu_s"]}
    return {
        "setup_s": setup["cal_cpu_s"],
        "first_run_cpu_s": r["cal_cpu_s"],
        "triples_per_cpu_s": r["triples"] / r["cal_cpu_s"],
        "store_mb": r["store_mb"],
    }


def per_layer(tracer, r: dict, event_log_dir: str, names: list) -> dict:
    """The layer metrics of the traced iteration; a layer the workload
    does not run reports 0. A failed iteration reports none."""
    from perfbench import trace

    if not r["ok"]:
        return {}
    (log,) = os.listdir(event_log_dir)
    t0, t1, cur = tracer.record
    row = trace.reduce_event_log(os.path.join(event_log_dir, log), (t0, t1))
    row.update(cur)
    row.update({
        "run.wall_s": r["run_s"],
        "run.cpu_s": r["cal_cpu_s"],
        "run.raw_cpu_s": r["cpu_s"],
        "run.host_slowdown": r["slowdown"],
        "run.triples_per_s": r["triples"] / r["run_s"],
        "run.steal_s": r["steal_s"],
    })
    for phase, wall in r["phases"].items():
        name = phase.removesuffix("_s")
        row[f"phase.{name}.wall_s"] = wall
        row[f"phase.{name}.cpu_s"] = r["phases_cal"][phase]
    if "pipeline_s" in r:
        stages = sum(row.get(f"{L}.wall_s", 0.0) for L in trace.STEP_LAYERS.values())
        row["pipeline.stage_coverage"] = stages / r["pipeline_s"]
    return {k: row.get(k, 0.0) for k in names}


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment()
    from perfbench import trace, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    section = declared["per_layer" if args.trace else "end_to_end"]

    try:
        workloads.check_size()
    except ValueError as e:  # a size datagen cannot make
        sys.exit(f"perfbench: {e}")
    cls = {c.name: c for c in (workloads.KGBatch, workloads.KGIncremental)}
    wl = cls[args.workload]()

    log_dir = os.path.join(WORK, "eventlog") if args.trace else None
    with HostProbe() as probe:
        t0, cpu0 = time.perf_counter(), workloads.tree_cpu_s()
        spark = start_session(log_dir)
        t1 = time.perf_counter()
        session = (t1 - t0, probe.calibrate(workloads.tree_cpu_s() - cpu0, t0, t1))
        try:
            gen = []  # (wall, calibrated CPU) seconds; generation runs in this process only
            for k in range(SETUPS):
                in_dir = os.path.join(WORK, f"inputs{k}")
                os.makedirs(in_dir)
                t0, cpu0 = time.perf_counter(), time.process_time()
                wl.generate(args.seed, in_dir)
                t1 = time.perf_counter()
                gen.append((t1 - t0, probe.calibrate(time.process_time() - cpu0, t0, t1)))
            setup = {
                "session_s": session[0], "session_cal_cpu_s": session[1],
                "generate_s": gen,
                "wall_s": session[0] + statistics.median(g[0] for g in gen),
                "cal_cpu_s": session[1] + statistics.median(g[1] for g in gen),
                "slowdown": probe.slowdown(0.0, time.perf_counter()),
            }
            wl.reference(spark, in_dir)
            wl.open(spark, in_dir)
            context = {
                "workload": args.workload, "seed": args.seed, "params": wl.params(),
                "host": host_facts(spark),
                "canary_s": canary(spark, wl.transcripts_path(in_dir)),
                "setup": setup,
            }
            if args.trace:
                with trace.Tracer(spark) as tracer:
                    r = run_once(spark, wl, tracer, probe)
                rss_mb = peak_rss_mb(spark)
                spark.stop()  # closes the event log
                metrics = per_layer(tracer, r, log_dir, [m["name"] for m in section])
                if r["ok"]:
                    metrics["trace.overhead_s"] = tracer.self_s
                    metrics["driver.peak_rss_mb"] = rss_mb
                metrics["setup.wall_s"] = setup["wall_s"]
            else:
                r = run_once(spark, wl, trace.NullTracer(), probe)
                metrics = end_to_end(setup, r)
                context["peak_rss_mb"] = peak_rss_mb(spark)
        finally:
            shutdown(spark)

    context["iteration"] = {
        k: r.get(k) for k in ("ok", "wall_s", "run_s", "cpu_s", "cal_cpu_s",
                              "slowdown", "steal_s", "phases", "phases_cpu",
                              "phases_cal", "triples", "store_mb")
    }
    failed = int(not r["ok"])
    print("context " + json.dumps(context), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": 1,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"]), "unit": m["unit"]}
            for m in section
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
