"""Per-cell isolation bench (guide §1.4): times each bench query with
BOTH the frozen methodology (.count()) and the noop sink (computes every
column, discards output), labeled via setJobDescription. Separate from
the frozen bench.py on purpose -- this file is the builder's measuring
instrument, bench.py is the driver's.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [reps] [query ...]

Each cell first runs one untimed warm-up rep, so the timed reps do not
carry the JVM's JIT warm-up; min and median are both reported. The
canary repeats untimed warm-up reps until two consecutive reps agree
within 10 % (at most CANARY_MAX_WARMUP), and reports how many it ran
as ``canary_warmup_reps``.

Prints one JSON line: {"cells": {name: {"count_sec": [..], "noop_sec": [..]}}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from wikidata_pq_spark import contracts  # noqa: E402
from wikidata_pq_spark.session import get_spark  # noqa: E402

from bench import BENCH_QUERIES  # noqa: E402

# One warm-up rep left the canary falling from 0.55 to 0.32 s over the
# timed reps (sf0.1, 4 cores); the cap bounds a host that never settles.
CANARY_MAX_WARMUP = 8


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    names = sys.argv[2:] or list(BENCH_QUERIES)

    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).count()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # drift CANARY (r8, VERDICT item 1, homed here because bench.py is
    # frozen for driver measurement): a pure scan-aggregate over
    # lineitem whose code never changes. Its wall time calibrates the
    # host window; per-cell times are also reported normalized to it
    # so cross-window comparisons separate host drift from real
    # regressions.
    def canary_once() -> float:
        from pyspark.sql import functions as F

        t0 = time.time()
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag")
            .agg(
                F.sum("l_quantity"), F.avg("l_extendedprice"),
                F.count(F.lit(1)),
            )
            .count()
        )
        return round(time.time() - t0, 3)

    warmup = [canary_once(), canary_once()]  # untimed
    while (
        abs(warmup[-1] - warmup[-2]) > 0.1 * warmup[-2]
        and len(warmup) < CANARY_MAX_WARMUP
    ):
        warmup.append(canary_once())
    canary = [canary_once() for _ in range(max(reps, 3))]
    canary_sec = min(canary)
    canary_median = statistics.median(canary)

    cells: dict = {}
    for name in names:
        fn = contracts.QUERIES[name]
        counts, noops = [], []
        for _ in range(reps + 1):  # the first rep is the untimed warm-up
            spark.sparkContext.setJobDescription(f"{name}: count")
            t0 = time.time()
            fn(spark, sf_dir).count()
            counts.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name}: noop")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noops.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        counts, noops = counts[1:], noops[1:]  # drop the warm-up
        cells[name] = {
            "count_sec": counts,
            "noop_sec": noops,
            "count_min_norm": round(min(counts) / canary_sec, 2),
            "count_median_norm": round(
                statistics.median(counts) / canary_median, 2
            ),
        }
        print(f"# {name}: count={counts} noop={noops}", file=sys.stderr)
    spark.stop()
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "cpus": cpus,
                "canary_sec": canary_sec,
                "canary_median_sec": round(canary_median, 3),
                "canary_reps": canary,
                "canary_warmup_reps": len(warmup),
                "cells": cells,
            }
        )
    )


if __name__ == "__main__":
    main()
