"""SparkSession factory with scale-aware defaults.

Configs chosen for the 100 TB target (AQE, skew-join splitting, Arrow
batching caps) while remaining correct on local[N]. The reference's
bounded-memory streaming discipline (reference: transforms.py:39-41,
core.py:58 -- lazy sinks, never collect) maps here to: AQE + spill-aware
shuffle partition sizing + capped Arrow record batches for pandas UDFs.

``SQL_DEFAULTS`` holds the runtime SQL settings the package's results
and code paths assume: UTC timestamps, the Arrow conversions, the
JVM's case mapping for ``lower``/``upper``, and the Parquet format of
every sink (zstd, INT64 microsecond timestamps). ``get_spark`` builds with
them, and the ``jobs/`` entry points apply the same mapping to the
session spark-submit gives them.

``get_spark`` also sizes the driver JVM it launches for ``local[N]``:
the heap (``spark.driver.memory``), two JIT compiler threads
(``JIT_JAVA_OPTIONS``) and Tungsten pages sized to that heap
(``_default_page_size``). The ``jobs/`` entry points cannot apply the
last two: the thread cap is a launch option of the JVM that
spark-submit started before the script runs, and the page size must
follow the heap spark-submit gave it. Pass both on the spark-submit
command line, with the page size that ``_default_page_size`` gives for
the ``--driver-memory`` (4194288 at 7g):

    spark-submit --master local[4] --driver-memory 7g \\
        --conf spark.driver.defaultJavaOptions=-XX:CICompilerCount=2 \\
        --conf spark.buffer.pageSize=4194288 ...
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


# Runtime SQL settings that every session of the package runs with.
SQL_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Case-map with the JVM, not ICU (Spark 4's default). Under ICU the
    # session's first lower() -- extract_mentions_sql's F.lower(text) --
    # loads CollationAwareUTF8String, whose static initializer builds a
    # title-case lookup table that only initcap needs: 2.9-3.8 CPU s and
    # 1.4-1.9 s wall in a fresh session (4-core host), about 30 % of
    # the CPU of a cold KGPipeline.run's LINKED stage. Safe: on ASCII rows both
    # settings run the same isFullAscii -> toLowerCaseAscii loop, so warm
    # speed and every ASCII result are the same. Neither setting equals
    # Python's str.lower on every code point (tests/test_extract_spark.py).
    "spark.sql.icu.caseMappings.enabled": "false",
    # Every package sink is Parquet; compress it with zstd, as the
    # reference's Polars sinks do, not snappy. With the INT64 timestamps
    # below, a kg_batch store's single edges file fell from 107 to 66 KB
    # (store median 0.118 -> 0.074 MB over 10 seeds), and warm write
    # and read CPU did not rise.
    "spark.sql.parquet.compression.codec": "zstd",
    # INT64 microseconds (UTC-adjusted) instead of legacy INT96: as
    # INT96 the edges ts column was 59 of those 107 KB (31 KB now), and
    # INT96 carries no min/max statistics, so a ts filter cannot skip
    # row groups. Reads need neither setting: Spark decodes each file by
    # the codec and types its footer records, so stores written before
    # (snappy, INT96) still read, resume, merge and compact.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def _default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 24g: the driver JVM
    shares the host with the Python workers, and a heap sized past
    physical memory lets the JVM grow until the host OOM-kills it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram // 2 // 2**30))}g"


# spark.driver.memory's units; a bare number is MiB
_MEMORY_UNITS = {"": 2**20, "b": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _default_page_size(driver_memory: str) -> int:
    """``spark.buffer.pageSize`` in bytes for a driver heap of
    ``driver_memory``: the next power of two of heap/2048, within
    Spark's own [1 MB, 64 MB], less the 16-byte header of the
    ``long[]`` that holds it (4 MB - 16 B at 7g).

    Spark's default page is 64 MB on a 7g, 4-core host (its execution
    pool / cores / 16, rounded up), and a page is zeroed when it is
    allocated. G1 sizes its regions from the heap the same way (4 MB at
    7g): a page is still a humongous object, but it fills one region,
    not 16. A cold kg_incremental iteration started 2 and 8 G1
    concurrent cycles on "G1 Humongous Allocation" at two seeds, not 17
    and 26 (tools/jvm_threads.py, 4-core host). Spark takes the header
    off its default page for the same reason.

    A task may fill the whole execution pool, (heap - 300 MB) x 0.6,
    and Spark's page table holds 8192 pages per task: pages of heap/2048
    need at most 0.6 x 2048 of them, and above the 64 MB clamp (heaps
    over 128g) Spark's default page would be 64 MB too."""
    m = re.fullmatch(r"(\d+)([bkmgt])?b?", driver_memory.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark memory size: {driver_memory!r}")
    heap = int(m[1]) * _MEMORY_UNITS[m[2] or ""]
    page = 1 << max(0, heap // 2048 - 1).bit_length()
    return min(64 * 2**20, max(2**20, page)) - 16


# The driver JVM's JIT compiler threads: 1 C1 + 1 C2, not the JVM's
# ergonomic 1 + 2 on 4 CPUs, which compete with local[N]'s N task
# threads for the same N cores (measured at N = 4 only; on a larger
# host the JVM would start more compiler threads, and the cap's cost
# to warm-up there is unmeasured). Without the cap the C1 and C2 threads
# took 18.1 of the driver JVM's 28.8 CPU s in a cold kg_incremental
# iteration and 12.5 of 20.0 s in a cold kg_batch one; with it, 8.9 of
# 16.4 s and 7.4 of 13.4 s (tools/jvm_threads.py, 4-core host). Unlike
# the rejected TieredStopAtLevel and CompileThresholdScaling flags
# (ARCHITECTURE.md), it keeps the compile thresholds and tiers: the
# same code is compiled at the same tiers, by fewer threads. 2 is the
# floor under tiered compilation and the JVM's own count at 2 or fewer
# CPUs, so the flag never adds a thread. It sits in
# defaultJavaOptions: a caller's extraJavaOptions is appended after it
# rather than replacing it.
JIT_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def _default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "wikidata_pq_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; without the
    env var, to as many cores as this process may run on.
    ``shuffle_partitions`` defaults to ``max(cores, 8)`` -- on a real
    cluster this should be ~2-3x total cores, or left to AQE coalescing.
    The session runs with ``SQL_DEFAULTS``; among them, strings are
    case-mapped by the JVM rather than ICU, which keeps a 3-4 CPU s
    class initializer out of the first ``lower()`` and costs no warm
    speed, and every Parquet sink is written as zstd with INT64
    microsecond timestamps.

    The driver JVM it launches is sized for ``local[N]``:
    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEM``, else half the
    host's RAM capped at 24g; ``spark.buffer.pageSize`` follows that
    heap (``_default_page_size``: 4 MB at 7g, not Spark's 64 MB); and
    ``spark.driver.defaultJavaOptions`` caps the JIT at two compiler
    threads (``JIT_JAVA_OPTIONS``). Together they cut a cold
    ``kg_incremental`` iteration's CPU from 35.3 to 23.5 s (medians of
    10 perfbench runs, 4-core host). ``extra_conf`` is applied last
    and overrides any of these; the page size follows its
    ``spark.driver.memory``.
    """
    cpus = _default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deliberate join-strategy choice (r8, optimization guide 3.1):
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold, and let AQE rewrite a planned SMJ to
        # shuffled-hash at RUNTIME whenever every post-shuffle map
        # output is under 64 MB -- a per-partition bound, so it is
        # scale-independent (a 100 TB join with 100 MB partitions keeps
        # sort-merge; the rewrite only fires when the build side
        # provably fits task memory). Measured on the checkpointed
        # candidate/band self-joins (no stats -> planner defaulted to
        # SMJ + double sort): minhash-LSH 2.6s -> 2.2s, near-dup
        # 3.3s -> 2.8s at sf1.0/local[32]. AQE skew-join splitting
        # (above) applies to shuffled-hash joins as well.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config(map=SQL_DEFAULTS)
        # Cap Arrow batches so a hot conversation group cannot OOM a
        # Python worker (the reference's max_builders=1000 batching
        # analogue, reference: process.py:218).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Nested-field pruning so struct projections reach the scan.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    conf = {
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        "spark.driver.defaultJavaOptions": JIT_JAVA_OPTIONS,
        **(extra_conf or {}),
    }
    conf.setdefault(
        "spark.buffer.pageSize", str(_default_page_size(conf["spark.driver.memory"]))
    )
    spark = builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
