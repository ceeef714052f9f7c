"""SparkSession factory with scale-aware defaults.

Configs chosen for the 100 TB target (AQE, skew-join splitting, Arrow
batching caps) while remaining correct on local[N]. The reference's
bounded-memory streaming discipline (reference: transforms.py:39-41,
core.py:58 -- lazy sinks, never collect) maps here to: AQE + spill-aware
shuffle partition sizing + capped Arrow record batches for pandas UDFs.

``SQL_DEFAULTS`` holds the SQL settings the package's results
and code paths assume: UTC timestamps, the Arrow conversions, the
JVM's case mapping for ``lower``/``upper``, and the Parquet format of
every sink (zstd, INT64 microsecond timestamps). ``get_spark`` builds with
them, and the ``jobs/`` entry points apply the same mapping to the
session spark-submit gives them.

``SQL_DEFAULTS`` also keeps a session from running the
``SparkSessionExtensionsProvider`` classes on the class path
(``spark.sql.extensions.test.loadFromCp=false``, a static key that
Spark's doc string calls "test only"). The only one on this class path
is spark-mllib's, and running it was about half of a session start's
JVM CPU: without it perfbench's session start took 5.6 calibrated
CPU s, not 8.1 (medians of 10 runs, 4-core host; ARCHITECTURE.md).
What is lost: ``pyspark.ml.functions.vector_to_array`` and
``array_to_vector`` fail with ``UNRESOLVED_ROUTINE``. Nothing in the
package or the ``jobs/`` uses ``pyspark.ml``; ``get_spark(extra_conf=
{"spark.sql.extensions.test.loadFromCp": "true"})`` restores them.
Extensions named in ``spark.sql.extensions`` still load.

``get_spark`` also sizes the driver JVM it launches for ``local[N]``:
the heap (``spark.driver.memory``), two JIT compiler threads
(``JIT_JAVA_OPTIONS``) and Tungsten pages sized to that heap
(``_default_page_size``). And it starts that JVM from a class-data
archive of the classes an earlier session loaded (``archive_rule``):
the first session on a host writes it when it exits, under
``$XDG_CACHE_HOME/wikidata_pq_spark/``, and later ones map it: a
session start took ~8 calibrated CPU s in perfbench, not ~15. In local
mode it also gives the calling thread's JVM side the executor's class
loader, so that each generated class compiles once, not once on the
driver and again in a task (``get_spark``).

The ``jobs/`` entry points apply none of these, nor the class loader.
The thread cap and the archive are launch options of the JVM that spark-submit
started before the script runs, and the page size must follow the heap
spark-submit gave it. Pass them on the spark-submit command line, with
the page size that ``_default_page_size`` gives for the
``--driver-memory`` (4194288 at 7g). The archive needs an empty conf
dir, as JDK 17's class-data sharing refuses a non-empty directory on
the class path, and Spark puts the conf dir there; a conf dir of
``*.template`` files only sets nothing, so an empty one changes no
setting. The archive a ``get_spark`` session wrote on the host,
``<key>-<size>.jsa`` in the cache, serves if the conf dir is the
cache's empty ``conf/``. A JVM ignores an archive of another class
path with a warning; a missing or junk file turns its class-data
sharing off, the JDK's default archive included:

    SPARK_CONF_DIR=~/.cache/wikidata_pq_spark/conf \\
    spark-submit --master local[4] --driver-memory 7g \\
        --conf "spark.driver.defaultJavaOptions=-XX:CICompilerCount=2 \\
            -XX:SharedArchiveFile=$HOME/.cache/wikidata_pq_spark/<key>-<size>.jsa" \\
        --conf spark.buffer.pageSize=4194288 ...
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession


# SQL settings that every session of the package runs with. All are
# runtime settings but one, spark.sql.extensions.test.loadFromCp, which
# is static: it counts only in the builder that starts the SparkContext.
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
    # No Python call-site capture. By default PySpark 4.1 wraps every
    # pyspark.sql.functions and Column call: it walks the Python stack,
    # tries to import IPython and ipykernel (a failed import searches
    # sys.path on every call), and makes py4j calls to read the conf and
    # to set and clear PySparkCurrentOrigin. With it off, a cold
    # kg_incremental perfbench iteration sent 2,492 py4j commands, not
    # 4,782 (kg_batch 2,146, not 3,400), its driver's Python CPU fell
    # from 1.1 to 0.5 s, and IPython was no longer imported
    # (tools/jvm_threads.py, 4-core host). The cost: an error raised by
    # the DataFrame API no longer names the Python file:line that built
    # the failing expression. The JVM-side
    # spark.sql.dataFrameQueryContext.enabled stays at its default.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Run no SparkSessionExtensionsProvider found on the class path (the
    # module docstring gives the cost and what is lost). The one static
    # key here: Spark reads it from the SparkConf as it builds the
    # session. Spark's doc string calls it "test only"; should a Spark
    # release drop it, the providers run again and tests/test_session.py
    # fails. The only provider on this class path is spark-mllib's
    # InternalFunctionRegistration: it builds typed UDFs through
    # ScalaReflection, which starts Scala's runtime-reflection universe,
    # and one of its encoder lookups throws and catches an error that
    # loads Spark's error-class JSON.
    "spark.sql.extensions.test.loadFromCp": "false",
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


# -- the driver JVM's class-data archive ---------------------------------
#
# JDK 17's dynamic CDS archive: the classes a JVM loaded, parsed and
# verified, written when it exits (-XX:ArchiveClassesAtExit) and mapped
# by the next JVMs of the same JDK and class path
# (-XX:SharedArchiveFile) in place of loading them again.
# A cold kg_batch iteration's JVM loads ~23k classes, ~1.3k of them
# from the JDK's default archive; with an archive of a whole session,
# 15.3k (tools/jvm_threads.py), and perfbench's setup_s fell from 16.7
# to 9.5 calibrated CPU s (ARCHITECTURE.md).

# a dynamic archive's magic, 0xf00baba8, as its first four bytes
_ARCHIVE_MAGIC = b"\xa8\xab\x0b\xf0"
# bounds on the wait for the driver JVM to exit at interpreter exit; a
# recording one dumps first, 11.6 s of preparation and 0.3 s of
# writing on a 4-core host
_EXIT_TIMEOUT_S = 60
_DUMP_TIMEOUT_S = 180
# a cache file no session used for this long is stale: another key's
# archive or killed dump is removed when a session installs an archive,
# and a failed dump's mark no longer stops a session from recording
_STALE_S = 30 * 86400
# what puts more than the conf dir and the jars on the driver's class
# path (Spark's launcher, AbstractCommandBuilder.buildClassPath)
_CLASS_PATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING", "SPARK_SQL_TESTING",
)


def _cache_dir() -> str:
    """``$XDG_CACHE_HOME/wikidata_pq_spark``, default ``~/.cache/...``:
    the archives are per-host artifacts, like pip's cache."""
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "wikidata_pq_spark")


def _java() -> str | None:
    """The java Spark's launcher runs: ``$JAVA_HOME/bin/java``, else
    the one on the PATH."""
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


def archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """Digest of what decides whether a driver JVM accepts an archive:
    the JDK (its real ``java.home``, and the size and mtime of its
    ``release`` file and ``libjvm.so``) and the class path Spark's
    launcher gives it (``conf_dir``, and the name, size and mtime of
    each jar under ``<spark_home>/jars``). An archive the JVM would
    reject lives under another key, so a changed JDK or jar records a
    new one. Raises OSError if a part is missing."""
    home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    parts: list = [home, conf_dir]
    for name in ("release", "lib/server/libjvm.so"):
        st = os.stat(os.path.join(home, name))
        parts.append([name, st.st_size, st.st_mtime_ns])
    with os.scandir(os.path.join(spark_home, "jars")) as jars:
        for jar in sorted(jars, key=lambda e: e.name):
            st = jar.stat()
            parts.append([jar.name, st.st_size, st.st_mtime_ns])
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:24]


def _is_archive(path: str, size: int) -> bool:
    """``path`` is ``size`` bytes long and starts with the magic."""
    try:
        with open(path, "rb") as fh:
            return os.fstat(fh.fileno()).st_size == size and fh.read(4) == _ARCHIVE_MAGIC
    except OSError:
        return False


def _stale(path: str) -> bool:
    """``path`` was last modified more than ``_STALE_S`` ago."""
    return os.path.getmtime(path) < time.time() - _STALE_S


def archive_rule(cache: str, key: str, conf_dir: str) -> tuple[str, str | None]:
    """What a driver JVM launched now does with the archive of ``key``
    under ``cache``, decided from files alone (no JVM):

    - ``("off", None)``: launch it as without an archive. ``conf_dir``
      (the conf dir Spark would use) holds something other than
      ``*.template`` files: Spark reads them, and CDS refuses a
      non-empty directory on the class path. Or a dump of ``key``
      failed in the last 30 days (``<key>.failed``): only one session
      per month pays for it.
    - ``("share", path)``: map ``path``, a complete archive, named
      ``<key>-<size>.jsa`` once a probe JVM mapped it: it is ``size``
      bytes and starts with the magic.
    - ``("record", None)``: write one at exit. The archive is missing,
      truncated (a truncated archive crashes the JVM that maps it with
      SIGBUS), junk, or a killed dump left only its ``*.tmp``; or the
      ``<key>.failed`` mark is stale (``_STALE_S``).
    """
    if any(not name.endswith(".template") for name in _listdir(conf_dir)):
        return "off", None
    named = re.compile(re.escape(key) + r"-(\d+)\.jsa")
    for name in sorted(_listdir(cache)):
        m = named.fullmatch(name)
        if m and _is_archive(os.path.join(cache, name), int(m[1])):
            return "share", os.path.join(cache, name)
    failed = os.path.join(cache, key + ".failed")
    if os.path.exists(failed) and not _stale(failed):
        return "off", None
    return "record", None


def _stop_jvm(proc, timeout: float) -> bool:
    """Close the driver JVM's stdin, on whose EOF it exits, and wait for
    it, killing it after ``timeout`` s; False if it was killed. Run at
    interpreter exit, so that no JVM outlives its session's process."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return False
    return True


class _Recording:
    """A driver JVM that writes the archive of ``key`` to a name of its
    own when it exits. The session holds ``<key>.lock`` until then, so
    one session per key records. At interpreter exit ``finish`` waits
    for the JVM and gives the archive its ``<key>-<size>.jsa`` name
    only once a probe JVM mapped it, and then removes the stale files
    of other keys (``_prune``); a dump that fails leaves
    ``<key>.failed`` instead."""

    def __init__(self, java: str, cache: str, key: str, lock):
        self.java, self.cache, self.key, self.lock = java, cache, key, lock
        self.tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
        self.proc = self.class_path = None

    @classmethod
    def start(cls, java: str, cache: str, key: str) -> _Recording | None:
        """Take the key's lock, or None if another session holds it."""
        lock = open(os.path.join(cache, key + ".lock"), "a")
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            lock.close()
            return None
        for stale in glob.glob(os.path.join(glob.escape(cache), glob.escape(key) + ".*.tmp")):
            os.remove(stale)  # a killed dump's
        return cls(java, cache, key, lock)

    def launched(self, proc, class_path: str) -> None:
        self.proc, self.class_path = proc, class_path
        atexit.register(self.finish)

    def finish(self) -> None:
        try:
            self._install()
        finally:
            self.lock.close()

    def _install(self) -> None:
        killed = not _stop_jvm(self.proc, _DUMP_TIMEOUT_S)
        dumped = os.path.exists(self.tmp)
        if self.proc.returncode != 0 and not (dumped or killed):
            return  # the JVM died before it dumped: a later session records
        if dumped and self.proc.returncode == 0 and self._probe():
            size = os.path.getsize(self.tmp)
            for old in glob.glob(os.path.join(glob.escape(self.cache), glob.escape(self.key) + "-*.jsa")):
                os.remove(old)
            os.replace(self.tmp, os.path.join(self.cache, f"{self.key}-{size}.jsa"))
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.cache, self.key + ".failed"))
            self._prune()
            return
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.tmp)
        open(os.path.join(self.cache, self.key + ".failed"), "w").close()

    def _prune(self) -> None:
        """Remove the archives, killed dumps' ``*.tmp`` and ``.failed``
        marks of other keys that no session touched for ``_STALE_S``:
        a session that maps an archive touches it, so two JDKs that
        alternate on one host each keep theirs, and a key that comes
        back after a month records again."""
        stale = re.compile(r"(\w+)(-\d+\.jsa|\.\d+\.tmp|\.failed)")
        for name in _listdir(self.cache):
            m = stale.fullmatch(name)
            path = os.path.join(self.cache, name)
            if m and m[1] != self.key:
                with contextlib.suppress(OSError):  # housekeeping only
                    if _stale(path):
                        os.remove(path)

    def _probe(self) -> bool:
        """A JVM of the same JDK and class path maps the dump and exits 0:
        it is complete. ``-Xshare:on`` makes an archive it cannot map a
        failure, not a warning."""
        cmd = [
            self.java, "-Xshare:on", f"-XX:SharedArchiveFile={self.tmp}",
            "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
            "-cp", self.class_path, "-version",
        ]
        try:
            return subprocess.run(
                cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60
            ).returncode == 0
        except subprocess.TimeoutExpired:
            return False


_NO_ARCHIVE = ("", None, None)


def _archive_launch(conf: dict) -> tuple[str, str | None, _Recording | None]:
    """For a driver JVM about to launch with ``conf``: the archive flag,
    the empty directory to launch it with as ``SPARK_CONF_DIR``, and the
    recording to finish at exit (None when it maps an archive).
    ``_NO_ARCHIVE`` to launch it as without an archive: the class path
    holds more than the conf dir and the jars, the cache cannot be
    written, or ``archive_rule`` says so."""
    from pyspark.find_spark_home import _find_spark_home

    if "spark.driver.extraClassPath" in conf or any(map(os.environ.get, _CLASS_PATH_ENV)):
        return _NO_ARCHIVE
    java = _java()
    if java is None:
        return _NO_ARCHIVE
    spark_home = _find_spark_home()
    cache = _cache_dir()
    empty = os.path.join(cache, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        key = archive_key(java, spark_home, empty)
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        action, path = archive_rule(cache, key, conf_dir)
        recording = _Recording.start(java, cache, key) if action == "record" else None
        if recording is not None:
            # the session that held the lock until now may have installed
            # the archive, or failed its dump
            action, path = archive_rule(cache, key, conf_dir)
            if action != "record":
                recording.lock.close()
                recording = None
    except OSError:
        return _NO_ARCHIVE
    if action == "share":
        with contextlib.suppress(OSError):
            os.utime(path)  # in use: not stale (_Recording._prune)
        return f"-XX:SharedArchiveFile={path}", empty, None
    if recording is None:
        return _NO_ARCHIVE
    # its dump logs a warning per class it leaves out, ~600 lines
    return f"-XX:ArchiveClassesAtExit={recording.tmp} -Xlog:cds=off", empty, recording


@contextlib.contextmanager
def _environ(name: str, value: str):
    """``os.environ[name]`` is ``value`` inside, and as before after."""
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old


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
    microsecond timestamps. The session runs no
    ``SparkSessionExtensionsProvider`` from the class path: that was
    spark-mllib's alone, about half of a fresh session's JVM CPU.
    So ``pyspark.ml.functions.vector_to_array`` and ``array_to_vector``
    fail with ``UNRESOLVED_ROUTINE`` in it; ``extra_conf=
    {"spark.sql.extensions.test.loadFromCp": "true"}`` restores them.

    In local mode the JVM thread that serves the calling Python thread
    gets the executor's class loader as its context class loader.
    Spark's ``CodeGenerator`` caches each compiled class under that
    loader, and local-mode tasks run under the executor's, so a
    whole-stage class compiled for the driver-side check and again in
    the first task; now it compiles once. A cold ``kg_batch`` iteration
    ran 23 Janino compiles, not 37, and ``kg_incremental`` 42, not 54
    (``tools/jvm_threads.py``, seed 7). It covers that thread only: a
    JVM thread that PySpark pins to another Python thread keeps its
    loader, and compiles each class twice, as before.

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

    A session that launches the driver JVM starts it from the host's
    class-data archive for this JDK and Spark class path
    (``-XX:SharedArchiveFile`` added to ``defaultJavaOptions``, with
    ``SPARK_CONF_DIR`` an empty cache dir for the launch), which cut
    perfbench's ``setup_s`` on ``kg_batch`` from 16.7 to 9.5 calibrated
    CPU s (medians of 10 pairs, 4-core host; ARCHITECTURE.md). With no
    complete archive yet, one session per key records it
    (``-XX:ArchiveClassesAtExit``): its start is slower, and at
    interpreter exit it waits, bounded, for its JVM to exit and write
    the archive, which took 12-19 s on a 4-core host. Any session that
    launched the JVM waits for it at exit, so that it does not outlive
    the Python process. No archive flag is added, and ``SPARK_CONF_DIR`` is left
    alone, if Spark's conf dir holds a file it reads, ``extra_conf``
    sets ``defaultJavaOptions``, the class path holds more than the
    conf dir and the jars, or the cache cannot be written.
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
    # this call launches the driver JVM: none runs, and none was given
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    flag, conf_dir, recording = _NO_ARCHIVE
    if launching and conf["spark.driver.defaultJavaOptions"] == JIT_JAVA_OPTIONS:
        flag, conf_dir, recording = _archive_launch(conf)
    if flag:
        conf["spark.driver.defaultJavaOptions"] += " " + flag
    try:
        with _environ("SPARK_CONF_DIR", conf_dir) if conf_dir else contextlib.nullcontext():
            spark = builder.config(map=conf).getOrCreate()
    except BaseException:
        if recording is not None:
            recording.lock.close()
        raise
    jvm = spark.sparkContext._jvm
    if launching:
        proc = spark.sparkContext._gateway.proc
        if recording is None:
            atexit.register(_stop_jvm, proc, _EXIT_TIMEOUT_S)
        else:
            recording.launched(proc, jvm.java.lang.System.getProperty("java.class.path"))
    loader = jvm.org.apache.spark.SparkEnv.get().serializer().defaultClassLoader()
    if loader.isDefined():  # local mode: the driver JVM runs an executor
        jvm.java.lang.Thread.currentThread().setContextClassLoader(loader.get())
    spark.sparkContext.setLogLevel("WARN")
    return spark
