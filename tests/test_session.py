"""Session defaults, and the Parquet format they give the package's sinks."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from wikidata_pq_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_with_gib(gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    return pages.__getitem__


def test_default_driver_memory_is_half_of_ram_capped_at_24g(monkeypatch):
    monkeypatch.setattr(session.os, "sysconf", _host_with_gib(16))
    assert int(session._default_driver_memory().removesuffix("g")) <= 8
    monkeypatch.setattr(session.os, "sysconf", _host_with_gib(64))
    assert session._default_driver_memory() == "24g"


def test_default_cpus_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session._default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session._default_cpus() == 5


def test_sql_defaults_write_zstd_parquet_with_int64_timestamps():
    assert session.SQL_DEFAULTS["spark.sql.parquet.compression.codec"] == "zstd"
    assert (
        session.SQL_DEFAULTS["spark.sql.parquet.outputTimestampType"]
        == "TIMESTAMP_MICROS"
    )


def test_sessions_capture_no_python_call_site(spark):
    """``get_spark`` sessions, and the ``jobs/`` ones through
    ``SQL_DEFAULTS``, run with PySpark's call-site capture off."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert session.SQL_DEFAULTS[key] == "false"
    assert spark.conf.get(key) == "false"


def test_sessions_run_aqe_by_sparks_defaults(spark):
    """A package session runs AQE, its partition coalescing and its
    skew-join split, which the link join's shuffle path relies on, by
    Spark's own defaults: ``get_spark`` does not set them, so this fails
    under a Spark that changes one. The join and Arrow batch settings it
    does set come from ``SQL_DEFAULTS``, which the ``jobs/`` apply too."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        assert key not in session.SQL_DEFAULTS
        assert spark.conf.get(key) == "true", key
    for key, value in {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    }.items():
        assert session.SQL_DEFAULTS[key] == value
        assert spark.sparkContext.getConf().get(key) == value, key


LOAD_FROM_CP = "spark.sql.extensions.test.loadFromCp"


def test_sessions_run_no_class_path_extension_provider(spark):
    """``get_spark`` sessions, and the ``jobs/`` ones through
    ``SQL_DEFAULTS``, are built without the class path's
    ``SparkSessionExtensionsProvider`` classes. spark-mllib's is the
    only one, and the ML functions it registers are unresolved: this
    fails if it ran, as it would under a Spark that drops the key."""
    from pyspark.errors import AnalysisException
    from pyspark.ml.functions import vector_to_array

    assert session.SQL_DEFAULTS[LOAD_FROM_CP] == "false"
    assert spark.sparkContext.getConf().get(LOAD_FROM_CP) == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(vector_to_array("id"))
    assert err.value.getCondition() == "UNRESOLVED_ROUTINE"


ML_SCRIPT = """
from pyspark.ml.functions import vector_to_array
from pyspark.ml.linalg import Vectors
from wikidata_pq_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.sql.extensions.test.loadFromCp": "true"})
df = spark.createDataFrame([(Vectors.dense([1.0, 2.0]),)], ["v"])
print("array", df.select(vector_to_array("v").alias("a")).first()["a"], flush=True)
"""


def test_extension_providers_can_be_turned_back_on():
    """``extra_conf`` that sets the key to true restores the class
    path's providers, and with them ``vector_to_array``."""
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))}
    run = subprocess.run([sys.executable, "-c", ML_SCRIPT], env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-2000:]
    assert "array [1.0, 2.0]" in run.stdout.splitlines()


def test_a_new_whole_stage_class_compiles_once(spark):
    """In local mode the calling thread compiles under the executor's
    class loader, which keys ``CodeGenerator``'s cache: a query with a
    whole-stage class never seen before adds one Janino compile to
    ``CodegenMetrics``, not one for the driver-side check and one more
    for the task. Under the app class loader it would add two."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def new_compiles(k):
        # the literal k is inlined into the generated code, so each k
        # is a new whole-stage class; every other class is shared
        before = compiles.getCount()
        spark.range(0, 100, 1, 1).selectExpr(f"id * {k} + 1 as x").filter(f"x % {k} = 1").collect()
        return compiles.getCount() - before

    new_compiles(1_000_003)  # compiles the classes that do not depend on k
    assert new_compiles(1_000_033) == 1
    thread = jvm.java.lang.Thread.currentThread()
    loader = thread.getContextClassLoader()
    thread.setContextClassLoader(jvm.java.lang.ClassLoader.getSystemClassLoader())
    try:
        assert new_compiles(1_000_037) == 2
    finally:
        thread.setContextClassLoader(loader)


CALL_SITE_SCRIPT = """
import sys
from pyspark.sql import functions as F
from wikidata_pq_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
df = spark.range(10).select(F.col("id"), F.lower(F.lit("A")).alias("a"))
df = df.filter(F.col("id") > F.lit(2)).groupBy("a").agg(F.count(F.lit(1)).alias("n"))
print("rows", df.collect()[0]["n"])
print("ipython", "IPython" in sys.modules, flush=True)
"""


def test_frame_building_imports_no_ipython():
    """In a fresh process, building and running a frame with ``F.*`` and
    ``Column`` calls leaves IPython unimported: with call-site capture
    on, PySpark tries to import it (and ipykernel) on every such call."""
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))}
    run = subprocess.run([sys.executable, "-c", CALL_SITE_SCRIPT], env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in run.stdout.splitlines() if " " in line)
    assert lines["rows"] == "7" and lines["ipython"] == "False"


def test_edges_footer_is_zstd_with_utc_micros_ts(
    spark, parquet_corpus, tmp_path, parquet_footers
):
    """A KGPipeline run's edges file carries the session's sink format in
    its footer: every column chunk zstd, and ts an INT64 timestamp in
    microseconds adjusted to UTC (not legacy INT96)."""
    import json

    import pyarrow.parquet as pq

    from wikidata_pq_spark.pipeline import KGPipeline

    out = tmp_path / "kg"
    KGPipeline(spark, str(out), n_chunks=1).run(
        parquet_corpus["transcripts"], parquet_corpus["alias_dict"], parquet_corpus["same_as"]
    )
    chunk = out / "edges" / "chunk=0"
    assert parquet_footers(chunk, "ts") == ({"ZSTD"}, {"INT64"})
    schema = pq.ParquetFile(next(chunk.glob("part-*.parquet"))).schema
    logical = json.loads(schema.column(schema.names.index("ts")).logical_type.to_json())
    assert (logical["Type"], logical["timeUnit"], logical["isAdjustedToUTC"]) == (
        "Timestamp", "microseconds", True
    )


def test_components_footer_follows_the_session_codec(
    spark, spark_corpus, tmp_path, legacy_parquet, parquet_footers
):
    """The driver writes ``components`` with pyarrow in the codec the
    session gives every Spark sink: zstd under ``SQL_DEFAULTS``, snappy
    under Spark's own defaults."""
    from wikidata_pq_spark.operators import canonicalize

    same_as = spark_corpus["same_as"]
    paths = {codec: str(tmp_path / codec) for codec in ("ZSTD", "SNAPPY")}
    assert canonicalize.write_components(same_as, paths["ZSTD"])["cc_path"] == "driver"
    with legacy_parquet():
        canonicalize.write_components(same_as, paths["SNAPPY"])
    assert {c: parquet_footers(p, "ts")[0] for c, p in paths.items()} == {
        "ZSTD": {"ZSTD"}, "SNAPPY": {"SNAPPY"}
    }


def test_page_size_follows_the_heap_and_fits_the_page_table(monkeypatch):
    """Tungsten pages are 4 MB (less the 16-byte long[] header) at a 7g
    heap, and at every heap ``get_spark`` picks from 1g to 24g and at a
    256g ``$SPARK_DRIVER_MEM``, a task that fills
    the whole execution pool, (heap - 300 MB) x 0.6, needs at most the
    8192 pages Spark's per-task page table holds."""
    assert session._default_page_size("7g") == 4 * 2**20 - 16
    heaps = set()
    for gib in range(2, 50):
        monkeypatch.setattr(session.os, "sysconf", _host_with_gib(gib))
        heaps.add(session._default_driver_memory())
    assert {f"{g}g" for g in range(1, 25)} == heaps
    for heap in (*heaps, "256g"):
        heap_bytes = int(heap.removesuffix("g")) * 2**30
        pool = (heap_bytes - 300 * 2**20) * 0.6
        page = session._default_page_size(heap)
        assert 2**20 - 16 <= page <= 64 * 2**20 - 16
        assert pool / page <= 8192, heap


def test_driver_jvm_runs_two_jit_compiler_threads(spark, tmp_path):
    """The session's driver JVM was launched with ``-XX:CICompilerCount=2``
    from ``spark.driver.defaultJavaOptions``, so a caller's
    ``extraJavaOptions`` is appended to it and cannot drop it, and its
    Tungsten pages follow its heap."""
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    arguments = list(runtime.getInputArguments())
    assert "-XX:CICompilerCount=2" in arguments
    conf = spark.sparkContext.getConf()
    options = conf.get("spark.driver.defaultJavaOptions")
    assert options.startswith(session.JIT_JAVA_OPTIONS + " ") or options == session.JIT_JAVA_OPTIONS
    assert "CICompilerCount" not in (conf.get("spark.driver.extraJavaOptions") or "")
    # The rest is an archive flag of this key, which the JVM was given,
    # or none: which one depends on the cache at launch (share, record,
    # or none while another session records), and that may have changed
    # since. There is none if the rule is off for Spark's conf dir
    # whatever the cache holds, or the class path holds more.
    rest = options[len(session.JIT_JAVA_OPTIONS):].strip()
    assert set(rest.split()) <= set(arguments)
    cache, key = _archive_key()
    stem = re.escape(os.path.join(cache, key))
    forms = [
        "",
        rf"-XX:SharedArchiveFile={stem}-\d+\.jsa",
        rf"-XX:ArchiveClassesAtExit={stem}\.{os.getpid()}\.tmp -Xlog:cds=off",
    ]
    off = session.archive_rule(str(tmp_path), key, _spark_conf_dir())[0] == "off"
    if off or any(map(os.environ.get, session._CLASS_PATH_ENV)):
        forms = [""]
    assert any(re.fullmatch(form, rest) for form in forms), rest
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    assert page == session._default_page_size(conf.get("spark.driver.memory"))


def _archive_key(xdg_cache=None):
    """The cache dir and the archive key of a driver JVM launched now,
    with ``$XDG_CACHE_HOME`` at ``xdg_cache`` if given."""
    with pytest.MonkeyPatch.context() as mp:
        if xdg_cache is not None:
            mp.setenv("XDG_CACHE_HOME", str(xdg_cache))
        cache = session._cache_dir()
    conf = os.path.join(cache, "conf")
    return cache, session.archive_key(session._java(), _find_spark_home(), conf)


def _spark_conf_dir():
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")


def _archive(path, size, body=session._ARCHIVE_MAGIC):
    path.write_bytes(body + b"\0" * (size - len(body)))
    return str(path)


def test_archive_rule_decides_from_files_alone(tmp_path):
    """The rule maps an archive only if it is complete: named
    ``<key>-<size>.jsa``, that long, with the magic. A missing,
    truncated or junk archive, another key's, or only the ``*.tmp`` of a
    killed dump, records a new one; a failed dump of the key, or a conf
    dir holding a file Spark reads, gives no flag at all."""
    cache, conf = tmp_path / "cache", tmp_path / "conf"
    cache.mkdir()
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.master local\n")
    rule = lambda: session.archive_rule(str(cache), "k1", str(conf))  # noqa: E731

    assert rule() == ("record", None)  # missing
    (cache / "k1.4242.tmp").write_bytes(session._ARCHIVE_MAGIC)  # a killed dump
    _archive(cache / "k2-4096.jsa", 4096)  # another key's
    assert rule() == ("record", None)
    truncated = cache / "k1-8192.jsa"
    _archive(truncated, 4096)
    assert rule() == ("record", None)
    truncated.unlink()
    junk = _archive(cache / "k1-4096.jsa", 4096, body=b"junk")
    assert rule() == ("record", None)
    os.remove(junk)
    complete = _archive(cache / "k1-4096.jsa", 4096)
    assert rule() == ("share", complete)

    (conf / "spark-defaults.conf").write_text("spark.master local\n")
    assert rule() == ("off", None)
    (conf / "spark-defaults.conf").unlink()
    os.remove(complete)
    (cache / "k1.failed").touch()
    assert rule() == ("off", None)


class _ExitedJvm:
    """A driver JVM process that has exited with ``returncode``."""

    def __init__(self, returncode):
        self.returncode = returncode

    def poll(self):
        return self.returncode


def test_recording_installs_only_a_probed_archive(tmp_path, monkeypatch):
    """One session per key records: a second one gets no lock while the
    first holds it. Taking the lock removes a killed dump's ``*.tmp``. A
    dump the probe maps becomes the key's one ``<key>-<size>.jsa``
    (other archives of the key are removed); one it rejects, or a JVM
    that exited 0 without one, leaves ``<key>.failed``, which turns
    the rule off; a JVM that died before its dump leaves nothing."""
    cache = tmp_path
    (cache / "k1.4242.tmp").write_bytes(b"partial")
    _archive(cache / "k1-8192.jsa", 4096)  # truncated
    rec = session._Recording.start("java", str(cache), "k1")
    assert rec is not None and not (cache / "k1.4242.tmp").exists()
    assert session._Recording.start("java", str(cache), "k1") is None
    _archive(tmp_path / f"k1.{os.getpid()}.tmp", 4096)
    rec.proc = _ExitedJvm(0)
    monkeypatch.setattr(session._Recording, "_probe", lambda self: True)
    rec.finish()
    assert sorted(os.listdir(cache)) == ["k1-4096.jsa", "k1.lock"]
    assert session.archive_rule(str(cache), "k1", str(tmp_path / "conf"))[0] == "share"

    (cache / "k1-4096.jsa").unlink()
    rec = session._Recording.start("java", str(cache), "k1")
    rec.proc = _ExitedJvm(-9)  # killed before its dump
    rec.finish()
    assert sorted(os.listdir(cache)) == ["k1.lock"]

    rec = session._Recording.start("java", str(cache), "k1")
    _archive(tmp_path / f"k1.{os.getpid()}.tmp", 4096)
    rec.proc = _ExitedJvm(0)
    monkeypatch.setattr(session._Recording, "_probe", lambda self: False)
    rec.finish()
    assert sorted(os.listdir(cache)) == ["k1.failed", "k1.lock"]
    assert session.archive_rule(str(cache), "k1", str(tmp_path / "conf")) == ("off", None)


@pytest.mark.parametrize("outcome", ["installed", "failed"])
def test_session_that_takes_the_lock_asks_the_rule_again(tmp_path, monkeypatch, outcome):
    """A session that found no archive and then took the key's lock asks
    the rule again: the session that held the lock until then may have
    installed the archive, which it maps, or failed its dump, which
    gives no flag. Either way it does not record, and frees the lock."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "spark-conf"))
    for name in session._CLASS_PATH_ENV:
        monkeypatch.delenv(name, raising=False)
    cache, key = _archive_key(tmp_path)
    archive = os.path.join(cache, f"{key}-4096.jsa")
    start = session._Recording.start

    def start_after_the_holder(java, cache, key):
        if outcome == "installed":
            _archive(Path(archive), 4096)
        else:
            Path(cache, key + ".failed").touch()
        return start(java, cache, key)

    monkeypatch.setattr(session._Recording, "start", staticmethod(start_after_the_holder))
    flag, _, recording = session._archive_launch({})
    assert recording is None
    assert flag == (f"-XX:SharedArchiveFile={archive}" if outcome == "installed" else "")
    again = start("java", cache, key)
    assert again is not None
    again.lock.close()


def _age(path, days):
    """Set ``path``'s mtime to ``days`` ago."""
    t = time.time() - days * 86400
    os.utime(path, (t, t))


def test_stale_archives_of_other_keys_are_pruned(tmp_path, monkeypatch):
    """A session that maps an archive touches it. A recording session's
    install removes other keys' archives, killed dumps and ``.failed``
    marks that no session touched for 30 days, and its own key's mark;
    recent ones stay, so two JDKs that alternate on one host each keep
    theirs. A ``.failed`` mark older than 30 days no longer stops its
    key from recording."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "spark-conf"))
    for name in session._CLASS_PATH_ENV:
        monkeypatch.delenv(name, raising=False)
    cache, key = _archive_key(tmp_path)
    os.makedirs(cache)
    mapped = _archive(Path(cache, f"{key}-4096.jsa"), 4096)
    _age(mapped, 40)
    flag, _, recording = session._archive_launch({})
    assert flag == f"-XX:SharedArchiveFile={mapped}" and recording is None
    assert time.time() - os.path.getmtime(mapped) < 3600

    c = Path(cache)
    for name, days in [("k2-4096.jsa", 40), ("k3-4096.jsa", 1), ("k4.failed", 40),
                       ("k5.failed", 1), ("k6.123.tmp", 40), ("k7.lock", 40),
                       ("k1.failed", 40)]:
        _archive(c / name, 4096)
        _age(c / name, days)
    assert session.archive_rule(cache, "k1", str(tmp_path / "conf")) == ("record", None)
    assert session.archive_rule(cache, "k5", str(tmp_path / "conf")) == ("off", None)
    rec = session._Recording.start("java", cache, "k1")
    _archive(c / f"k1.{os.getpid()}.tmp", 4096)
    rec.proc = _ExitedJvm(0)
    monkeypatch.setattr(session._Recording, "_probe", lambda self: True)
    rec.finish()
    assert sorted(os.listdir(cache)) == sorted([
        "conf", os.path.basename(mapped),
        "k1-4096.jsa", "k1.lock", "k3-4096.jsa", "k5.failed", "k7.lock",
    ])


SESSION_SCRIPT = """
import os
from wikidata_pq_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
print("options", spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"))
print("rows", spark.range(100).filter("id % 7 = 0").count())
print("jvm", spark.sparkContext._gateway.proc.pid, flush=True)
"""


def test_truncated_archive_neither_fails_nor_is_mapped(tmp_path):
    """A session whose cache holds a truncated archive under the
    current key -- a real dynamic archive of this JDK and class path,
    cut to half, which crashes a JVM that maps it -- starts, runs a
    query and exits 0. It records a new archive instead, and at exit
    its JVM has finished the dump and is gone, and the cache holds the
    key's one complete archive."""
    cache, key = _archive_key(tmp_path)
    spark_conf = os.path.join(_find_spark_home(), "conf")
    if session.archive_rule(cache, key, spark_conf)[0] == "off":
        pytest.skip("Spark's conf dir holds a file Spark reads: sessions map no archive")
    os.makedirs(os.path.join(cache, "conf"))
    full = tmp_path / "full.jsa"
    class_path = os.path.join(cache, "conf") + "/:" + os.path.join(_find_spark_home(), "jars", "*")
    subprocess.run(
        [session._java(), f"-XX:ArchiveClassesAtExit={full}", "-Xlog:cds=off",
         "-cp", class_path, "-version"],
        check=True, capture_output=True, timeout=120,
    )
    size = full.stat().st_size
    truncated = os.path.join(cache, f"{key}-{size}.jsa")
    with open(full, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(size // 2))

    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path), "SPARK_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))}
    for name in ("SPARK_CONF_DIR", *session._CLASS_PATH_ENV):
        env.pop(name, None)
    run = subprocess.run([sys.executable, "-c", SESSION_SCRIPT], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in run.stdout.splitlines() if " " in line)
    assert lines["rows"] == "15"
    assert "-XX:ArchiveClassesAtExit=" in lines["options"]
    assert "SharedArchiveFile" not in lines["options"]
    with pytest.raises(ProcessLookupError):
        os.kill(int(lines["jvm"]), 0)
    (archive,) = [n for n in os.listdir(cache) if n.endswith((".jsa", ".tmp", ".failed"))]
    assert session.archive_rule(cache, key, spark_conf) == ("share", os.path.join(cache, archive))
