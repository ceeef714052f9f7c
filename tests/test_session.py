"""Session defaults, and the Parquet format they give the package's sinks."""

from __future__ import annotations

from wikidata_pq_spark import session


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


def test_edges_footer_is_zstd_with_utc_micros_ts(
    spark, spark_corpus, tmp_path, parquet_footers
):
    """A KGPipeline run's edges file carries the session's sink format in
    its footer: every column chunk zstd, and ts an INT64 timestamp in
    microseconds adjusted to UTC (not legacy INT96)."""
    import json

    import pyarrow.parquet as pq

    from wikidata_pq_spark.pipeline import KGPipeline

    out = tmp_path / "kg"
    KGPipeline(spark, str(out), n_chunks=1).run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
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


def test_driver_jvm_runs_two_jit_compiler_threads(spark):
    """The session's driver JVM was launched with ``-XX:CICompilerCount=2``
    from ``spark.driver.defaultJavaOptions``, so a caller's
    ``extraJavaOptions`` is appended to it and cannot drop it, and its
    Tungsten pages follow its heap."""
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert "-XX:CICompilerCount=2" in list(runtime.getInputArguments())
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == session.JIT_JAVA_OPTIONS
    assert "CICompilerCount" not in (conf.get("spark.driver.extraJavaOptions") or "")
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    assert page == session._default_page_size(conf.get("spark.driver.memory"))
