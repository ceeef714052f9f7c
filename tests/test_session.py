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
