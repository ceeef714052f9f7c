"""Table IO (partitioned writes + recorded audit rows) and checkpoint store."""

from __future__ import annotations

import os
import pathlib
import sys
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wikidata_pq_spark.plans.checkpoint import StateStore, Step
from wikidata_pq_spark.sources import tableio


def _df(spark, n=100):
    pdf = pd.DataFrame({"id": range(n), "part": [i % 4 for i in range(n)]})
    return spark.createDataFrame(pdf)


def _sink(tmp_path, df, partition_cols=("part",), name="t"):
    """Write ``df`` as the sink ``name`` and commit the record the
    pipelines keep for it: the written schema and the audit rows of the
    frame the write was given. The sink's path and the committed record."""
    path = str(tmp_path / name)
    tableio.write_partitioned(df, path, list(partition_cols))
    audit = tableio.audit_frame(df, list(partition_cols), "id").collect()
    st = StateStore(str(tmp_path / "_log"))
    st.set(
        name, Step.MATERIALIZED, schema=df.schema.jsonValue(),
        audit=[r.asDict() for r in audit],
    )
    return path, st.metrics(name)


def test_record_audit_and_post_check(spark, tmp_path):
    path, record = _sink(tmp_path, _df(spark))
    assert tableio.check_recorded(path, record, ["part"], "id")
    audit = pd.DataFrame(record["audit"])
    assert len(audit) == 4
    assert audit["rows"].sum() == 100
    assert audit["min_id"].min() == 0 and audit["max_id"].max() == 99
    # the rows live in the record: no sidecar table beside the sink
    assert sorted(p.name for p in tmp_path.iterdir()) == ["_log", "t"]


def test_post_check_detects_tamper(spark, tmp_path):
    path, record = _sink(tmp_path, _df(spark))
    # tamper: a recorded row with a wrong row count
    record["audit"][0]["rows"] += 1
    assert not tableio.check_recorded(path, record, ["part"], "id")


def test_post_check_is_multiset_exact(spark, tmp_path):
    """A duplicated or dropped recorded row, or a lost part file, fails."""
    edits = {
        "duplicated": lambda rows: rows + rows[:1],
        "dropped": lambda rows: rows[1:],
    }
    for name, edit in edits.items():
        path, record = _sink(tmp_path, _df(spark), name=name)
        record["audit"] = edit(record["audit"])
        assert not tableio.check_recorded(path, record, ["part"], "id"), name

    path, record = _sink(tmp_path, _df(spark), name="lost_file")
    next(pathlib.Path(path).rglob("*.parquet")).unlink()
    assert not tableio.check_recorded(path, record, ["part"], "id")


@pytest.mark.classic_session_only
def test_post_check_job_count(spark, tmp_path):
    """On a 4-partition sink the post-check runs no Spark job: the disk
    side's audit rows come from the Parquet footers, read on the
    driver, and the recorded rows from the log, not from a table."""
    path, record = _sink(tmp_path, _df(spark))
    sc = spark.sparkContext
    sc.setJobGroup("post_check_jobs", "post_check_jobs")
    try:
        assert tableio.check_recorded(path, record, ["part"], "id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus: drain
    # it so every job that ran is counted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("post_check_jobs")) == 0


def test_post_check_detects_dropped_row(spark, tmp_path, monkeypatch):
    """The record audits the frame the write was given, not a re-read
    of the sink: a writer that loses one row of a 4-partition frame
    fails the post-check."""
    write = tableio.write_partitioned

    def drop_one_row(df, path, partition_cols):
        write(df.filter(F.col("id") != 0), path, partition_cols)

    monkeypatch.setattr(tableio, "write_partitioned", drop_one_row)
    path, record = _sink(tmp_path, _df(spark))
    assert spark.read.parquet(path).count() == 99
    assert not tableio.check_recorded(path, record, ["part"], "id")


def test_post_check_missing_audit(spark, tmp_path):
    """A sink that is not on disk fails its recorded audit."""
    _, record = _sink(tmp_path, _df(spark))
    nope = str(tmp_path / "nope")
    assert not tableio.check_recorded(nope, record, ["part"], "id")


def test_state_store_roundtrip(tmp_path):
    log = tmp_path / "_log"
    st = StateStore(str(log))
    assert st.get("u1") == Step.INIT and not log.exists()
    st.set("u1", Step.LINKED, rows=5)
    assert st.get("u1") == Step.LINKED
    assert st.metrics("u1") == {"rows": 5}
    # no backwards transitions
    st.set("u1", Step.INIT)
    assert st.get("u1") == Step.LINKED
    # gates
    assert st.gate("u1", Step.CANONICALIZED)
    assert not st.gate("u1", Step.LINKED)
    # a later step merges its metrics into the record
    st.set("u1", Step.VERIFIED, checked=True)
    st.set("u1", Step.COMPLETE)
    assert st.get("u1") == Step.COMPLETE
    assert st.metrics("u1") == {"rows": 5, "checked": True}
    # each change committed one version of the unit's own log; a set
    # that changes nothing (or moves backwards) commits none
    st.set("u1", Step.COMPLETE, rows=5)
    u1_log = [f"{v:020d}.json" for v in range(3)]
    assert sorted(p.name for p in (log / "u1").iterdir()) == u1_log
    # another unit's change commits to its own log only
    st.set("u2", Step.LINKED, rows=7)
    assert sorted(p.name for p in (log / "u1").iterdir()) == u1_log
    assert sorted(p.name for p in log.iterdir()) == ["u1", "u2"]
    assert st.metrics("u1") == {"rows": 5, "checked": True}


def test_state_store_concurrent_sets_lose_no_metric(tmp_path):
    """Many threads merging distinct metrics into one unit's record at
    once: each lost race for a log version re-reads and retries, so the
    final record holds every metric (a lost update would drop one)."""
    st = StateStore(str(tmp_path / "_log"))
    errors = []

    def set_metric(i):
        try:
            st.set("u", Step.LINKED, **{f"m{i}": i})
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=set_metric, args=(i,)) for i in range(32)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert st.get("u") == Step.LINKED
    assert st.metrics("u") == {f"m{i}": i for i in range(32)}


@pytest.mark.parametrize(
    "partition_cols", [[], ["part"]], ids=["unpartitioned", "part"]
)
def test_post_check_empty_frame(spark, tmp_path, partition_cols):
    """An all-empty write must record no audit row and pass its
    post-check. Partitioned, it leaves no part files (bare _SUCCESS),
    and the re-read must not crash with UNABLE_TO_INFER_SCHEMA;
    unpartitioned, the global aggregate's zero-row group must not
    reach the record. Both are the shape of an empty chunk, which
    ``KGPipeline`` gives when ``n_chunks`` exceeds the input's file
    count."""
    df = _df(spark, 10).filter(F.lit(False))
    path, record = _sink(tmp_path, df, partition_cols, name="empty")
    assert record["audit"] == []
    assert tableio.check_recorded(path, record, partition_cols, "id") is True


def _spark_audit(spark, path, df, partition_cols, id_col="id"):
    """``audit_frame`` of the sink at ``path`` read back by Spark with
    ``df``'s schema: the rows ``footer_audit`` must equal."""
    sink = spark.read.schema(df.schema).parquet(path)
    return [r.asDict() for r in tableio.audit_frame(sink, partition_cols, id_col).collect()]


def _footer_audit(path, df, partition_cols, id_col="id"):
    return tableio.footer_audit(path, partition_cols, id_col, df.schema)


def test_footer_audit_orders_non_ascii_ids_as_spark(spark, tmp_path):
    """Parquet's UTF8 min/max order (unsigned bytes) is Spark's string
    order: over several files per partition, the footers give Spark's
    ``min``/``max`` of ids from one- to four-byte UTF-8 characters."""
    ids = ["a", "z", "~", "é", "ÿ", "Ā", "Ω", "中", "\uffff", "😀", "Z", "ё"]
    rows = [(s + str(k), k % 2) for k in range(3) for s in ids]
    df = spark.createDataFrame(rows, "id string, part int").repartition(4)
    path = str(tmp_path / "t")
    tableio.write_partitioned(df, path, ["part"])
    want = _spark_audit(spark, path, df, ["part"])
    assert len(want) == 2
    assert tableio.same_audit(_footer_audit(path, df, ["part"]), want)
    # a four-byte character sorts above U+FFFF in UTF-8 bytes (and in
    # code points), below it in UTF-16 units: the order is exercised
    assert {r["max_id"][0] for r in want} == {"😀"}


def test_footer_audit_decodes_a_file_without_statistics(spark, tmp_path):
    """A file whose footer has no min/max for the id column has that
    column decoded: parquet-mr leaves them out for values over 4 KiB,
    and a writer may leave them out altogether."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame([("L" * 5000, 0), ("M", 0), ("A", 1)], "id string, part int")
    path = str(tmp_path / "t")
    tableio.write_partitioned(df.coalesce(1), path, ["part"])
    long_file = next(pathlib.Path(path, "part=0").glob("*.parquet"))
    assert not pq.ParquetFile(long_file).metadata.row_group(0).column(0).statistics.has_min_max
    # a second file in part=1, written with no statistics at all
    pq.write_table(
        pa.table({"id": ["B", None, "0"]}), str(tmp_path / "t" / "part=1" / "nostats.parquet"),
        write_statistics=False,
    )
    got = _footer_audit(path, df, ["part"])
    assert tableio.same_audit(got, _spark_audit(spark, path, df, ["part"]))
    assert sorted((r["part"], r["rows"], r["min_id"], r["max_id"]) for r in got) == [
        (0, 2, "L" * 5000, "M"), (1, 4, "0", "B"),
    ]


def test_footer_audit_unescapes_partition_values(spark, tmp_path):
    """String partition values come back from Hive-escaped directory
    names (``a%2Fb%3Ac``), and null and empty ones from
    ``__HIVE_DEFAULT_PARTITION__``; the int ``part`` of ``_df`` is cast
    to the recorded type."""
    values = ["a/b:c", "%25 =#", "ü", None, "", "x?y*z"]
    rows = [(f"Q{i}", values[i % len(values)]) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, p string")
    path = str(tmp_path / "t")
    tableio.write_partitioned(df, path, ["p"])
    assert "p=a%2Fb%3Ac" in os.listdir(path)
    got = _footer_audit(path, df, ["p"])
    assert tableio.same_audit(got, _spark_audit(spark, path, df, ["p"]))
    assert {r["p"] for r in got} == {"a/b:c", "%25 =#", "ü", None, "x?y*z"}

    path, record = _sink(tmp_path, _df(spark), name="ints")
    got = tableio.footer_audit(path, ["part"], "id", StructType.fromJson(record["schema"]))
    assert sorted(r["part"] for r in got) == [0, 1, 2, 3]
    assert tableio.same_audit(got, record["audit"])


def _input_files(spark, path, schema):
    """``inputFiles()`` of ``path`` read with ``schema``, as local paths."""
    from urllib.parse import unquote, urlparse

    files = spark.read.schema(schema).parquet(path).inputFiles()
    return sorted(unquote(urlparse(u).path) for u in files)


def test_footer_audit_reads_the_files_spark_reads(spark, tmp_path):
    """The audited files are those ``inputFiles()`` names: a writer's
    ``_temporary/`` directory, ``.crc`` checksums, ``_SUCCESS`` and a
    ``._COPYING_`` upload are not data, and Spark does list a
    ``_metadata`` summary."""
    import shutil

    path, record = _sink(tmp_path, _df(spark))
    parts = sorted(str(p) for p in pathlib.Path(path).rglob("part-*.parquet"))
    part = parts[0]
    names = [p.name for p in pathlib.Path(path).rglob("*")]
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    junk = ("_temporary/0/part-x.parquet", "part=1/x.parquet._COPYING_", "part=0/_metadata")
    for name in junk:
        os.makedirs(os.path.dirname(os.path.join(path, name)), exist_ok=True)
        shutil.copy(part, os.path.join(path, name))
    schema = _df(spark).schema
    summary = os.path.join(path, "part=0/_metadata")
    assert tableio.data_files(path) == _input_files(spark, path, schema) == sorted(parts + [summary])
    os.remove(summary)
    assert tableio.data_files(path) == _input_files(spark, path, schema) == parts
    assert tableio.check_recorded(path, record, ["part"], "id")


@pytest.mark.parametrize(
    "partition_cols", [[], ["part"]], ids=["unpartitioned", "part"]
)
def test_footer_audit_of_empty_sink(spark, tmp_path, partition_cols):
    """An empty sink audits as no rows: unpartitioned it holds one
    zero-row part file, partitioned none."""
    df = _df(spark, 10).filter(F.lit(False))
    path = str(tmp_path / "empty")
    tableio.write_partitioned(df, path, partition_cols)
    assert len(tableio.data_files(path)) == (0 if partition_cols else 1)
    assert tableio.data_files(path) == _input_files(spark, path, df.schema)
    assert tableio.footer_audit(path, partition_cols, "id", df.schema) == []
