"""Table IO (partitioned writes + recorded audit rows) and checkpoint store."""

from __future__ import annotations

import pathlib
import sys
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

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
    assert tableio.check_recorded(spark, path, record, ["part"], "id")
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
    assert not tableio.check_recorded(spark, path, record, ["part"], "id")


def test_post_check_is_multiset_exact(spark, tmp_path):
    """A duplicated or dropped recorded row, or a lost part file, fails."""
    edits = {
        "duplicated": lambda rows: rows + rows[:1],
        "dropped": lambda rows: rows[1:],
    }
    for name, edit in edits.items():
        path, record = _sink(tmp_path, _df(spark), name=name)
        record["audit"] = edit(record["audit"])
        assert not tableio.check_recorded(spark, path, record, ["part"], "id"), name

    path, record = _sink(tmp_path, _df(spark), name="lost_file")
    next(pathlib.Path(path).rglob("*.parquet")).unlink()
    assert not tableio.check_recorded(spark, path, record, ["part"], "id")


@pytest.mark.classic_session_only
def test_post_check_job_count(spark, tmp_path):
    """On a 4-partition sink the post-check runs at most 2 jobs: the
    aggregation over the sink and its collect. The read takes the
    recorded schema, so it runs no schema-inference job, the recorded
    rows are read from the log, not from a table, and there are no set
    differences."""
    path, record = _sink(tmp_path, _df(spark))
    sc = spark.sparkContext
    sc.setJobGroup("post_check_jobs", "post_check_jobs")
    try:
        assert tableio.check_recorded(spark, path, record, ["part"], "id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus: drain
    # it so every job that ran is counted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("post_check_jobs")) <= 2


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
    assert not tableio.check_recorded(spark, path, record, ["part"], "id")


def test_post_check_missing_audit(spark, tmp_path):
    """A sink that is not on disk fails its recorded audit."""
    _, record = _sink(tmp_path, _df(spark))
    nope = str(tmp_path / "nope")
    assert not tableio.check_recorded(spark, nope, record, ["part"], "id")


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
    assert tableio.check_recorded(spark, path, record, partition_cols, "id") is True
