"""Resumable curation pipeline: stage outputs, checkpoint resume,
audited final sink, and the spark-submit job."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF), reason="driver testdata not present"
)


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_curation_pipeline_end_to_end(spark, docs, tmp_path):
    from wikidata_pq_spark.curation_pipeline import CurationPipeline

    out = str(tmp_path / "cur")
    pipe = CurationPipeline(spark, out, quality_min=0.3, rep_max=0.5, max_len=64)
    metrics = pipe.run(docs)

    n_docs = docs.count()
    assert metrics["redacted"] == n_docs          # redaction keeps all rows
    assert 0 < metrics["curated"] <= n_docs       # gates drop some
    assert metrics["packed"] == metrics["curated"]
    assert metrics["final"] == metrics["curated"]
    assert metrics["verified"] is True

    corpus = pipe.corpus().toPandas()
    assert set(corpus["split"]) <= {"train", "val", "test"}
    assert (corpus["n_chunks"] >= 1).all()
    # split-partitioned sink; its audit rows are in the finalize
    # record, one per split, and no sidecar table is written
    assert any(d.startswith("split=") for d in os.listdir(out + "/corpus"))
    assert not os.path.exists(out + "/corpus_audit")
    audit = pipe.state.metrics("finalize")["audit"]
    by_split = corpus.groupby("split")["doc_id"]
    assert sorted((r["split"], r["rows"], r["min_id"], r["max_id"]) for r in audit) == sorted(
        zip(by_split.size().index, by_split.size(), by_split.min(), by_split.max())
    )
    assert sum(r["rows"] for r in audit) == metrics["final"]


def test_dropped_corpus_row_fails_finalize(spark, docs, tmp_path, monkeypatch):
    """A writer that loses one row of ``corpus`` must fail ``finalize``:
    the recorded audit rows are those of the frame the write was given,
    not a re-read of what reached the disk."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wikidata_pq_spark.curation_pipeline import CurationPipeline
    from wikidata_pq_spark.plans.checkpoint import Step
    from wikidata_pq_spark.sources import tableio

    write = tableio.write_partitioned

    def drop_one_row(df, path, partition_cols):
        first = F.row_number().over(Window.orderBy("doc_id"))
        write(df.withColumn("_n", first).filter("_n > 1").drop("_n"), path, partition_cols)

    monkeypatch.setattr(tableio, "write_partitioned", drop_one_row)
    pipe = CurationPipeline(spark, str(tmp_path / "cur"), max_len=64)
    with pytest.raises(RuntimeError, match="failed post-check"):
        pipe.run(docs)
    assert pipe.state.get("pack") == Step.COMPLETE
    assert pipe.state.get("finalize") == Step.INIT


def test_curation_pipeline_resume_skips_and_recomputes(spark, docs, tmp_path):
    from wikidata_pq_spark.curation_pipeline import CurationPipeline
    from wikidata_pq_spark.plans import checkpoint

    out = str(tmp_path / "cur")
    pipe = CurationPipeline(spark, out, max_len=64)
    first = pipe.run(docs)
    golden = pipe.corpus().toPandas().sort_values("doc_id").reset_index(drop=True)

    # full re-run is a no-op: all gates closed, outputs untouched
    mtime = os.path.getmtime(out + "/corpus")
    again = CurationPipeline(spark, out, max_len=64).run(docs)
    assert again == first
    assert os.path.getmtime(out + "/corpus") == mtime

    # kill-after-pack simulation: commit a finalize version back at
    # INIT, re-run, the final stage recomputes to an identical corpus
    version = checkpoint.head(out + "/_log/finalize")[0]
    checkpoint.commit(out + "/_log/finalize", version + 1, {"step": 0})
    shutil.rmtree(out + "/corpus")
    resumed = CurationPipeline(spark, out, max_len=64).run(docs)
    assert resumed == first
    back = pipe.corpus().toPandas().sort_values("doc_id").reset_index(drop=True)
    assert back.equals(golden)


def _jobs_in_group(sc, group: str, fn):
    """Run ``fn`` under job group ``group``; its result and job count."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus: drain
    # it so a job that already ran is counted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.classic_session_only
def test_curation_reads_build_without_jobs(spark, docs, tmp_path):
    """Each stage records the schema it wrote and every read takes it
    from there: a completed re-run and ``corpus()`` launch no Spark job
    (a schema-inferring read would launch one per table)."""
    from wikidata_pq_spark.curation_pipeline import CurationPipeline

    out = str(tmp_path / "cur")
    first = CurationPipeline(spark, out, max_len=64).run(docs)
    pipe = CurationPipeline(spark, out, max_len=64)
    sc = spark.sparkContext
    again, jobs = _jobs_in_group(sc, "curation_rerun", lambda: pipe.run(docs))
    assert again == first and jobs == 0
    corpus, jobs = _jobs_in_group(sc, "curation_corpus", pipe.corpus)
    assert jobs == 0
    assert set(corpus.columns) >= {"doc_id", "lang", "split", "n_chunks"}


@pytest.mark.classic_session_only
def test_curation_finalize_job_count(spark, docs, tmp_path):
    """``finalize`` runs at most 5 jobs, the write and the collect of its
    per-split audit rows: the post-check reads the sink's Parquet
    footers on the driver (7 jobs when it aggregated over the sink, 8
    with a sidecar table)."""
    from wikidata_pq_spark.curation_pipeline import CurationPipeline
    from wikidata_pq_spark.plans import checkpoint

    out = str(tmp_path / "cur")
    first = CurationPipeline(spark, out, max_len=64).run(docs)
    # rewind finalize only: the earlier stages stay complete
    version = checkpoint.head(out + "/_log/finalize")[0]
    checkpoint.commit(out + "/_log/finalize", version + 1, {"step": 0})
    pipe = CurationPipeline(spark, out, max_len=64)
    again, jobs = _jobs_in_group(spark.sparkContext, "curation_finalize", lambda: pipe.run(docs))
    assert again == first
    assert jobs <= 5


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit missing")
def test_curate_corpus_spark_submit(tmp_path):
    sys.path.insert(0, str(REPO / "tools"))
    from build_pyfiles import build

    zip_path = build(tmp_path / "pkg.zip")
    out = tmp_path / "cur_out"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "curate_corpus.py"),
            "--documents", f"{SF}/documents.parquet",
            "--out", str(out),
            "--max-len", "64",
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    status = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert status["status"] == "complete" and status["verified"] is True
