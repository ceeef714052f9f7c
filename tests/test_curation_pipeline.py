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
    # split-partitioned sink + audit sidecar on disk
    assert any(d.startswith("split=") for d in os.listdir(out + "/corpus"))


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

    # kill-after-pack simulation: commit a log version without the
    # finalize record, re-run, the final stage recomputes to an
    # identical corpus
    version, snapshot = checkpoint.head(out + "/_log")
    del snapshot["finalize"]
    checkpoint.commit(out + "/_log", version + 1, snapshot)
    shutil.rmtree(out + "/corpus")
    resumed = CurationPipeline(spark, out, max_len=64).run(docs)
    assert resumed == first
    back = pipe.corpus().toPandas().sort_values("doc_id").reset_index(drop=True)
    assert back.equals(golden)


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
