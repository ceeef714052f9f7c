"""Launch-mode test: spark-submit --py-files zip runs the pipeline.

The north rule's launch requirement, exercised for real: package the
library, submit the job as a fresh spark-submit process (no repo on
sys.path), assert it completes and outputs verify.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from wikidata_pq_spark import datagen

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit missing")
def test_spark_submit_pyfiles(spark, tmp_path):
    sys.path.insert(0, str(REPO / "tools"))
    from build_pyfiles import build

    zip_path = build(tmp_path / "pkg.zip")

    data = tmp_path / "data"
    spark.createDataFrame(
        datagen.gen_transcripts(n_convs=30, mean_turns=5, n_entities=80)
    ).write.parquet(str(data / "transcripts"))
    spark.createDataFrame(datagen.gen_entities(80)).write.parquet(
        str(data / "alias_dict")
    )
    spark.createDataFrame(datagen.gen_same_as(80)).write.parquet(str(data / "same_as"))

    out = tmp_path / "kg_out"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "run_pipeline.py"),
            "--transcripts", str(data / "transcripts"),
            "--alias-dict", str(data / "alias_dict"),
            "--same-as", str(data / "same_as"),
            "--out", str(out),
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    status = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert status["status"] == "complete"
    assert (out / "edges").exists() and not list(out.glob("*_audit"))
    assert spark.read.parquet(str(out / "edges")).count() > 0


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit missing")
def test_spark_submit_pyfiles_multi_executor(spark, tmp_path):
    """The north rule verbatim: spark-submit --py-files on a
    MULTI-EXECUTOR cluster. local-cluster[2,2,1024] launches two real
    executor JVMs; unlike local[N], the --py-files zip must actually
    ship to executors and the shuffle serializes between JVMs, so this
    exercises the packaging + deploy path a real cluster uses."""
    sys.path.insert(0, str(REPO / "tools"))
    from build_pyfiles import build

    zip_path = build(tmp_path / "pkg.zip")

    data = tmp_path / "data"
    spark.createDataFrame(
        datagen.gen_transcripts(n_convs=30, mean_turns=5, n_entities=80)
    ).write.parquet(str(data / "transcripts"))
    spark.createDataFrame(datagen.gen_entities(80)).write.parquet(
        str(data / "alias_dict")
    )
    spark.createDataFrame(datagen.gen_same_as(80)).write.parquet(str(data / "same_as"))

    out = tmp_path / "kg_out"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local-cluster[2,2,1024]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.executor.memory=1g",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "run_pipeline.py"),
            "--transcripts", str(data / "transcripts"),
            "--alias-dict", str(data / "alias_dict"),
            "--same-as", str(data / "same_as"),
            "--out", str(out),
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    status = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert status["status"] == "complete"
    assert (out / "edges").exists() and not list(out.glob("*_audit"))
    # the multi-executor run's triples (stored as edges) equal the local
    # run's semantics: non-empty and readable from a fresh session
    assert spark.read.parquet(str(out / "edges")).count() > 0


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit missing")
def test_spark_submit_maintain_beliefs_incremental(spark, tmp_path):
    """The belief-maintenance job drains available triple files per
    submission and is INCREMENTAL across submissions: the second
    spark-submit processes only the newly-arrived file (one new epoch
    partition), and the reduced view equals the batch operator over the
    full history both times."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    sys.path.insert(0, str(REPO / "tools"))
    from build_pyfiles import build

    zip_path = build(tmp_path / "pkg.zip")
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "ts"]

    def mk(rows):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return spark.createDataFrame(pdf)

    f1 = mk([
        ("Q1", "lives_in", "paris", "c1", 2, "2024-01-01 10:00:00"),
        ("Q2", "works_at", "acme", "c2", 1, "2024-02-01 08:00:00"),
    ])
    f2 = mk([
        ("Q1", "lives_in", "tokyo", "c3", 1, "2024-03-01 09:00:00"),
    ])
    src = tmp_path / "triples_in"
    f1.coalesce(1).write.mode("append").parquet(str(src))

    out, ckpt, view = tmp_path / "partials", tmp_path / "ckpt", tmp_path / "view"

    def submit(*extra):
        proc = subprocess.run(
            [
                "spark-submit",
                "--master", "local[4]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--py-files", str(zip_path),
                str(REPO / "jobs" / "maintain_beliefs.py"),
                "--triples-in", str(src),
                "--out", str(out),
                "--checkpoint", str(ckpt),
                "--view-out", str(view),
                *extra,
            ],
            capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(
            [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        )

    def epochs():
        return {p.name for p in Path(out).glob("epoch=*")}

    status = submit()
    assert status["status"] == "complete" and status["view_rows"] == 2
    first_epochs = epochs()
    got1 = spark.read.parquet(str(view)).toPandas().set_index(["subj", "pred"])
    assert got1.loc[("Q1", "lives_in"), "obj"] == "paris"

    # a new file arrives; re-submission processes ONLY it
    f2.coalesce(1).write.mode("append").parquet(str(src))
    status = submit()
    assert status["view_rows"] == 2
    new_epochs = epochs() - first_epochs
    assert len(new_epochs) == 1  # incremental: exactly one new partial
    got2 = (
        spark.read.parquet(str(view)).toPandas().set_index(["subj", "pred"])
    )
    full = (
        graph.current_beliefs(f1.unionByName(f2))
        .toPandas().set_index(["subj", "pred"])
    )
    assert got2.loc[("Q1", "lives_in"), "obj"] == "tokyo"
    for col in ["obj", "last_ts", "last_conv_id", "last_turn_idx"]:
        assert (got2[col].sort_index() == full[col].sort_index()).all(), col

    # --compact (r6): a maintenance submission reduces the epoch
    # partials into one generation; the view is unchanged
    status = submit("--compact")
    assert status["compaction"]["compacted"] >= 2
    assert epochs() == {f"epoch={status['compaction']['generation']}"}
    got3 = (
        spark.read.parquet(str(view)).toPandas().set_index(["subj", "pred"])
    )
    for col in ["obj", "last_ts", "last_conv_id", "last_turn_idx"]:
        assert (got3[col].sort_index() == full[col].sort_index()).all(), col
