"""Chunk-granular resumability (reference file-granular state parity)."""

from __future__ import annotations

import pytest

from wikidata_pq_spark import oracle
from wikidata_pq_spark.pipeline import ChunkedKGPipeline

KEYS = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def _tset(df):
    return set(map(tuple, df.select(*KEYS).toPandas().values))


def test_chunked_equals_oracle(spark, spark_corpus, corpus, tmp_path):
    pipe = ChunkedKGPipeline(spark, str(tmp_path / "kg"), n_chunks=4)
    lineage = pipe.run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
    )
    golden = oracle.oracle_triples(
        corpus["transcripts"], corpus["alias_dict"], corpus["same_as"]
    )
    got = pipe.triples().select("subj", "pred", "obj").toPandas()
    p, r = oracle.precision_recall(got, golden)
    assert (p, r) == (1.0, 1.0)
    assert sum(lineage.values()) == pipe.triples().count()
    assert len(lineage) == 4
    lin = spark.read.parquet(str(tmp_path / "kg" / "lineage")).toPandas()
    assert dict(zip(lin["chunk"], lin["rows"])) == lineage


def test_kill_and_resume_identical(spark, spark_corpus, tmp_path):
    out = str(tmp_path / "kg")
    clean = ChunkedKGPipeline(spark, str(tmp_path / "clean"), n_chunks=4)
    clean.run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
    )
    expected = _tset(clean.triples())

    pipe = ChunkedKGPipeline(spark, out, n_chunks=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(
            spark_corpus["transcripts"],
            spark_corpus["alias_dict"],
            spark_corpus["same_as"],
            fail_after_chunk=1,
        )
    assert pipe.incomplete() == ["chunk_00002", "chunk_00003"]

    # resume: only the incomplete chunks run; output identical to clean
    pipe2 = ChunkedKGPipeline(spark, out, n_chunks=4)
    lineage = pipe2.run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
    )
    assert pipe2.incomplete() == []
    assert _tset(pipe2.triples()) == expected
    assert len(lineage) == 4


def test_per_chunk_audit_sidecars_post_check(spark, spark_corpus, tmp_path):
    """Per-(chunk x bucket) sidecars (the reference's per-source x table
    sidecar keying, reference: partitioning/core.py:14-35) survive a
    kill/resume and post-check against the sinks."""
    out = str(tmp_path / "kg")
    pipe = ChunkedKGPipeline(spark, out, n_chunks=4, n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(
            spark_corpus["transcripts"],
            spark_corpus["alias_dict"],
            spark_corpus["same_as"],
            fail_after_chunk=1,
        )
    # completed chunks already post-check mid-crash; incomplete are skipped
    assert pipe.post_check()

    pipe2 = ChunkedKGPipeline(spark, out, n_chunks=4, n_buckets=4)
    pipe2.run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
    )
    assert pipe2.post_check()
    # sidecars carry the chunk unit and bucket key with rows/min/max
    audit = spark.read.option("basePath", out + "/audit").parquet(out + "/audit/chunk=*")
    pdf = audit.toPandas()
    assert {"chunk", "bucket", "rows", "min_id", "max_id"} <= set(pdf.columns)
    assert set(pdf["chunk"]) == {0, 1, 2, 3}
    # sidecar row totals == lineage row totals per chunk
    lin = spark.read.parquet(out + "/lineage").toPandas()
    got = pdf.groupby("chunk")["rows"].sum().to_dict()
    assert {int(k): int(v) for k, v in got.items()} == dict(
        zip(lin["chunk"], lin["rows"])
    )
    # tamper -> post-check fails
    import pathlib

    victim = next(pathlib.Path(out, "triples", "chunk=0").rglob("*.parquet"))
    victim.unlink()
    assert not pipe2.post_check()


def test_chunks_partition_conversations(spark, spark_corpus):
    chunked = spark_corpus["transcripts"].withColumn(
        "c", ChunkedKGPipeline.chunk_col(4)
    )
    # every conversation maps to exactly one chunk
    multi = (
        chunked.groupBy("conv_id")
        .agg({"c": "approx_count_distinct"})
        .filter("`approx_count_distinct(c)` > 1")
    )
    assert multi.count() == 0


def test_staged_chunks_layout_and_rerun_skip(spark, spark_corpus, tmp_path):
    """The corpus is staged once as one partition per chunk, and staging
    is itself resumable (skipped on re-run)."""
    import os
    import time

    a = ChunkedKGPipeline(spark, str(tmp_path / "staged"), n_chunks=4)
    a.run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
    )
    # staged dir exists with one partition per chunk
    parts = sorted(os.listdir(str(tmp_path / "staged" / "staged")))
    assert [p for p in parts if p.startswith("_chunk=")] == [
        f"_chunk={i}" for i in range(4)
    ]
    # re-run: staging gate skips the write (mtime unchanged)
    stamp = os.path.getmtime(str(tmp_path / "staged" / "staged"))
    time.sleep(1.1)
    a2 = ChunkedKGPipeline(spark, str(tmp_path / "staged"), n_chunks=4)
    a2.run(
        spark_corpus["transcripts"], spark_corpus["alias_dict"], spark_corpus["same_as"]
    )
    assert os.path.getmtime(str(tmp_path / "staged" / "staged")) == stamp


def test_empty_chunks_survive(spark, tmp_path):
    """A tiny/skewed corpus leaves some chunks with zero conversations:
    partitionBy writes no staged directory for them and their triples
    write is empty. The run must complete, record rows=0 lineage for the
    empty chunks, and post_check must pass."""
    from wikidata_pq_spark import datagen

    tr = datagen.gen_transcripts(n_convs=3, mean_turns=6, n_entities=50)
    tdf = spark.createDataFrame(tr)
    adf = spark.createDataFrame(datagen.gen_entities(50))
    sdf = spark.createDataFrame(datagen.gen_same_as(50))
    pipe = ChunkedKGPipeline(spark, str(tmp_path / "kg"), n_chunks=16)
    lineage = pipe.run(tdf, adf, sdf)
    assert len(lineage) == 16
    assert sum(1 for v in lineage.values() if v == 0) > 0  # exercises empties
    assert pipe.post_check()
    assert len(_tset(pipe.triples())) > 0


def test_resume_refuses_pre_ts_sink(spark, spark_corpus, tmp_path):
    """A sink written by the pre-wall-clock schema (no ts column) must
    refuse to resume: mixing 5- and 6-column chunk footers would make
    plain parquet reads silently drop ts or null it for old chunks."""
    import pandas as pd

    out = str(tmp_path / "kg")
    old = pd.DataFrame(
        [("Q1", "likes", "Q2", "c1", 1)],
        columns=["subj", "pred", "obj", "conv_id", "turn_idx"],
    )
    spark.createDataFrame(old).write.parquet(out + "/triples/chunk=0/bucket=0")
    pipe = ChunkedKGPipeline(spark, out, n_chunks=4)
    with pytest.raises(RuntimeError, match="WITHOUT the ts column"):
        pipe.run(
            spark_corpus["transcripts"],
            spark_corpus["alias_dict"],
            spark_corpus["same_as"],
        )
