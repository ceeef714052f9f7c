"""End-to-end pipeline: P/R vs oracle, resume semantics, audits."""

from __future__ import annotations

import glob
import json
import os
import pathlib

from wikidata_pq_spark import oracle
from wikidata_pq_spark.pipeline import KGPipeline
from wikidata_pq_spark.plans import checkpoint
from wikidata_pq_spark.plans.checkpoint import StateStore, Step


def _run(spark, c, out_dir, **kw):
    pipe = KGPipeline(spark, str(out_dir), **kw)
    metrics = pipe.run(c["transcripts"], c["alias_dict"], c["same_as"])
    return pipe, metrics


def _triple_set(pipe):
    pdf = pipe.triples().select("subj", "pred", "obj", "conv_id", "turn_idx").toPandas()
    return set(map(tuple, pdf.values))


def test_end_to_end_pr(spark, parquet_corpus, corpus, tmp_path):
    pipe, metrics = _run(spark, parquet_corpus, tmp_path / "kg")
    got = pipe.triples().select("subj", "pred", "obj").toPandas()
    golden = oracle.oracle_triples(
        corpus["transcripts"], corpus["alias_dict"], corpus["same_as"]
    )
    p, r = oracle.precision_recall(got, golden)
    assert p >= 0.95 and r >= 0.95  # BASELINE target; in practice 1.0
    assert p == 1.0 and r == 1.0
    assert metrics["mentions"] > 0
    # mentions link straight to canonical ids: no linked stage table
    assert not os.path.exists(tmp_path / "kg" / "linked")
    assert metrics["linked"] == pipe.triples().count()
    # the triple set is stored once, as the audited edges
    assert not os.path.exists(tmp_path / "kg" / "triples")
    assert "chunk" not in pipe.triples().columns
    audit = pipe.state.metrics("chunk_00000")["audit"]
    assert audit["rows"] == metrics["linked"]
    assert metrics["nodes"] == pipe.nodes().count()
    assert pipe.state.metrics("corpus")["audit"]["rows"] == metrics["nodes"]
    assert StateStore(str(tmp_path / "kg" / "_log")).get("corpus") == Step.COMPLETE
    assert not os.path.exists(tmp_path / "kg" / "_state")


def test_resume_mid_pipeline_identical(spark, parquet_corpus, tmp_path):
    out = tmp_path / "kg"
    pipe, _ = _run(spark, parquet_corpus, out)
    before = _triple_set(pipe)
    # simulate a crash after LINKED: later stages must re-run, earlier skip
    log = str(out / "_log" / "corpus")
    version, record = checkpoint.head(log)
    checkpoint.commit(log, version + 1, {**record, "step": int(Step.LINKED)})
    pipe2, _ = _run(spark, parquet_corpus, out)
    assert _triple_set(pipe2) == before
    # the resume re-ran every corpus stage after LINKED, one new
    # version each, and no chunk's log moved from its plan and LINKED
    done = [Step.CANONICALIZED, Step.MATERIALIZED, Step.VERIFIED, Step.COMPLETE]
    assert _steps(log) == done + [Step.LINKED] + done
    assert [_steps(str(out / "_log" / u)) for u in pipe2.units()] == [
        [Step.INIT, Step.LINKED]
    ]


def test_complete_run_is_noop(spark, parquet_corpus, tmp_path):
    out = tmp_path / "kg"
    _run(spark, parquet_corpus, out)
    mtimes = {
        p: os.path.getmtime(os.path.join(str(out), p))
        for p in os.listdir(str(out))
        if not p.startswith("_")
    }
    versions = _log_versions(out)
    assert versions
    _run(spark, parquet_corpus, out)
    for p, t in mtimes.items():
        assert os.path.getmtime(os.path.join(str(out), p)) == t
    # every gate was closed and every record unchanged: no new log version
    assert _log_versions(out) == versions


def _steps(log):
    """The step of each committed version of one unit's log, oldest first."""
    paths = sorted(glob.glob(os.path.join(log, "*.json")))
    return [json.loads(pathlib.Path(p).read_text())["step"] for p in paths]


def _log_versions(out):
    """Every committed version file across the units' logs, ``_log/*/``."""
    return sorted(glob.glob(str(out / "_log" / "*" / "*.json")))


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_edges_layout_and_audit(spark, parquet_corpus, tmp_path):
    """Chunks are the only partition level: ``edges/chunk=i`` and
    ``nodes`` hold their parquet files directly, no ``*_audit`` table
    is written, and each chunk's record holds the (rows, min_id,
    max_id) of its slice of ``edges``."""
    out = tmp_path / "kg"
    pipe, _ = _run(spark, parquet_corpus, out, n_chunks=4)
    assert _parquet_files(out / "edges" / "chunk=0")
    assert _parquet_files(out / "nodes")
    assert [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(out)
        for d in dirs if d.startswith("bucket=") or d.endswith("_audit")
    ] == []
    edges = pipe.edges().toPandas()
    for i, u in enumerate(pipe.units()):
        audit = pipe.state.metrics(u)["audit"]
        subj = edges.loc[edges["chunk"] == i, "subj"]
        assert audit["rows"] == len(subj) == pipe.state.metrics(u)["linked"]
        if len(subj):
            assert (audit["min_id"], audit["max_id"]) == (subj.min(), subj.max())
