"""Chunk-granular resumability (reference file-granular state parity)."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from wikidata_pq_spark import datagen, oracle, pipeline
from wikidata_pq_spark.operators import canonicalize
from wikidata_pq_spark.pipeline import KGPipeline
from wikidata_pq_spark.plans import checkpoint
from wikidata_pq_spark.plans.checkpoint import StateStore, Step
from wikidata_pq_spark.sources import tableio

KEYS = ["subj", "pred", "obj", "conv_id", "turn_idx"]


class Killed(RuntimeError):
    """Raised by the crash hook to simulate a killed run."""


def _tset(df):
    return set(map(tuple, df.select(*KEYS).toPandas().values))


def _run(pipe, c):
    return pipe.run(c["transcripts"], c["alias_dict"], c["same_as"])


def _golden(corpus):
    """The oracle's triples, as ``_tset`` gives a store's."""
    golden = oracle.oracle_triples(
        corpus["transcripts"], corpus["alias_dict"], corpus["same_as"]
    )
    return set(map(tuple, golden[KEYS].values))


def _first_files(spark, parquet_corpus, k=4):
    """``parquet_corpus`` with only the first ``k`` of its sorted files:
    the input before the rest arrived."""
    files = sorted(parquet_corpus["transcripts"].inputFiles())
    return {**parquet_corpus, "transcripts": spark.read.parquet(*files[:k])}


def _names(parquet_corpus):
    """The input's sorted file names: what a plan records of its files,
    relative to the listing's directory."""
    return sorted(os.path.basename(f) for f in parquet_corpus["transcripts"].inputFiles())


@contextlib.contextmanager
def _crash_after(unit: str, step: Step, before: bool = False):
    """Make ``StateStore.set`` raise right after it records ``step`` for
    ``unit`` -- the crash hook the benchmark's kill/resume uses -- or,
    ``before``, in place of recording it."""
    orig = StateStore.set

    def set_then_crash(store, u, s, **metrics):
        if not (before and (u, s) == (unit, step)):
            orig(store, u, s, **metrics)
        if (u, s) == (unit, step):
            raise Killed(f"killed after {unit} {step.name}")

    StateStore.set = set_then_crash
    try:
        yield
    finally:
        StateStore.set = orig


def _chunk_rows(spark, out):
    """Per-chunk (rows, min_id, max_id) recomputed from ``edges``."""
    pdf = (
        spark.read.parquet(os.path.join(out, "edges"))
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("rows"), F.min("subj"), F.max("subj"))
        .toPandas()
    )
    return {int(r[0]): (int(r[1]), r[2], r[3]) for r in pdf.itertuples(index=False)}


def _recorded_rows(pipe):
    """Per-chunk audit rows the chunk records hold, non-empty chunks only."""
    audits = [pipe.state.metrics(u)["audit"] for u in pipe.units()]
    return {
        i: (a["rows"], a["min_id"], a["max_id"])
        for i, a in enumerate(audits) if a["rows"]
    }


def _audit_dirs(out):
    return [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(out) for d in dirs if d.endswith("_audit")
    ]


def test_chunked_equals_oracle(spark, parquet_corpus, corpus, tmp_path):
    pipe = KGPipeline(spark, str(tmp_path / "kg"), n_chunks=4)
    metrics = _run(pipe, parquet_corpus)
    golden = oracle.oracle_triples(
        corpus["transcripts"], corpus["alias_dict"], corpus["same_as"]
    )
    got = pipe.triples().select("subj", "pred", "obj").toPandas()
    p, r = oracle.precision_recall(got, golden)
    assert (p, r) == (1.0, 1.0)
    assert metrics["linked"] == pipe.triples().count()
    assert metrics["nodes"] == pipe.nodes().count()
    # per-chunk rows: the state records and the edges on disk agree
    per_chunk = {i: pipe.state.metrics(u)["linked"] for i, u in enumerate(pipe.units())}
    assert sum(per_chunk.values()) == metrics["linked"]
    assert _chunk_rows(spark, str(tmp_path / "kg")) == _recorded_rows(pipe)
    assert pipe.state.get("corpus") == Step.COMPLETE
    # each chunk records the link join its alias dictionary's estimate chose
    link = canonicalize.link_join(parquet_corpus["alias_dict"])
    assert link["link_join"] == "broadcast" and link["link_estimated_bytes"] > 0
    assert all({k: pipe.state.metrics(u)[k] for k in link} == link for u in pipe.units())


@pytest.mark.parametrize("n_chunks", [1, 4])
def test_kill_and_resume_identical(spark, parquet_corpus, tmp_path, n_chunks, monkeypatch):
    clean = KGPipeline(spark, str(tmp_path / "clean"), n_chunks=n_chunks)
    _run(clean, parquet_corpus)
    expected = _tset(clean.triples())

    cc_calls = []
    cc = canonicalize.write_components
    monkeypatch.setattr(
        canonicalize, "write_components",
        lambda same_as, path: cc_calls.append(1) or cc(same_as, path),
    )
    out = str(tmp_path / "kg")
    pipe = KGPipeline(spark, out, n_chunks=n_chunks)
    kill = (n_chunks - 1) // 2  # the middle chunk: some done, some not
    with _crash_after(f"chunk_{kill:05d}", Step.LINKED), pytest.raises(Killed):
        _run(pipe, parquet_corpus)
    assert [pipe.state.get(u) for u in pipe.units()] == (
        [Step.LINKED] * (kill + 1) + [Step.INIT] * (n_chunks - kill - 1)
    )
    # the components are a stage of the corpus unit, done before any chunk
    assert pipe.state.get("corpus") == Step.CANONICALIZED

    # resume: only the unfinished units run; output identical to clean
    pipe2 = KGPipeline(spark, out, n_chunks=n_chunks)
    metrics = _run(pipe2, parquet_corpus)
    assert pipe2.state.get("corpus") == Step.COMPLETE
    assert _tset(pipe2.triples()) == expected
    # the crashed run computed the components; the resume reused them
    assert len(cc_calls) == 1
    assert metrics == _run(clean, parquet_corpus)
    assert len(cc_calls) == 1  # a completed store re-runs without CC


def test_components_crash_before_rename_resumes(
    spark, parquet_corpus, corpus, tmp_path, monkeypatch
):
    """The driver writes ``components`` under a hidden name and renames
    it into place: a run killed between the two leaves no file a reader
    sees and no CANONICALIZED, and the resume rewrites the map and
    completes with the oracle's triples. The corpus record keeps the CC
    path taken, its size estimate and the rows written."""
    import pyarrow.parquet as pq

    write = pq.write_table

    def write_then_die(*args, **kwargs):
        write(*args, **kwargs)
        raise Killed("killed before the rename")

    out = tmp_path / "kg"
    comps = str(out / "components")
    with monkeypatch.context() as m, pytest.raises(Killed):
        m.setattr(pq, "write_table", write_then_die)
        _run(KGPipeline(spark, str(out)), parquet_corpus)
    assert os.listdir(comps) == [".part-00000.parquet.tmp"]
    assert spark.read.schema(canonicalize.COMPONENTS_DDL).parquet(comps).count() == 0
    assert KGPipeline(spark, str(out)).state.get("corpus") == Step.INIT

    pipe = KGPipeline(spark, str(out))
    _run(pipe, parquet_corpus)
    assert pipe.state.get("corpus") == Step.COMPLETE
    assert os.listdir(comps) == ["part-00000.parquet"]
    golden = oracle.oracle_triples(
        corpus["transcripts"], corpus["alias_dict"], corpus["same_as"]
    )
    got = pipe.triples().select("subj", "pred", "obj").toPandas()
    assert oracle.precision_recall(got, golden) == (1.0, 1.0)
    record = pipe.state.metrics("corpus")
    n = len(oracle.union_find_components(corpus["same_as"]))
    assert (record["cc_path"], record["components"]) == ("driver", n)
    assert 0 < record["cc_estimated_bytes"] <= canonicalize.DRIVER_MAX_BYTES


def _triple_rows(pdf):
    """Distinct TRIPLE_COLUMNS rows of ``pdf``, ``ts`` as UTC."""
    return set(
        pdf[oracle.TRIPLE_COLUMNS]
        .assign(ts=lambda d: pd.to_datetime(d["ts"], utc=True))
        .itertuples(index=False, name=None)
    )


def test_resume_across_sink_formats(
    spark, parquet_corpus, corpus, tmp_path, legacy_parquet, parquet_footers
):
    """A store crashed after chunk 0's LINKED while its session wrote the
    legacy Parquet format (snappy, INT96 ts) resumes under the zstd/INT64
    defaults: VERIFIED passes over the mixed edges files, and the
    triples, ts included, equal the oracle's."""
    out = str(tmp_path / "kg")
    with legacy_parquet(), _crash_after("chunk_00000", Step.LINKED), pytest.raises(Killed):
        _run(KGPipeline(spark, out, n_chunks=2), parquet_corpus)
    pipe = KGPipeline(spark, out, n_chunks=2)
    _run(pipe, parquet_corpus)
    assert pipe.state.get("corpus") == Step.COMPLETE  # passed VERIFIED
    edges = os.path.join(out, "edges")
    assert [parquet_footers(f"{edges}/chunk={i}", "ts") for i in (0, 1)] == [
        ({"SNAPPY"}, {"INT96"}), ({"ZSTD"}, {"INT64"})
    ]
    golden = oracle.oracle_triples(
        corpus["transcripts"], corpus["alias_dict"], corpus["same_as"]
    )
    got = pipe.triples().select(*oracle.TRIPLE_COLUMNS).toPandas()
    assert len(got) == len(golden)
    assert _triple_rows(got) == _triple_rows(golden)


def test_per_chunk_audit_records_post_check(spark, parquet_corpus, tmp_path):
    """Each chunk's record keeps the audit row of its edges write (the
    reference's per-source audit keying, reference:
    partitioning/core.py:14-35); the records survive a kill/resume and
    post-check against the sinks."""
    out = str(tmp_path / "kg")
    pipe = KGPipeline(spark, out, n_chunks=4)
    with _crash_after("chunk_00001", Step.LINKED), pytest.raises(Killed):
        _run(pipe, parquet_corpus)
    # the chunks that finished before the kill hold their audit rows
    assert [
        "audit" in pipe.state.metrics(u) for u in pipe.units()
    ] == [True, True, False, False]

    pipe2 = KGPipeline(spark, out, n_chunks=4)
    _run(pipe2, parquet_corpus)
    assert pipe2.post_check()
    assert _audit_dirs(out) == []
    # the recorded (rows, min_id, max_id) == a recompute over edges/chunk=i
    assert _chunk_rows(spark, out) == _recorded_rows(pipe2)
    # tamper -> post-check fails
    import pathlib

    victim = next(pathlib.Path(out, "edges", "chunk=0").rglob("*.parquet"))
    victim.unlink()
    assert not pipe2.post_check()


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(r, n), root)
        for r, dirs, files in os.walk(root) for n in dirs + files
    )


def test_chunks_partition_conversations(spark, spark_corpus, tmp_path):
    """A conversation whose turns lie in two chunks' files would lose
    its coreference across the cut without any error: the run raises,
    naming the remedy, before it writes anything. The input is two
    files, even turns in the first and odd turns in the second."""
    parts = [str(tmp_path / "input" / f"part{i}") for i in (0, 1)]
    for i, path in enumerate(parts):
        spark_corpus["transcripts"].filter(f"turn_idx % 2 = {i}").coalesce(1).write.parquet(path)
    tr = spark.read.parquet(*parts)
    assert len(tr.inputFiles()) == 2
    out = tmp_path / "kg"
    with pytest.raises(ValueError, match=r"conversation-complete.*repartition\(k, 'conv_id'\)"):
        _run(KGPipeline(spark, str(out), n_chunks=2), {**spark_corpus, "transcripts": tr})
    assert not os.path.exists(out / "edges")
    assert not os.path.exists(out / "components")
    assert not os.path.exists(out / "_log")


def test_file_chunks_layout_and_rerun_skip(spark, parquet_corpus, tmp_path):
    """Chunks read slices of the input's files: no copy of the input
    (``staged/``) and no unit for it (``_log/_staging``). Each chunk's
    log keeps its contiguous slice of the sorted file list, its plan,
    in version 0 only; the ``corpus`` record keeps no file list, only how many
    chunks MATERIALIZED and VERIFIED covered. A re-run of the completed
    store writes nothing."""
    out = tmp_path / "kg"
    pipe = KGPipeline(spark, str(out), n_chunks=4)
    _run(pipe, parquet_corpus)
    assert sorted(os.listdir(out)) == ["_log", "components", "edges", "nodes"]
    assert sorted(os.listdir(out / "_log")) == pipe.units() + ["corpus"]
    files = _names(parquet_corpus)
    assert len(files) == 8
    assert pipe.plans() == {i: files[2 * i:2 * i + 2] for i in range(4)}
    logs = [str(out / "_log" / u) for u in pipe.units()]
    assert [checkpoint.read(log, 0)["files"] for log in logs] == list(pipe.plans().values())
    assert not any("files" in pipe.state.metrics(u) for u in pipe.units())
    record = pipe.state.metrics("corpus")
    assert not {"n_chunks", "files", "files_sha256"} & set(record)
    assert (record["materialized_chunks"], record["verified_chunks"]) == (4, 4)
    before = {p: os.path.getmtime(out / p) for p in _tree(out)}
    time.sleep(1.1)
    _run(KGPipeline(spark, str(out), n_chunks=4), parquet_corpus)
    assert {p: os.path.getmtime(out / p) for p in _tree(out)} == before


def test_empty_chunks_survive(spark, conversation_files, tmp_path):
    """More chunks than input files leaves some chunks with an empty
    slice, and their edges write is empty. The run must complete,
    record rows=0 for the empty chunks, and post_check must pass."""
    tr = datagen.gen_transcripts(n_convs=3, mean_turns=6, n_entities=50)
    tdf = conversation_files(tr, tmp_path / "input", n_files=2)
    adf = spark.createDataFrame(datagen.gen_entities(50))
    sdf = spark.createDataFrame(datagen.gen_same_as(50))
    pipe = KGPipeline(spark, str(tmp_path / "kg"), n_chunks=16)
    assert len(tdf.inputFiles()) < 16
    pipe.run(tdf, adf, sdf)
    rows = [pipe.state.metrics(u)["linked"] for u in pipe.units()]
    assert len(rows) == 16
    assert rows.count(0) > 0  # exercises empties
    assert pipe.post_check()
    golden = oracle.oracle_triples(tr, datagen.gen_entities(50), datagen.gen_same_as(50))
    got = pipe.triples().select("subj", "pred", "obj").toPandas()
    assert len(golden) and oracle.precision_recall(got, golden) == (1.0, 1.0)
    # one commit log per unit: every version file holds one unit's
    # record, and each chunk committed two versions, its plan and LINKED
    log = str(tmp_path / "kg" / "_log")
    for path in (os.path.join(r, f) for r, _, fs in os.walk(log) for f in fs):
        with open(path) as fh:
            assert isinstance(json.load(fh)["step"], int), path
    assert {u: sorted(os.listdir(os.path.join(log, u))) for u in pipe.units()} == {
        u: [f"{0:020d}.json", f"{1:020d}.json"] for u in pipe.units()
    }


NOT_SCANS = ["filtered", "projected", "local", "json", "partitioned"]


@pytest.mark.parametrize(
    "kind, n_chunks",
    [pytest.param(k, 4, id=k) for k in NOT_SCANS]
    + [pytest.param(k, 1, id=f"{k}-1chunk") for k in NOT_SCANS],
)
def test_chunks_refuse_a_frame_that_is_not_its_files(
    spark, spark_corpus, parquet_corpus, tmp_path, kind, n_chunks
):
    """Every chunk reads its slice of the input's files, at any
    ``n_chunks``, so an input that is not exactly its files -- a
    filtered or projected scan, a frame made on the driver, a
    non-parquet source, a scan with partition directories -- is
    refused before any write, never read as the unfiltered files."""
    scan = parquet_corpus["transcripts"]
    if kind == "json":
        scan.write.json(str(tmp_path / "json"))
    if kind == "partitioned":
        scan.write.partitionBy("turn_idx").parquet(str(tmp_path / "partitioned"))
    tr = {
        "filtered": lambda: scan.filter("turn_idx > 2"),
        "projected": lambda: scan.withColumn("text", F.upper("text")),
        "local": lambda: spark_corpus["transcripts"],
        "json": lambda: spark.read.schema(scan.schema).json(str(tmp_path / "json")),
        "partitioned": lambda: spark.read.parquet(str(tmp_path / "partitioned")),
    }[kind]()
    assert tr.count() > 0
    out = tmp_path / "kg"
    with pytest.raises(ValueError, match="bare parquet scan"):
        _run(KGPipeline(spark, str(out), n_chunks=n_chunks), {**parquet_corpus, "transcripts": tr})
    assert not os.path.exists(out)


def test_resume_refuses_other_chunks(spark, spark_corpus, parquet_corpus, corpus, tmp_path):
    """Each chunk's plan records its files. A resume re-runs the planned
    chunks that are not LINKED on their recorded files, whatever
    ``n_chunks`` it is given, and plans no new chunk for files it
    already has. A listing that lost a recorded file, or an input that
    is not a file scan, cannot be checked against the plans: it raises
    before any write."""
    out = tmp_path / "kg"
    with _crash_after("chunk_00001", Step.LINKED), pytest.raises(Killed):
        _run(KGPipeline(spark, str(out), n_chunks=4), parquet_corpus)
    files = sorted(parquet_corpus["transcripts"].inputFiles())
    plans = KGPipeline(spark, str(out)).plans()
    before = _tree(out)
    for n_chunks, tr, match in [
        (4, spark.read.parquet(*files[:-1]), "this run's input lacks"),
        (8, spark.read.parquet(*files[1:]), "this run's input lacks"),
        (1, spark_corpus["transcripts"], "bare parquet scan"),
    ]:
        with pytest.raises(ValueError, match=match):
            _run(KGPipeline(spark, str(out), n_chunks=n_chunks), {**parquet_corpus, "transcripts": tr})
        assert _tree(out) == before, n_chunks
    pipe = KGPipeline(spark, str(out), n_chunks=8)
    _run(pipe, parquet_corpus)
    assert pipe.state.get("corpus") == Step.COMPLETE
    assert pipe.plans() == plans and len(plans) == 4
    assert _tset(pipe.triples()) == _golden(corpus)


def test_grown_store_equals_one_shot(spark, parquet_corpus, corpus, tmp_path):
    """A store grown over 4 conversation-complete files, then all 8, at
    n_chunks=4 each, holds the same triples, nodes and row totals as
    one run over the 8 files, and the oracle's triples; it post-checks.
    The growth run plans the 4 new files as chunks 4-7 and leaves
    chunks 0-3 alone: no new log version, and their ``edges`` files keep
    their mtimes. It redoes MATERIALIZED and VERIFIED over 8 chunks."""
    out = tmp_path / "grown"
    _run(KGPipeline(spark, str(out), n_chunks=4), _first_files(spark, parquet_corpus))
    old = KGPipeline(spark, str(out)).units()
    logs = {u: sorted(os.listdir(out / "_log" / u)) for u in old}
    edges = {p: os.path.getmtime(out / "edges" / p) for p in _tree(out / "edges")}
    time.sleep(1.1)

    pipe = KGPipeline(spark, str(out), n_chunks=4)
    metrics = _run(pipe, parquet_corpus)
    files = _names(parquet_corpus)
    assert pipe.plans() == {i: files[i:i + 1] for i in range(8)}
    assert {u: sorted(os.listdir(out / "_log" / u)) for u in old} == logs
    assert {p: os.path.getmtime(out / "edges" / p) for p in edges} == edges
    record = pipe.state.metrics("corpus")
    assert (record["materialized_chunks"], record["verified_chunks"]) == (8, 8)
    assert pipe.post_check()

    one = KGPipeline(spark, str(tmp_path / "one"), n_chunks=4)
    assert metrics == _run(one, parquet_corpus)
    assert _tset(pipe.triples()) == _tset(one.triples()) == _golden(corpus)
    nodes = [sorted(r[0] for r in p.nodes().collect()) for p in (pipe, one)]
    assert nodes[0] == nodes[1]


def test_store_with_plans_in_linked_versions_grows(spark, parquet_corpus, corpus, tmp_path):
    """A store whose chunks' plans name their files by absolute URI and
    whose records repeat the plan's ``files`` after version 0, as stores
    written before plans named files relative to the listing, and kept
    them in version 0 only, do, still grows: its plans are read from
    version 0, their entries resolve to themselves, and the new chunks'
    plans hold names, which their records do not repeat."""
    out = str(tmp_path / "kg")
    old = KGPipeline(spark, out, n_chunks=4)
    _run(old, _first_files(spark, parquet_corpus))
    uris = sorted(parquet_corpus["transcripts"].inputFiles())
    for unit in old.units():
        log = os.path.join(out, "_log", unit)
        version, record = checkpoint.head(log)
        plan = checkpoint.read(log, 0)
        plan["files"] = [u for u in uris if os.path.basename(u) in plan["files"]]
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            json.dump(plan, fh)
        checkpoint.commit(log, version + 1, {**record, "files": plan["files"]})
    assert all("files" in old.state.metrics(u) for u in old.units())

    pipe = KGPipeline(spark, out, n_chunks=4)
    _run(pipe, parquet_corpus)
    files = _names(parquet_corpus)
    assert pipe.plans() == {i: (uris if i < 4 else files)[i:i + 1] for i in range(8)}
    assert not any("files" in pipe.state.metrics(u) for u in pipe.units()[4:])
    assert _tset(pipe.triples()) == _golden(corpus)
    assert pipe.post_check()


@pytest.mark.parametrize("kill", ["linked", "nodes"])
def test_growth_kill_and_resume(spark, parquet_corpus, corpus, tmp_path, kill):
    """A growth run killed after a new chunk's LINKED, or after its
    ``nodes`` write but before its MATERIALIZED commit, resumes to the
    store a run over all the files builds. The resume is given another
    ``n_chunks``: it re-runs the recorded plans, it plans nothing new."""
    out = str(tmp_path / "kg")
    _run(KGPipeline(spark, out, n_chunks=4), _first_files(spark, parquet_corpus))
    crash = {
        "linked": _crash_after("chunk_00005", Step.LINKED),
        "nodes": _crash_after("corpus", Step.MATERIALIZED, before=True),
    }[kill]
    with crash, pytest.raises(Killed):
        _run(KGPipeline(spark, out, n_chunks=4), parquet_corpus)
    pipe = KGPipeline(spark, out, n_chunks=2)
    linked = [pipe.state.get(u) == Step.LINKED for u in pipe.units()]
    assert linked == ([True] * 6 + [False] * 2 if kill == "linked" else [True] * 8)
    assert pipe.state.metrics("corpus")["materialized_chunks"] == 4

    metrics = _run(pipe, parquet_corpus)
    assert len(pipe.units()) == 8 and pipe.post_check()
    assert pipe.state.metrics("corpus")["materialized_chunks"] == 8
    assert _tset(pipe.triples()) == _golden(corpus)
    assert metrics["linked"] == len(_golden(corpus)) == pipe.triples().count()
    edges = pipe.edges()
    ids = edges.select("subj").union(edges.filter("obj_kind = 'entity'").select("obj"))
    assert sorted(r[0] for r in pipe.nodes().collect()) == sorted(
        r[0] for r in ids.distinct().collect()
    )


def test_two_planners_commit_one_plan_per_unit(
    spark, parquet_corpus, corpus, tmp_path, monkeypatch
):
    """Two runs grow one store at once, both having read the same plans:
    each new unit's plan is its log's version 0, so exactly one run
    commits it and the other raises without planning anything more.
    The winner completes the store."""
    out = str(tmp_path / "kg")
    _run(KGPipeline(spark, out, n_chunks=4), _first_files(spark, parquet_corpus))
    # both runs have listed the plans and checked the input before
    # either commits a plan
    barrier = threading.Barrier(2, timeout=120)
    check = pipeline.check_conversations_complete
    monkeypatch.setattr(
        pipeline, "check_conversations_complete",
        lambda tr: check(tr) or barrier.wait(),
    )
    done, errors = [], []

    def grow():
        try:
            done.append(_run(KGPipeline(spark, out, n_chunks=4), parquet_corpus))
        except RuntimeError as e:
            errors.append(e)

    threads = [threading.Thread(target=grow) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert len(done) == 1 and len(errors) == 1, errors
    assert "another run planned chunk_00004" in str(errors[0])
    pipe = KGPipeline(spark, out)
    files = _names(parquet_corpus)
    assert pipe.plans() == {i: files[i:i + 1] for i in range(8)}
    for u in pipe.units()[4:]:
        assert sorted(os.listdir(os.path.join(out, "_log", u))) == [
            f"{0:020d}.json", f"{1:020d}.json"
        ]
    assert pipe.state.get("corpus") == Step.COMPLETE and pipe.post_check()
    assert _tset(pipe.triples()) == _golden(corpus)


def test_resume_refuses_old_layout(spark, parquet_corpus, tmp_path):
    """An out_dir holding an older pipeline's layout (a ``mentions`` or
    ``triples`` dir, a ``bucket=`` level under ``edges/chunk=*`` or
    ``nodes``, an ``edges_audit`` or ``nodes_audit`` sidecar table, a
    ``_state`` dir of per-unit JSON files, ``_log/<version>.json``
    snapshots of every unit's record, a ``staged`` copy of the input
    split by conversation hash, a ``corpus`` record that keeps the
    input's whole file list or its digest, from before each chunk
    recorded its own files, or a chunk planned on no files: a
    ``files: null`` plan, read from a frame that was not a parquet
    scan, or a first version without ``files``, from before chunk
    plans) must refuse to resume, and write nothing: its finished
    stages would be skipped or mixed with new chunks, directory depths
    mixed under ``edges``, chunks without a recorded audit row
    post-checked, or hash-assigned or unplanned chunks mixed with file
    slices, instead of re-run."""
    corpus_log = "_log/corpus/00000000000000000000.json"
    chunk_log = "_log/chunk_00000/00000000000000000000.json"
    for name, old, record in [
        ("mentions", "mentions/chunk=0", None),
        ("triples", "triples/chunk=0", None),
        ("edges_bucket", "edges/chunk=0/bucket=3", None),
        ("nodes_bucket", "nodes/bucket=3", None),
        ("edges_audit", "edges_audit/chunk=0", None),
        ("nodes_audit", "nodes_audit", None),
        ("state", "_state", None),
        ("snapshot_log", "_log/00000000000000000000.json", {"corpus": {"step": 6}}),
        ("staged", "staged/_chunk=0", None),
        ("files_sha256", corpus_log, {"step": 3, "n_chunks": 4, "files_sha256": "0" * 64}),
        ("file_list", corpus_log, {"step": 3, "n_chunks": 4, "files": ["part-0.parquet"]}),
        ("null_plan", chunk_log, {"step": 0, "files": None}),
        ("pre_plan", chunk_log, {"step": 2, "mentions": 1, "linked": 1}),
    ]:
        out = tmp_path / name
        if record is not None:
            os.makedirs((out / old).parent)
            (out / old).write_text(json.dumps(record))
        else:
            os.makedirs(out / old)
        pipe = KGPipeline(spark, str(out), n_chunks=4)
        before = _tree(out)
        with pytest.raises(RuntimeError, match="layout of an older pipeline"):
            _run(pipe, parquet_corpus)
        assert _tree(out) == before, name


def _duplicated_corpus():
    """A corpus in which turns assert the same triple twice: every
    relation turn's text is repeated inside the turn."""
    tr = datagen.gen_transcripts(n_convs=30, mean_turns=6, n_entities=80)
    tr = tr.assign(text=tr["text"] + " " + tr["text"])
    return tr, datagen.gen_entities(80), datagen.gen_same_as(80)


@pytest.mark.parametrize("n_chunks", [1, 4])
def test_duplicate_assertions_stored_once(spark, conversation_files, tmp_path, n_chunks):
    """The stored triple set has the oracle's row count: a triple one
    turn asserts twice is one row, not two."""
    tr, ents, sa = _duplicated_corpus()
    golden = oracle.oracle_triples(tr, ents, sa)
    linked = oracle.oracle_canonicalize(
        oracle.oracle_link(oracle.oracle_extract(tr), ents), sa
    )
    assert len(linked) > len(golden)  # the corpus really repeats triples
    pipe = KGPipeline(spark, str(tmp_path / "kg"), n_chunks=n_chunks)
    metrics = pipe.run(
        conversation_files(tr, tmp_path / "input"),
        spark.createDataFrame(ents), spark.createDataFrame(sa),
    )
    assert pipe.triples().count() == len(golden)
    assert metrics["linked"] == len(golden)
    assert metrics["mentions"] == len(oracle.oracle_extract(tr))
    # no stage table besides the edges
    assert sorted(os.listdir(tmp_path / "kg")) == ["_log", "components", "edges", "nodes"]


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
def test_completed_store_reruns_without_jobs(spark, parquet_corpus, tmp_path):
    """Re-running a completed store launches no Spark job and writes
    nothing: every gate is closed, so neither the components nor any
    chunk runs, and the input file list it checks against the plans
    comes from the file index. The store here was grown (4 files, then
    8), so its corpus stages cover every planned chunk. Its post-check
    reads the tables' Parquet footers on the driver: no job either."""
    out = str(tmp_path / "kg")
    _run(KGPipeline(spark, out, n_chunks=4), _first_files(spark, parquet_corpus))
    _run(KGPipeline(spark, out, n_chunks=4), parquet_corpus)
    for old in ("mentions", "triples", "lineage"):
        assert not os.path.exists(os.path.join(out, old))
    before = {p: os.path.getmtime(os.path.join(out, p)) for p in _tree(out)}

    sc = spark.sparkContext
    metrics, jobs = _jobs_in_group(
        sc, "completed_rerun", lambda: _run(KGPipeline(spark, out, n_chunks=4), parquet_corpus)
    )
    assert jobs == 0
    assert metrics["linked"] > 0 and metrics["nodes"] > 0
    assert {p: os.path.getmtime(os.path.join(out, p)) for p in _tree(out)} == before
    assert len(KGPipeline(spark, out).units()) == 8
    ok, jobs = _jobs_in_group(
        sc, "completed_post_check", KGPipeline(spark, out, n_chunks=4).post_check
    )
    assert ok and jobs == 0


def _stage_jobs(sc, name, run):
    """Run ``run`` with each gate->set span in its own job group, named
    after ``name`` (unique per call: the tracker keeps old groups); the
    job count of each span that ended in a set of its own step, keyed
    by ``unit:STEP``. Every gate opens a span, due or not: a corpus
    stage also runs when its covered-chunk count is stale, which the
    gate does not see."""
    groups, span = {}, {}
    gate, set_ = StateStore.gate, StateStore.set

    def gate_in_group(store, unit, step):
        span["open"] = (unit, step)
        g = f"{name}:{unit}:{step.name}"
        sc.setJobGroup(g, g)
        return gate(store, unit, step)

    def set_out_of_group(store, unit, step, **metrics):
        set_(store, unit, step, **metrics)
        if span.pop("open", None) == (unit, step):
            groups[f"{unit}:{step.name}"] = f"{name}:{unit}:{step.name}"
        sc.setLocalProperty("spark.jobGroup.id", None)

    StateStore.gate, StateStore.set = gate_in_group, set_out_of_group
    try:
        run()
    finally:
        StateStore.gate, StateStore.set = gate, set_
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {k: len(sc.statusTracker().getJobIdsForGroup(g)) for k, g in groups.items()}


@pytest.mark.classic_session_only
@pytest.mark.parametrize("n_chunks", [1, 4, "4+4"])
def test_stage_job_counts(spark, parquet_corpus, tmp_path, n_chunks):
    """The audit rows come from the writes, and every KG table is read
    with a known schema: CANONICALIZED runs none (the driver reads the
    ``same_as`` files with pyarrow: the CC path is chosen from the
    plan's size estimate, not a count, and the driver writes
    ``components`` itself; at n_chunks > 1 the check that no
    conversation spans two files runs before it, at planning), a
    chunk's LINKED at most 4 (the chain write), MATERIALIZED none (the
    driver reads the small edges and writes ``nodes`` itself), VERIFIED
    none (the audit rows are read from the Parquet footers on the
    driver).
    No sidecar table is written. "4+4" measures a growth run, 4 new
    files on a 4-chunk store: only the new chunks and the corpus stages
    that cover them run, and no old chunk opens a span."""
    out = str(tmp_path / "kg")
    if n_chunks == "4+4":
        _run(KGPipeline(spark, out, n_chunks=4), _first_files(spark, parquet_corpus))
        n_chunks = 4
    old = KGPipeline(spark, out).units()
    pipe = KGPipeline(spark, out, n_chunks=n_chunks)
    jobs = _stage_jobs(spark.sparkContext, out, lambda: _run(pipe, parquet_corpus))
    assert jobs.get("corpus:CANONICALIZED", 0) == 0, jobs
    assert ("corpus:CANONICALIZED" in jobs) == (not old), jobs
    new = [u for u in pipe.units() if u not in old]
    assert len(new) == n_chunks
    assert sorted(k for k in jobs if k.endswith(":LINKED")) == [f"{u}:LINKED" for u in new]
    assert max(jobs[f"{u}:LINKED"] for u in new) <= 4, jobs
    assert jobs["corpus:MATERIALIZED"] == 0, jobs
    assert jobs["corpus:VERIFIED"] == 0, jobs
    assert _audit_dirs(out) == []


def test_dropped_edge_row_fails_verified(spark, parquet_corpus, tmp_path, monkeypatch):
    """A writer that loses one row of ``edges`` at commit must fail the
    run at VERIFIED: the audit rows record what each write was given,
    not a re-read of what reached the disk."""
    write = tableio.write_partitioned

    def drop_one_edge(df, path, partition_cols):
        if os.sep + "edges" + os.sep in path:
            first = F.row_number().over(Window.orderBy(*df.columns))
            df = df.withColumn("_n", first).filter("_n > 1").drop("_n")
        write(df, path, partition_cols)

    monkeypatch.setattr(tableio, "write_partitioned", drop_one_edge)
    pipe = KGPipeline(spark, str(tmp_path / "kg"), n_chunks=4)
    with pytest.raises(RuntimeError, match="post-check failed"):
        _run(pipe, parquet_corpus)
    assert pipe.state.get("corpus") == Step.MATERIALIZED


def test_dropped_node_row_fails_verified(spark, parquet_corpus, tmp_path, monkeypatch):
    """A driver writer that loses one row of ``nodes`` must fail the run
    at VERIFIED: the audit row is taken from the table handed to the
    writer, not from the file it wrote."""
    write = tableio.write_arrow

    def drop_one_node(table, path, codec):
        if os.path.basename(path) == "nodes":
            table = table.slice(1)
        write(table, path, codec)

    monkeypatch.setattr(tableio, "write_arrow", drop_one_node)
    pipe = KGPipeline(spark, str(tmp_path / "kg"), n_chunks=4)
    with pytest.raises(RuntimeError, match="post-check failed"):
        _run(pipe, parquet_corpus)
    assert pipe.state.get("corpus") == Step.MATERIALIZED
    assert pipe.state.metrics("corpus")["nodes_path"] == "driver"


def _nodes_store(spark, out, parquet_corpus, n_chunks):
    """A store of ``parquet_corpus`` at ``n_chunks``; "4+4" grows one
    built over the first 4 files by the other 4."""
    if n_chunks == "4+4":
        _run(KGPipeline(spark, out, n_chunks=4), _first_files(spark, parquet_corpus))
        n_chunks = 4
    pipe = KGPipeline(spark, out, n_chunks=n_chunks)
    _run(pipe, parquet_corpus)
    return pipe


@pytest.mark.parametrize("n_chunks", [1, 4, "4+4"])
def test_nodes_driver_and_spark_paths_agree(spark, parquet_corpus, tmp_path, n_chunks, monkeypatch):
    """MATERIALIZED builds ``nodes`` on the driver while the edges' data
    files hold at most ``canonicalize.DRIVER_MAX_BYTES``, and with Spark
    above it. With the bound at 0 (every store takes the Spark path,
    CANONICALIZED too) the two give the same ``nodes`` rows, audit row
    and recorded schema, in one run and in a growth run; each record
    keeps the path taken and the bytes that chose it, and the driver
    writes one file, with no ``_SUCCESS`` or ``.crc`` beside it."""
    driver = _nodes_store(spark, str(tmp_path / "driver"), parquet_corpus, n_chunks)
    with monkeypatch.context() as m:
        m.setattr(canonicalize, "DRIVER_MAX_BYTES", 0)
        dist = _nodes_store(spark, str(tmp_path / "spark"), parquet_corpus, n_chunks)
    records = [p.state.metrics("corpus") for p in (driver, dist)]
    assert [r["nodes_path"] for r in records] == ["driver", "distributed"]
    edges = driver.path("edges")
    assert records[0]["nodes_edges_bytes"] == sum(
        os.path.getsize(f) for f in tableio.data_files(edges)
    )
    assert 0 < records[0]["nodes_edges_bytes"] <= canonicalize.DRIVER_MAX_BYTES
    assert records[1]["cc_path"] == "distributed"
    for key in ("nodes", "audit", "schema", "materialized_chunks", "verified_chunks"):
        assert records[0][key] == records[1][key], key
    rows = [sorted(r[0] for r in p.nodes().collect()) for p in (driver, dist)]
    assert rows[0] == rows[1] and len(rows[0]) == records[0]["nodes"] > 0
    e = driver.edges()
    ids = e.select("subj").union(e.filter("obj_kind = 'entity'").select("obj")).distinct()
    assert rows[0] == sorted(r[0] for r in ids.collect())
    assert os.listdir(driver.path("nodes")) == ["part-00000.parquet"]
    assert driver.post_check() and dist.post_check()


def test_resume_after_linked_takes_no_link_estimate(spark, parquet_corpus, tmp_path, monkeypatch):
    """The link join is chosen once per run, and only when a chunk has
    to link: a run takes two plan estimates (the CC path's and the link
    join's), and a resume after every chunk's LINKED takes none. Each
    LINKED record keeps the join and its estimate."""
    calls = []
    estimate = canonicalize._estimated_bytes
    monkeypatch.setattr(
        canonicalize, "_estimated_bytes", lambda df: calls.append(1) or estimate(df)
    )
    out = str(tmp_path / "kg")
    with _crash_after("chunk_00003", Step.LINKED), pytest.raises(Killed):
        _run(KGPipeline(spark, out, n_chunks=4), parquet_corpus)
    assert len(calls) == 2
    calls.clear()
    pipe = KGPipeline(spark, out, n_chunks=4)
    _run(pipe, parquet_corpus)
    assert pipe.state.get("corpus") == Step.COMPLETE
    assert calls == []
    link = canonicalize.link_join(parquet_corpus["alias_dict"])
    assert all({k: pipe.state.metrics(u)[k] for k in link} == link for u in pipe.units())


@pytest.mark.classic_session_only
def test_store_resumes_on_moved_input(spark, spark_corpus, conversation_files, corpus, tmp_path):
    """Plans name their files relative to the listing's directory: a
    store killed after chunk 1's LINKED resumes once its input directory
    has been renamed, to the oracle's triples, and then re-runs with no
    Spark job and no new log version."""
    src = tmp_path / "input"
    conversation_files(spark_corpus["transcripts"], src)
    c = {**spark_corpus}
    out = str(tmp_path / "kg")
    with _crash_after("chunk_00001", Step.LINKED), pytest.raises(Killed):
        _run(KGPipeline(spark, out, n_chunks=4), {**c, "transcripts": spark.read.parquet(str(src))})
    moved = tmp_path / "moved"
    os.rename(src, moved)
    c["transcripts"] = spark.read.parquet(str(moved))
    pipe = KGPipeline(spark, out, n_chunks=4)
    _run(pipe, c)
    assert pipe.state.get("corpus") == Step.COMPLETE
    assert _tset(pipe.triples()) == _golden(corpus)
    assert all(os.sep not in f and ":" not in f for fs in pipe.plans().values() for f in fs)
    before = _tree(out)
    _, jobs = _jobs_in_group(spark.sparkContext, "moved_input", lambda: _run(pipe, c))
    assert jobs == 0 and _tree(out) == before


def test_log_size_does_not_depend_on_input_location(spark, spark_corpus, conversation_files, tmp_path):
    """Two stores of one input, each under its own root and reading its
    own copy of the input, hold ``_log/`` files of equal sizes: no
    record keeps a path."""
    import shutil

    roots = [tmp_path / "r", tmp_path / "a_root_with_a_much_longer_name"]
    conversation_files(spark_corpus["transcripts"], roots[0] / "input")
    shutil.copytree(roots[0] / "input", roots[1] / "input")
    sizes = []
    for root in roots:
        tr = spark.read.parquet(str(root / "input"))
        _run(KGPipeline(spark, str(root / "kg"), n_chunks=4), {**spark_corpus, "transcripts": tr})
        log = root / "kg" / "_log"
        sizes.append({p: os.path.getsize(log / p) for p in _tree(log) if os.path.isfile(log / p)})
    assert sizes[0] == sizes[1] and sizes[0]
