"""Structured Streaming: the epoch stores."""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest

from wikidata_pq_spark.streaming import incremental

KEYS = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def test_incremental_triple_support_merge_and_replay(spark, tmp_path):
    """Per-epoch partial aggregates: two epochs reduce to the one-shot
    batch rollup (support counts and first sightings exactly;
    distinct-conv counts via HLL, exact at these cardinalities), and a
    REPLAYED committed epoch is a no-op: nothing is double-counted and
    no epoch's files are rewritten."""
    import os

    import pandas as pd

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epoch1 = [
        ("Q1", "likes", "Q2", "c1", 3),
        ("Q1", "likes", "Q2", "c2", 5),
        ("Q7", "knows", "Q8", "c1", 1),
    ]
    epoch2 = [
        ("Q1", "likes", "Q2", "c3", 1),   # same triple, new conv
        ("Q1", "likes", "Q2", "c1", 9),   # same triple, repeat conv
        ("Q9", "near", "Q10", "c4", 2),   # brand-new triple
    ]
    out = str(tmp_path / "support")
    d1 = spark.createDataFrame(pd.DataFrame(epoch1, columns=cols))
    d2 = spark.createDataFrame(pd.DataFrame(epoch2, columns=cols))
    inc.merge_triple_support(d1, out, epoch_id=0)
    e0_mtime = os.path.getmtime(os.path.join(out, "epoch=0"))
    import time as _t
    _t.sleep(1.1)
    inc.merge_triple_support(d2, out, epoch_id=1)
    e1_mtime = os.path.getmtime(os.path.join(out, "epoch=1"))

    def rollup():
        return inc.read_triple_support(spark, out).toPandas().set_index(
            ["subj", "pred", "obj"]).sort_index()

    got = rollup()
    full = graph.triple_support(d1.unionByName(d2)).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["first_conv"] == full["first_conv"]).all()
    assert (got["first_turn"] == full["first_turn"]).all()
    assert (got["n_convs_est"] == full["n_convs"]).all()  # HLL exact here

    # at-least-once replay of epoch 1: the log already lists it, so the
    # rollup is identical and neither partition is rewritten
    _t.sleep(1.1)
    inc.merge_triple_support(d2, out, epoch_id=1)
    again = rollup()
    assert (again["n_support"] == full["n_support"]).all()
    assert (again["n_convs_est"] == full["n_convs"]).all()
    assert os.path.getmtime(os.path.join(out, "epoch=0")) == e0_mtime
    assert os.path.getmtime(os.path.join(out, "epoch=1")) == e1_mtime


def test_incremental_current_beliefs_streaming(spark, tmp_path):
    """End-to-end through Structured Streaming, as
    ``jobs/maintain_beliefs.py`` runs it: a triples parquet dir ->
    availableNow foreachBatch argmax partials -> the view equals the
    batch ``graph.current_beliefs`` over the same triples."""
    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    import datetime as dt

    ts, hour = dt.datetime(2024, 1, 1), dt.timedelta(hours=1)
    files = [
        [("Q1", "lives_in", "paris", "c1", 2, ts),
         ("Q2", "works_at", "acme", "c2", 1, ts + 2 * hour)],
        [("Q1", "lives_in", "tokyo", "c3", 1, ts + hour),
         ("Q2", "works_at", "initech", "c0", 4, ts + hour)],
    ]
    ddl = "subj string, pred string, obj string, conv_id string, turn_idx long, ts timestamp"
    src = str(tmp_path / "triples_in")
    for rows in files:
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    out = str(tmp_path / "beliefs")
    inc.incremental_current_beliefs(stream, out, str(tmp_path / "ckpt")).awaitTermination(120)

    assert inc.live_epochs(out) == [0, 1]
    got = inc.read_current_beliefs(spark, out).toPandas().set_index(
        ["subj", "pred"]).sort_index()
    full = graph.current_beliefs(spark.read.parquet(src)).toPandas().set_index(
        ["subj", "pred"]).sort_index()
    pd.testing.assert_frame_equal(got, full[got.columns])
    assert got["obj"].tolist() == ["tokyo", "acme"]


def test_triple_support_mid_epoch_kill_restart(spark, tmp_path):
    """Kill AFTER the epoch partial lands but BEFORE the streaming
    checkpoint commits the batch -- the worst-case crash window for the
    rollup. On restart from the same checkpoint, Spark replays the
    uncommitted epoch; the replay overwrites exactly its own
    epoch partition, so the reduce equals the one-shot batch rollup
    (no double-counting, no lost partial)."""
    import pandas as pd
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    file1 = [
        ("Q1", "likes", "Q2", "c1", 3),
        ("Q1", "likes", "Q2", "c2", 5),
        ("Q3", "knows", "Q4", "c1", 2),
    ]
    file2 = [
        ("Q1", "likes", "Q2", "c3", 1),
        ("Q5", "near", "Q6", "c4", 7),
    ]
    src = str(tmp_path / "triples_in")
    d1 = spark.createDataFrame(pd.DataFrame(file1, columns=cols))
    d2 = spark.createDataFrame(pd.DataFrame(file2, columns=cols))
    d1.coalesce(1).write.mode("append").parquet(src)
    d2.coalesce(1).write.mode("append").parquet(src)

    out, ckpt = str(tmp_path / "support"), str(tmp_path / "ckpt")
    crash_marker = tmp_path / "crashed_once"

    def chaos_batch(batch_df, epoch_id):
        # the real merge runs first: the partial IS on disk when we die
        inc.merge_triple_support(batch_df, out, epoch_id)
        if not crash_marker.exists():
            crash_marker.write_text("x")
            raise RuntimeError("injected crash after partial write")

    def start():
        stream = (
            spark.readStream
            .schema("subj string, pred string, obj string, conv_id string, turn_idx long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(chaos_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    assert crash_marker.exists()  # died mid-epoch, partial written

    # restart from the SAME checkpoint: the uncommitted epoch replays
    q2 = start()
    q2.awaitTermination(120)

    got = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    full = graph.triple_support(d1.unionByName(d2)).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["first_conv"] == full["first_conv"]).all()
    assert (got["n_convs_est"] == full["n_convs"]).all()


def test_streaming_corpus_ingest_composition(spark, tmp_path):
    """Streaming curation ingest: new documents arrive as a stream and
    flow through a token-count quality gate -> PII redaction, all in
    ONE streaming plan; the sink equals the same operators composed in
    batch over the union of the arrivals."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wikidata_pq_spark.functions import text as TX
    from wikidata_pq_spark.operators import curation

    cols = ["doc_id", "ts", "text"]
    batch1 = [
        (0, "2024-01-01 10:00:00", "mail me at a@b.io about the spark job today"),
        (1, "2024-01-01 10:01:00", "short"),                      # gated out
        (2, "2024-01-01 10:02:00", "plain clean document text here"),
    ]
    batch2 = [
        (3, "2024-01-01 10:10:00", "mail me at a@b.io about the spark job today"),
        (4, "2024-01-01 10:11:00", "call 555-123-4567 for the gpu cluster quota"),
    ]
    src = str(tmp_path / "docs_in")
    for rows in (batch1, batch2):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream
        .schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def compose(df):
        gated = df.filter(F.size(TX.tokens(F.col("text"))) >= 4)
        return curation.redact_pii(gated)

    out_dir = str(tmp_path / "out")
    (
        compose(stream).writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out_dir).toPandas().sort_values("doc_id")

    batch_out = compose(spark.read.parquet(src)).toPandas().sort_values("doc_id")
    assert list(got["doc_id"]) == list(batch_out["doc_id"]) == [0, 2, 3, 4]
    assert got.reset_index(drop=True).equals(batch_out.reset_index(drop=True))
    # the redaction did real work inside the stream
    assert "<EMAIL>" in got.set_index("doc_id").loc[0, "red_text"]
    assert "<PHONE>" in got.set_index("doc_id").loc[4, "red_text"]


def test_current_beliefs_mid_epoch_kill_restart(spark, tmp_path):
    """Incremental latest-assertion-wins maintenance (the MERGE-INTO
    analogue): two epochs of triples with a crash injected AFTER the
    first epoch's argmax partial lands but BEFORE the checkpoint
    commits. On restart the replay overwrites exactly its own epoch
    partition, and the reduced view equals the one-shot batch
    current_beliefs over the full history -- including a cross-epoch
    supersede (epoch-2 assertion with a LATER ts beats epoch-1's
    winner) and a stale late arrival (epoch-2 ts EARLIER than epoch-1's
    winner must NOT regress the belief)."""
    import pandas as pd
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "ts"]
    file1 = [
        ("Q1", "lives_in", "paris", "c1", 2, "2024-01-01 10:00:00"),
        ("Q1", "lives_in", "berlin", "c1", 9, "2024-01-01 18:00:00"),
        ("Q2", "works_at", "acme", "c2", 1, "2024-02-01 08:00:00"),
    ]
    file2 = [
        # supersedes Q1's epoch-1 winner (later wall clock)
        ("Q1", "lives_in", "tokyo", "c3", 1, "2024-03-01 09:00:00"),
        # STALE late arrival: earlier than Q2's epoch-1 winner
        ("Q2", "works_at", "initech", "c0", 4, "2024-01-15 07:00:00"),
        ("Q3", "likes", "tea", "c4", 2, "2024-01-20 11:00:00"),
    ]

    def mk(rows):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return spark.createDataFrame(pdf)

    src = str(tmp_path / "triples_in")
    d1, d2 = mk(file1), mk(file2)
    d1.coalesce(1).write.mode("append").parquet(src)
    d2.coalesce(1).write.mode("append").parquet(src)

    out, ckpt = str(tmp_path / "beliefs"), str(tmp_path / "ckpt")
    crash_marker = tmp_path / "crashed_once"

    def chaos_batch(batch_df, epoch_id):
        inc.merge_current_beliefs(batch_df, out, epoch_id)
        if not crash_marker.exists():
            crash_marker.write_text("x")
            raise RuntimeError("injected crash after partial write")

    def start():
        stream = (
            spark.readStream
            .schema(
                "subj string, pred string, obj string, conv_id string, "
                "turn_idx long, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(chaos_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    assert crash_marker.exists()

    q2 = start()
    q2.awaitTermination(120)

    got = (
        inc.read_current_beliefs(spark, out)
        .toPandas().set_index(["subj", "pred"]).sort_index()
    )
    full = (
        graph.current_beliefs(d1.unionByName(d2))
        .toPandas().set_index(["subj", "pred"]).sort_index()
    )
    assert got.index.equals(full.index)
    for col in ["obj", "last_ts", "last_conv_id", "last_turn_idx"]:
        assert (got[col] == full[col]).all(), col
    # the semantic assertions, independent of the batch operator
    assert got.loc[("Q1", "lives_in"), "obj"] == "tokyo"      # superseded
    assert got.loc[("Q2", "works_at"), "obj"] == "acme"       # stale ignored
    assert got.loc[("Q3", "likes"), "obj"] == "tea"           # new key


def test_compact_triple_support_then_stream_equals_batch(spark, tmp_path):
    """Epoch compaction: compacting epochs [0..k] into one generation
    then merging NEW epochs gives the identical rollup to the
    uncompacted store and to the batch operator; stale epoch dirs are
    GC'd; a replayed pre-compaction epoch is ignored by the log and
    collected by the next compaction."""
    import os

    import pandas as pd

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epochs = [
        [("Q1", "likes", "Q2", "c1", 3), ("Q7", "knows", "Q8", "c1", 1)],
        [("Q1", "likes", "Q2", "c3", 1), ("Q9", "near", "Q10", "c4", 2)],
        [("Q1", "likes", "Q2", "c5", 2), ("Q7", "knows", "Q8", "c6", 7)],
        [("Q11", "in", "Q12", "c7", 1), ("Q1", "likes", "Q2", "c1", 8)],
    ]
    dfs = [spark.createDataFrame(pd.DataFrame(e, columns=cols)) for e in epochs]
    out = str(tmp_path / "support")
    # epochs 0..2 -> compact -> epoch 3 -> read
    for i in range(3):
        inc.merge_triple_support(dfs[i], out, epoch_id=i)
    summary = inc.compact_triple_support(spark, out)
    assert summary["compacted"] == 3 and summary["generation"] == -1
    assert inc._epochs_on_disk(out) == [-1]
    inc.merge_triple_support(dfs[3], out, epoch_id=3)

    got = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    allb = dfs[0]
    for d in dfs[1:]:
        allb = allb.unionByName(d)
    full = graph.triple_support(allb).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["first_conv"] == full["first_conv"]).all()
    assert (got["first_turn"] == full["first_turn"]).all()
    assert (got["n_convs_est"] == full["n_convs"]).all()

    # a write at or below the compaction watermark is REFUSED loudly:
    # such an epoch id means a reset/foreign streaming checkpoint -- its
    # write would be invisible to reads and GC'd (silent loss). Even if
    # it somehow lands on disk (a pre-guard writer), the log ignores it
    # and the next compaction GCs it.
    import pytest as _pt

    with _pt.raises(ValueError, match="compacted_through"):
        inc.merge_triple_support(dfs[1], out, epoch_id=1)
    import os as _os
    import shutil as _sh

    _sh.copytree(
        _os.path.join(out, "epoch=3"), _os.path.join(out, "epoch=1")
    )  # simulate a pre-guard replayed dir
    assert set(inc._epochs_on_disk(out)) == {-1, 1, 3}
    assert inc.live_epochs(out) == [-1, 3]
    again = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (again["n_support"] == full["n_support"]).all()
    s2 = inc.compact_triple_support(spark, out)
    assert s2["generation"] == -2 and 1 in s2["removed_epochs"]
    assert inc._epochs_on_disk(out) == [-2]
    final = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (final["n_support"] == full["n_support"]).all()

    # single-generation store: compaction is a no-op
    assert inc.compact_triple_support(spark, out)["compacted"] == 0


def test_compact_current_beliefs_then_stream_equals_batch(spark, tmp_path):
    """Belief-store compaction: argmax of argmaxes -- compact then new
    epochs == the batch latest-assertion-wins view."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "ts"]
    ts = pd.Timestamp("2026-01-01", tz="UTC")
    mk = lambda *rows: spark.createDataFrame(
        pd.DataFrame(list(rows), columns=cols),
        schema="subj string, pred string, obj string, conv_id string, "
        "turn_idx long, ts timestamp",
    )
    e0 = mk(("Q1", "ceo", "A", "c1", 1, ts),
            ("Q2", "hq", "X", "c1", 2, ts + pd.Timedelta("1h")))
    e1 = mk(("Q1", "ceo", "B", "c2", 1, ts + pd.Timedelta("2h")))
    e2 = mk(("Q1", "ceo", "C", "c3", 1, ts + pd.Timedelta("30m")),  # older: loses
            ("Q2", "hq", "Y", "c3", 2, ts + pd.Timedelta("3h")))
    out = str(tmp_path / "beliefs")
    inc.merge_current_beliefs(e0, out, epoch_id=0)
    inc.merge_current_beliefs(e1, out, epoch_id=1)
    summary = inc.compact_current_beliefs(spark, out)
    assert summary["compacted"] == 2
    inc.merge_current_beliefs(e2, out, epoch_id=2)

    got = inc.read_current_beliefs(spark, out).toPandas().set_index(
        ["subj", "pred"]).sort_index()
    full = graph.current_beliefs(
        e0.unionByName(e1).unionByName(e2)
    ).toPandas().set_index(["subj", "pred"]).sort_index()
    assert (got["obj"] == full["obj"]).all()
    assert (got["last_ts"] == full["last_ts"]).all()
    assert (got["last_conv_id"] == full["last_conv_id"]).all()


def test_merge_refuses_epoch_below_compaction_watermark(spark, tmp_path):
    """Checkpoint-reset guard: after a compaction, a merge whose
    epoch id restarted from 0 (deleted streaming checkpoint, same
    store) must raise -- its write would be invisible to reads and
    GC'd by the next compaction (silent loss)."""
    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    d = spark.createDataFrame(
        pd.DataFrame([("Q1", "p", "Q2", "c1", 1)], columns=cols)
    )
    out = str(tmp_path / "support")
    inc.merge_triple_support(d, out, epoch_id=0)
    inc.merge_triple_support(d, out, epoch_id=1)
    inc.compact_triple_support(spark, out)
    with _pt.raises(ValueError, match="compacted_through"):
        inc.merge_triple_support(d, out, epoch_id=0)
    # the NEXT genuine epoch (above the watermark) still merges
    inc.merge_triple_support(d, out, epoch_id=2)
    got = inc.read_triple_support(spark, out).toPandas()
    assert got["n_support"].iloc[0] == 3


def test_uncommitted_generation_invisible_and_collected(spark, tmp_path):
    """First-compaction crash window: a negative epoch dir the log
    does not list is the output of a compaction that died between its
    parquet job and its log commit. It must be invisible to
    reads (counting it live would double every merged row) and be
    garbage-collected by the next compaction, which then produces the
    correct store."""
    import os

    import pandas as pd

    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    d0 = spark.createDataFrame(
        pd.DataFrame([("Q1", "p", "Q2", "c1", 1)], columns=cols)
    )
    d1 = spark.createDataFrame(
        pd.DataFrame([("Q1", "p", "Q2", "c2", 2)], columns=cols)
    )
    out = str(tmp_path / "support")
    inc.merge_triple_support(d0, out, epoch_id=0)
    inc.merge_triple_support(d1, out, epoch_id=1)

    # simulate the crashed first compaction: the merged generation is
    # fully on disk, the log commit never happened
    crashed = str(tmp_path / "crashed")
    inc.merge_triple_support(d0, crashed, epoch_id=0)
    inc.merge_triple_support(d1, crashed, epoch_id=1)
    inc.compact_triple_support(spark, crashed)
    import shutil

    shutil.copytree(
        os.path.join(crashed, "epoch=-1"), os.path.join(out, "epoch=-1")
    )
    assert os.path.isdir(os.path.join(out, "epoch=-1"))
    assert inc.live_epochs(out) == [0, 1]  # uncommitted gen NOT live

    got = inc.read_triple_support(spark, out).toPandas()
    assert got["n_support"].iloc[0] == 2  # would be 4 if double-counted

    summary = inc.compact_triple_support(spark, out)
    # the retry claims gen -2 below the orphan, then collects the orphan
    assert summary["generation"] == -2 and -1 in summary["removed_epochs"]
    assert inc._epochs_on_disk(out) == [-2]
    final = inc.read_triple_support(spark, out).toPandas()
    assert final["n_support"].iloc[0] == 2

    # no-op path still GCs: plant a stale retired dir (content
    # irrelevant -- it is below the watermark, never read) and re-compact
    shutil.copytree(
        os.path.join(crashed, "epoch=-1"), os.path.join(out, "epoch=0")
    )
    s2 = inc.compact_triple_support(spark, out)
    assert s2["compacted"] == 0 and 0 in s2["removed_epochs"]
    assert inc._epochs_on_disk(out) == [-2]


def test_lost_log_refuses_reads_merges_and_compaction(spark, tmp_path):
    """Losing the commit log after a committed compaction: with
    ``_log/`` gone the live set is unknown, so reads, compaction and
    merges of other epochs refuse loudly, and the generation data on
    disk is left exactly as it was."""
    import os
    import shutil

    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    d = spark.createDataFrame(
        pd.DataFrame([("Q1", "p", "Q2", "c1", 1)], columns=cols)
    )
    out = str(tmp_path / "support")
    inc.merge_triple_support(d, out, epoch_id=0)
    inc.merge_triple_support(d, out, epoch_id=1)
    inc.compact_triple_support(spark, out)

    def snapshot():
        paths = [os.path.join(r, f) for r, _, fs in os.walk(out) for f in fs]
        return sorted((p, os.path.getmtime(p)) for p in paths)

    shutil.rmtree(os.path.join(out, "_log"))
    before = snapshot()
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.read_triple_support(spark, out).count()
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.compact_triple_support(spark, out)
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.merge_triple_support(d, out, epoch_id=2)
    assert snapshot() == before  # data survives, untouched
    assert inc._epochs_on_disk(out) == [-1]


def test_merge_refused_inside_compaction_commit_window(spark, tmp_path, monkeypatch):
    """A streaming merge that commits inside a compaction's window --
    here between the generation's parquet write and the compaction's
    log commit -- lands and stays live: the compaction loses the commit
    race and raises, its generation stays invisible, and the next
    compaction folds every epoch in, giving exactly the batch
    reference."""
    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.plans import checkpoint
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epochs = [
        [("Q1", "p", "Q2", "c1", 1), ("Q3", "q", "Q4", "c2", 2)],
        [("Q1", "p", "Q2", "c3", 1)],
        [("Q5", "r", "Q6", "c4", 5)],
        [("Q1", "p", "Q2", "c5", 2), ("Q5", "r", "Q6", "c6", 1)],
    ]
    dfs = [spark.createDataFrame(pd.DataFrame(e, columns=cols)) for e in epochs]
    out = str(tmp_path / "support")
    for i in range(3):
        inc.merge_triple_support(dfs[i], out, epoch_id=i)

    orig_commit = checkpoint.commit
    merged = []

    def commit_after_merge(log_dir, version, snapshot):
        if snapshot.get("generation") is not None and not merged:
            merged.append(1)
            inc.merge_triple_support(dfs[3], out, epoch_id=3)
        return orig_commit(log_dir, version, snapshot)

    monkeypatch.setattr(checkpoint, "commit", commit_after_merge)
    with _pt.raises(RuntimeError, match="lost the commit race"):
        inc.compact_triple_support(spark, out)
    monkeypatch.setattr(checkpoint, "commit", orig_commit)
    assert merged and inc.live_epochs(out) == [0, 1, 2, 3]
    assert set(inc._epochs_on_disk(out)) == {-1, 0, 1, 2, 3}

    got = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    allb = dfs[0]
    for d in dfs[1:]:
        allb = allb.unionByName(d)
    full = graph.triple_support(allb).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert got.index.equals(full.index)
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["first_conv"] == full["first_conv"]).all()
    # the next compaction folds all four epochs and collects the
    # uncommitted generation
    s2 = inc.compact_triple_support(spark, out)
    assert s2["compacted"] == 4 and s2["generation"] == -2
    assert inc._epochs_on_disk(out) == [-2]
    final = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (final["n_support"] == full["n_support"]).all()


def test_epoch_landing_before_compaction_reduces_correctly(spark, tmp_path):
    """The epoch-arithmetic property the commit protocol guarantees:
    an epoch FULLY landed before the compactor's listing reduces into
    the generation exactly like its older siblings."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epochs = [
        [("Q1", "p", "Q2", "c1", 1)],
        [("Q1", "p", "Q2", "c2", 2), ("Q3", "q", "Q4", "c3", 1)],
        [("Q3", "q", "Q4", "c3", 9)],
    ]
    dfs = [spark.createDataFrame(pd.DataFrame(e, columns=cols)) for e in epochs]
    out = str(tmp_path / "support")
    for i, d in enumerate(dfs):
        inc.merge_triple_support(d, out, epoch_id=i)
    assert inc.compact_triple_support(spark, out)["compacted"] == 3
    got = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    allb = dfs[0]
    for d in dfs[1:]:
        allb = allb.unionByName(d)
    full = graph.triple_support(allb).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert got.index.equals(full.index)
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["first_turn"] == full["first_turn"]).all()


def test_concurrent_compaction_loses_the_commit_race(spark, tmp_path, monkeypatch):
    """Two compactors: B commits between compactor A's log read and A's
    commit. A loses the race for the log version and raises, the store
    reads equal to the batch reference, and the next compaction leaves
    only its own generation on disk."""
    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.plans import checkpoint
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epochs = [
        [("Q1", "p", "Q2", "c1", 1)],
        [("Q1", "p", "Q2", "c2", 2), ("Q3", "q", "Q4", "c3", 1)],
        [("Q3", "q", "Q4", "c4", 4)],
    ]
    dfs = [spark.createDataFrame(pd.DataFrame(e, columns=cols)) for e in epochs]
    out = str(tmp_path / "support")
    inc.merge_triple_support(dfs[0], out, epoch_id=0)
    inc.merge_triple_support(dfs[1], out, epoch_id=1)

    orig_commit = checkpoint.commit
    raced = []

    def commit_after_rival(log_dir, version, snapshot):
        if not raced:
            raced.append(None)  # the rival's own commit passes straight through
            raced[0] = inc.compact_triple_support(spark, out)
        return orig_commit(log_dir, version, snapshot)

    monkeypatch.setattr(checkpoint, "commit", commit_after_rival)
    with _pt.raises(RuntimeError, match="lost the commit race"):
        inc.compact_triple_support(spark, out)
    monkeypatch.setattr(checkpoint, "commit", orig_commit)
    # A claimed -1 first, so the rival committed -2 (and collected -1)
    assert raced[0]["compacted"] == 2 and raced[0]["generation"] == -2
    assert inc.live_epochs(out) == [-2]

    def rollup():
        return inc.read_triple_support(spark, out).toPandas().set_index(
            ["subj", "pred", "obj"]).sort_index()

    def batch(n):
        allb = dfs[0]
        for d in dfs[1:n]:
            allb = allb.unionByName(d)
        return graph.triple_support(allb).toPandas().set_index(
            ["subj", "pred", "obj"]).sort_index()

    got, full = rollup(), batch(2)
    assert got.index.equals(full.index)
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["first_turn"] == full["first_turn"]).all()

    inc.merge_triple_support(dfs[2], out, epoch_id=2)
    s = inc.compact_triple_support(spark, out)
    assert s["compacted"] == 2
    assert inc._epochs_on_disk(out) == [s["generation"]]
    got, full = rollup(), batch(3)
    assert got.index.equals(full.index)
    assert (got["n_support"] == full["n_support"]).all()


def test_crash_before_commit_leaves_the_write_invisible(
    spark, tmp_path, monkeypatch
):
    """A crash before a commit: a compaction that dies after writing its
    generation but before committing it leaves the generation invisible
    and every epoch live, and the next compaction collects it. A first
    merge that dies before committing log version 0 leaves a store
    reads refuse until the replay rewrites its own epoch and commits."""
    import os

    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.plans import checkpoint
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epochs = [
        [("Q1", "p", "Q2", "c1", 1), ("Q3", "q", "Q4", "c2", 2)],
        [("Q1", "p", "Q2", "c3", 1)],
        [("Q5", "r", "Q6", "c4", 5)],
    ]
    dfs = [spark.createDataFrame(pd.DataFrame(e, columns=cols)) for e in epochs]
    out = str(tmp_path / "support")
    for i, d in enumerate(dfs):
        inc.merge_triple_support(d, out, epoch_id=i)

    def crash(log_dir, version, snapshot):
        raise OSError("injected crash before the commit")

    orig_commit = checkpoint.commit
    monkeypatch.setattr(checkpoint, "commit", crash)
    with _pt.raises(OSError, match="injected crash"):
        inc.compact_triple_support(spark, out)
    monkeypatch.setattr(checkpoint, "commit", orig_commit)

    # the generation is complete on disk but not committed
    assert set(inc._epochs_on_disk(out)) == {-1, 0, 1, 2}
    assert inc.live_epochs(out) == [0, 1, 2]
    full = graph.triple_support(
        dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    ).toPandas().set_index(["subj", "pred", "obj"]).sort_index()
    got = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert got.index.equals(full.index)
    assert (got["n_support"] == full["n_support"]).all()

    s2 = inc.compact_triple_support(spark, out)
    assert s2["compacted"] == 3 and s2["generation"] == -2
    assert sorted(s2["removed_epochs"]) == [-1, 0, 1, 2]
    assert inc._epochs_on_disk(out) == [-2]
    final = inc.read_triple_support(spark, out).toPandas()
    assert final["n_support"].sum() == full["n_support"].sum()

    # first merge into a fresh store dies before committing version 0
    fresh = str(tmp_path / "fresh")
    monkeypatch.setattr(checkpoint, "commit", crash)
    with _pt.raises(OSError, match="injected crash"):
        inc.merge_triple_support(dfs[0], fresh, epoch_id=0)
    monkeypatch.setattr(checkpoint, "commit", orig_commit)
    assert inc._epochs_on_disk(fresh) == [0]
    assert not os.path.exists(os.path.join(fresh, "_log"))
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.read_triple_support(spark, fresh).count()
    inc.merge_triple_support(dfs[0], fresh, epoch_id=0)
    assert inc.live_epochs(fresh) == [0]
    assert inc.read_triple_support(spark, fresh).count() == 2


def test_concurrent_merge_commits_lose_no_epoch(tmp_path, monkeypatch):
    """Many writers committing distinct epochs at once: each lost race
    for a log version re-reads and retries, so the newest version lists
    every epoch (a lost update would drop one)."""
    import os
    import sys
    import threading

    from wikidata_pq_spark.streaming import incremental as inc

    out = str(tmp_path / "store")

    def write_dir(partial, out_dir, epoch):
        os.makedirs(os.path.join(out_dir, f"epoch={epoch}"))

    monkeypatch.setattr(inc, "_write_partition", write_dir)
    inc._merge_epoch(None, out, 0)  # version 0 exists before the race
    errors = []

    def merge(epoch):
        try:
            inc._merge_epoch(None, out, epoch)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=merge, args=(e,)) for e in range(1, 33)]
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
    assert inc.live_epochs(out) == list(range(33))


_TS = pd.Timestamp("2026-01-01", tz="UTC")
# two same-shaped epochs of triples
EPOCH_ROWS = [
    [("Q1", "ceo", "A", "c1", 1, _TS), ("Q2", "hq", "X", "c1", 2, _TS)],
    [("Q1", "ceo", "B", "c2", 1, _TS + pd.Timedelta("1h")),
     ("Q3", "hq", "Y", "c2", 3, _TS)],
]


def _epoch_batch(spark, i):
    """Epoch ``i`` of ``EPOCH_ROWS`` as a one-partition batch."""
    return spark.createDataFrame(
        pd.DataFrame(EPOCH_ROWS[i], columns=KEYS + ["ts"]),
        schema="subj string, pred string, obj string, conv_id string, "
        "turn_idx long, ts timestamp",
    ).coalesce(1)


def _merge_both(batch, stores, epoch):
    incremental.merge_triple_support(batch, stores[0], epoch_id=epoch)
    incremental.merge_current_beliefs(batch, stores[1], epoch_id=epoch)


def _two_epoch_stores(spark, tmp_path, epoch0_format=contextlib.nullcontext):
    """A support and a beliefs store, each holding two epochs merged from
    one-partition batches; epoch 0 is merged under ``epoch0_format()``."""
    stores = str(tmp_path / "support"), str(tmp_path / "beliefs")
    for i in range(len(EPOCH_ROWS)):
        with epoch0_format() if i == 0 else contextlib.nullcontext():
            _merge_both(_epoch_batch(spark, i), stores, i)
    return stores


def _views(spark, stores):
    """Both views of (support, beliefs) stores, as sorted frames."""
    readers = (incremental.read_triple_support, incremental.read_current_beliefs)
    return [
        read(spark, store).toPandas().sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
        for read, store in zip(readers, stores)
    ]


def _compact_both(spark, stores):
    return [
        incremental.compact_triple_support(spark, stores[0]),
        incremental.compact_current_beliefs(spark, stores[1]),
    ]


def _write_partition_by_epoch(partial, out_dir, epoch, mode="overwrite"):
    """How epoch partials were written before each went straight into
    its directory: a literal ``epoch`` column, ``partitionBy("epoch")``
    and a dynamic overwrite of the store root."""
    import json

    from pyspark.sql import functions as F

    frame = partial.withColumn("epoch", F.lit(epoch))
    (
        frame.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(out_dir)
    )
    return json.loads(frame.schema.json())


def _compiles(spark):
    """Janino compiles in this JVM so far (driver and local tasks)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_epoch_merge_compiles_nothing_new_and_keeps_the_layout(
    spark, tmp_path, monkeypatch
):
    """After a same-shaped epoch-0 merge, merging epoch 1 into each store
    compiles no class: no epoch literal reaches the generated code. Each
    epoch's parquet files sit directly in ``epoch=N/`` with no marker
    file, and the logged schema equals the one a ``partitionBy("epoch")``
    write of the same partial logged. A store whose epoch 0 was written
    that way still merges, reads and compacts to the same views."""
    import os

    from wikidata_pq_spark.plans import checkpoint

    write, partials = incremental._write_partition, {}

    def recorded(partial, out_dir, epoch, mode="overwrite"):
        partials[out_dir, epoch] = partial
        return write(partial, out_dir, epoch, mode)

    monkeypatch.setattr(incremental, "_write_partition", recorded)
    stores = str(tmp_path / "support"), str(tmp_path / "beliefs")
    _merge_both(_epoch_batch(spark, 0), stores, 0)
    before = _compiles(spark)
    _merge_both(_epoch_batch(spark, 1), stores, 1)
    assert _compiles(spark) == before
    for store in stores:
        for e in (0, 1):
            root, dirs, files = next(os.walk(os.path.join(store, f"epoch={e}")))
            assert dirs == [] and files, (root, dirs, files)
            assert all(f.endswith((".parquet", ".parquet.crc")) for f in files), files
        logged = checkpoint.head(os.path.join(store, "_log"))[1]["schema"]
        old_way = _write_partition_by_epoch(
            partials[store, 1], str(tmp_path / "old_way"), 1
        )
        assert logged == old_way
    monkeypatch.setattr(incremental, "_write_partition", write)

    @contextlib.contextmanager
    def written_the_old_way():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(incremental, "_write_partition", _write_partition_by_epoch)
            yield

    old = _two_epoch_stores(spark, tmp_path / "old", written_the_old_way)
    expected = _views(spark, stores)
    for got, want in zip(_views(spark, old), expected):
        pd.testing.assert_frame_equal(got, want)
    assert [s["compacted"] for s in _compact_both(spark, old)] == [2, 2]
    for got, want in zip(_views(spark, old), expected):
        pd.testing.assert_frame_equal(got, want)


def test_compaction_keeps_its_claimed_generation(spark, tmp_path, monkeypatch):
    """While a compaction writes the ``epoch=<g>`` it claimed, the
    directory stays: a concurrent claim gets another id, and a file put
    in it during the write is still there after (the write appends into
    the claim rather than replacing it). The views read the same."""
    import os
    import threading

    stores = _two_epoch_stores(spark, tmp_path)
    before = _views(spark, stores)
    write = incremental._write_partition
    barrier = threading.Barrier(2, timeout=120)
    held = []

    def held_write(partial, out_dir, epoch, mode="overwrite"):
        held.append(epoch)
        barrier.wait()  # the rival claims now
        barrier.wait()
        return write(partial, out_dir, epoch, mode)

    monkeypatch.setattr(incremental, "_write_partition", held_write)
    summary = []
    compactor = threading.Thread(
        target=lambda: summary.append(incremental.compact_triple_support(spark, stores[0]))
    )
    compactor.start()
    try:
        barrier.wait()
        (gen,) = held
        rival = incremental._claim_generation(stores[0])
        sentinel = os.path.join(stores[0], f"epoch={gen}", "_claimed")
        open(sentinel, "w").close()
    finally:
        barrier.wait()
        compactor.join(timeout=120)
    assert not compactor.is_alive()
    assert rival != gen
    assert summary and summary[0]["generation"] == gen
    assert os.path.exists(sentinel)
    assert incremental._epochs_on_disk(stores[0]) == [rival, gen]
    monkeypatch.setattr(incremental, "_write_partition", write)
    incremental.compact_current_beliefs(spark, stores[1])
    for got, want in zip(_views(spark, stores), before):
        pd.testing.assert_frame_equal(got, want)


def test_epoch_partition_holds_files_directly(spark, tmp_path):
    """Each epoch partition -- a merged epoch or a compaction
    generation -- holds its parquet files directly, with no
    sub-directories; a one-partition merge leaves exactly one file, and
    both views read the same before and after compaction."""
    import os

    stores = _two_epoch_stores(spark, tmp_path)

    def layout(store):
        out = {}
        for e in incremental._epochs_on_disk(store):
            root, dirs, files = next(os.walk(os.path.join(store, f"epoch={e}")))
            assert dirs == [], (root, dirs)
            out[e] = sum(f.endswith(".parquet") for f in files)
        return out

    before = _views(spark, stores)
    for store in stores:
        assert layout(store) == {0: 1, 1: 1}
    _compact_both(spark, stores)
    for store in stores:
        assert set(layout(store)) == {-1} and layout(store)[-1] >= 1
    for b, a in zip(before, _views(spark, stores)):
        pd.testing.assert_frame_equal(b, a)


def test_epoch_stores_written_before_zstd_read_and_compact(
    spark, tmp_path, legacy_parquet, parquet_footers
):
    """A store whose epoch 0 was written in the legacy format (snappy,
    INT96 ts) and epoch 1 under the session's zstd/INT64 defaults reads,
    compacts and reads again to the same views as a store written
    entirely under the defaults."""
    mixed = _two_epoch_stores(spark, tmp_path / "mixed", legacy_parquet)
    fresh = _two_epoch_stores(spark, tmp_path / "fresh")

    def footers(epoch):
        return parquet_footers(f"{mixed[1]}/epoch={epoch}", "last_ts")

    assert [footers(e) for e in (0, 1)] == [
        ({"SNAPPY"}, {"INT96"}), ({"ZSTD"}, {"INT64"})
    ]
    expected = _views(spark, fresh)
    for b, a in zip(_views(spark, mixed), expected):
        pd.testing.assert_frame_equal(b, a)
    _compact_both(spark, mixed)
    assert footers(-1) == ({"ZSTD"}, {"INT64"})
    for b, a in zip(_views(spark, mixed), expected):
        pd.testing.assert_frame_equal(b, a)


def test_epoch_store_reads_build_without_jobs(spark, tmp_path):
    """Building the two views launches no Spark job: each scan takes its
    schema from the commit log, not from an inference job. A store with
    no committed version still refuses to read."""
    support, beliefs = _two_epoch_stores(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("epoch_store_reads", "epoch_store_reads")
    try:
        incremental.read_triple_support(spark, support)
        incremental.read_current_beliefs(spark, beliefs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("epoch_store_reads")) == 0
    for read in (incremental.read_triple_support, incremental.read_current_beliefs):
        with pytest.raises(RuntimeError, match="no committed version"):
            read(spark, str(tmp_path / "empty"))
