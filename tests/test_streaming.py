"""Structured Streaming: incremental extraction + windowed aggregation."""

from __future__ import annotations

import pandas as pd
import pytest

from wikidata_pq_spark import datagen
from wikidata_pq_spark.operators import extract, linking
from wikidata_pq_spark.streaming import incremental

KEYS = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def test_incremental_extract_matches_batch(spark, tmp_path):
    tr = datagen.gen_transcripts(n_convs=40, mean_turns=6, n_entities=100)
    ents = datagen.gen_entities(100)
    adf = spark.createDataFrame(ents)

    # two conversation-complete files arriving "over time"
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    convs = sorted(tr["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    spark.createDataFrame(tr[tr["conv_id"].isin(half)]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(tr[~tr["conv_id"].isin(half)]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = incremental.stream_transcripts(spark, in_dir, max_files_per_trigger=1)
    q = incremental.incremental_extract(stream, adf, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).toPandas()
    assert got["epoch"].nunique() >= 2  # genuinely incremental

    batch = linking.link_mentions(
        extract.extract_mentions(spark.createDataFrame(tr)), adf
    ).toPandas()
    assert sorted(map(tuple, got[KEYS].values)) == sorted(map(tuple, batch[KEYS].values))


def test_incremental_resume_no_duplicates(spark, tmp_path):
    """Restarting the checkpointed query must not re-emit old batches --
    the streaming analogue of the reference's idempotent step gates."""
    tr = datagen.gen_transcripts(n_convs=20, mean_turns=5, n_entities=80)
    adf = spark.createDataFrame(datagen.gen_entities(80))
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(tr).coalesce(1).write.mode("append").parquet(in_dir)

    q = incremental.incremental_extract(
        incremental.stream_transcripts(spark, in_dir), adf, out_dir, ckpt
    )
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()

    # restart with no new data: nothing may be appended
    q2 = incremental.incremental_extract(
        incremental.stream_transcripts(spark, in_dir), adf, out_dir, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1


def test_windowed_event_counts(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:30", "2026-01-01 00:01:00", "2026-01-01 00:04:00",
                 "2026-01-01 00:06:00", "2026-01-01 00:06:30", "2026-01-01 00:11:00"]
            ),
            "event_type": ["click", "click", "view", "click", "view", "click"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        ).parquet(in_dir)
    )
    agg = incremental.windowed_event_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM wincounts").toPandas()
    first = out[
        (out["win_start"] == pd.Timestamp("2026-01-01 00:00:00"))
        & (out["event_type"] == "click")
    ]
    assert first["n"].iloc[0] == 2 and first["total_value"].iloc[0] == 3.0
    assert out["n"].sum() == 6


def test_streaming_dedup_across_batches(spark, tmp_path):
    """First-seen wins across micro-batches: a duplicate text arriving
    in a LATER file is dropped by the digest state."""
    in_dir, out_dir, ckpt = str(tmp_path / "sin"), str(tmp_path / "sout"), str(tmp_path / "sck")
    rows1 = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["alpha beta gamma", "delta epsilon"],
            "ts": pd.to_datetime(["2026-01-01 00:00:00", "2026-01-01 00:01:00"]),
        }
    )
    rows2 = pd.DataFrame(
        {
            "doc_id": [2, 3],
            "text": ["alpha beta gamma", "zeta eta"],  # 2 duplicates 0
            "ts": pd.to_datetime(["2026-01-01 00:02:00", "2026-01-01 00:03:00"]),
        }
    )
    spark.createDataFrame(rows1).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows2).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    deduped = incremental.streaming_dedup(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    assert sorted(got["doc_id"]) == [0, 1, 3]
    assert got["digest"].nunique() == 3


def _run_to_parquet(df, out_dir, ckpt, mode="append"):
    q = (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_session_window_counts(spark, tmp_path):
    """Two bursts separated by > gap form two sessions per user."""
    in_dir, out_dir, ckpt = str(tmp_path / "wi"), str(tmp_path / "wo"), str(tmp_path / "wc")
    ts = pd.to_datetime(
        ["2026-01-01 00:00", "2026-01-01 00:05",      # session 1
         "2026-01-01 02:00", "2026-01-01 02:10",      # session 2
         "2026-01-01 09:00"]                           # watermark pusher
    )
    rows = pd.DataFrame(
        {"user_id": [1, 1, 1, 1, 2], "event_id": range(5), "ts": ts,
         "value": [1.0, 2.0, 3.0, 4.0, 5.0]}
    )
    spark.createDataFrame(rows).coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, value double"
    ).parquet(in_dir)
    out = incremental.session_window_counts(stream, gap="30 minutes", watermark="1 hour")
    _run_to_parquet(out, out_dir, ckpt)
    got = spark.read.parquet(out_dir).toPandas()
    u1 = got[got["user_id"] == 1].sort_values("session_start")
    assert len(u1) == 2
    assert u1["n_events"].tolist() == [2, 2]
    assert u1["total_value"].tolist() == [3.0, 7.0]


def test_stream_stream_join_within_window(spark, tmp_path):
    """Purchase joins the prior click of the same user within 10 min;
    out-of-window and cross-user purchases don't match."""
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    out_dir, ckpt = str(tmp_path / "jo"), str(tmp_path / "jc")
    clicks = pd.DataFrame(
        {"user_id": [1, 2], "event_id": [10, 20],
         "ts": pd.to_datetime(["2026-01-01 00:00", "2026-01-01 00:00"])}
    )
    purchases = pd.DataFrame(
        {"user_id": [1, 1, 2], "event_id": [11, 12, 21],
         "ts": pd.to_datetime(
             ["2026-01-01 00:05",    # in window -> matches click 10
              "2026-01-01 00:30",    # out of window
              "2026-01-01 00:09"])}  # user 2 -> matches click 20
    )
    spark.createDataFrame(clicks).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(purchases).coalesce(1).write.parquet(pdir)
    schema = "user_id long, event_id long, ts timestamp"
    cs = spark.readStream.schema(schema).parquet(cdir)
    ps = spark.readStream.schema(schema).parquet(pdir)
    joined = incremental.stream_stream_join(cs, ps, within="10 minutes")
    _run_to_parquet(joined, out_dir, ckpt)
    got = spark.read.parquet(out_dir).toPandas()
    pairs = set(zip(got["click_id"], got["purchase_id"]))
    assert pairs == {(10, 11), (20, 21)}


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
    inc.merge_triple_support(d1, out, epoch_id=0, n_buckets=4)
    e0_mtime = os.path.getmtime(os.path.join(out, "epoch=0"))
    import time as _t
    _t.sleep(1.1)
    inc.merge_triple_support(d2, out, epoch_id=1, n_buckets=4)
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
    inc.merge_triple_support(d2, out, epoch_id=1, n_buckets=4)
    again = rollup()
    assert (again["n_support"] == full["n_support"]).all()
    assert (again["n_convs_est"] == full["n_convs"]).all()
    assert os.path.getmtime(os.path.join(out, "epoch=0")) == e0_mtime
    assert os.path.getmtime(os.path.join(out, "epoch=1")) == e1_mtime


def test_incremental_triple_support_streaming(spark, tmp_path):
    """End-to-end through Structured Streaming: triples parquet dir ->
    availableNow foreachBatch epoch partials -> rollup equals the
    batch rollup."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    rows = [
        ("Q1", "likes", "Q2", "c1", 3),
        ("Q1", "likes", "Q2", "c2", 5),
        ("Q3", "knows", "Q4", "c1", 2),
    ]
    src = str(tmp_path / "triples_in")
    batch = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
    batch.write.parquet(src)
    stream = (
        spark.readStream
        .schema("subj string, pred string, obj string, conv_id string, turn_idx long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "support")
    q = inc.incremental_triple_support(
        stream, out, str(tmp_path / "ckpt"), n_buckets=4
    )
    q.awaitTermination(120)
    got = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    full = graph.triple_support(batch).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (got["n_support"] == full["n_support"]).all()
    assert (got["n_convs_est"] == full["n_convs"]).all()


def test_triple_support_mid_epoch_kill_restart(spark, tmp_path):
    """Kill AFTER the epoch partial lands but BEFORE the streaming
    checkpoint commits the batch -- the worst-case crash window for the
    rollup. On restart from the same checkpoint, Spark replays the
    uncommitted epoch; the replay dynamic-overwrites exactly its own
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
        inc.merge_triple_support(batch_df, out, epoch_id, n_buckets=4)
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
    flow through streaming exact-dedup (first-seen wins, watermark-
    bounded state) -> token-count quality gate -> PII redaction, all in
    ONE streaming plan; the sink equals the same operators composed in
    batch over the union of the arrivals."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wikidata_pq_spark.functions import text as TX
    from wikidata_pq_spark.operators import curation
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["doc_id", "ts", "text"]
    batch1 = [
        (0, "2024-01-01 10:00:00", "mail me at a@b.io about the spark job today"),
        (1, "2024-01-01 10:01:00", "short"),                      # gated out
        (2, "2024-01-01 10:02:00", "plain clean document text here"),
    ]
    batch2 = [
        (3, "2024-01-01 10:10:00", "mail me at a@b.io about the spark job today"),  # dup of 0
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

    flow = compose(inc.streaming_dedup(stream))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_to_parquet(flow, out_dir, ckpt)
    got = spark.read.parquet(out_dir).toPandas().sort_values("doc_id")

    # batch equivalent: first-seen dedup == exact_dup_groups survivors
    all_rows = spark.read.parquet(src)
    from wikidata_pq_spark.operators import dedup
    survivors = dedup.exact_dup_groups(all_rows).select(
        F.col("keep_id").alias("doc_id")
    )
    batch_out = (
        compose(all_rows.join(survivors, "doc_id"))
        .toPandas().sort_values("doc_id")
    )
    assert list(got["doc_id"]) == list(batch_out["doc_id"]) == [0, 2, 4]
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
        inc.merge_current_beliefs(batch_df, out, epoch_id, n_buckets=4)
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
        inc.merge_triple_support(dfs[i], out, epoch_id=i, n_buckets=4)
    summary = inc.compact_triple_support(spark, out, n_buckets=4)
    assert summary["compacted"] == 3 and summary["generation"] == -1
    assert inc._epochs_on_disk(out) == [-1]
    inc.merge_triple_support(dfs[3], out, epoch_id=3, n_buckets=4)

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
        inc.merge_triple_support(dfs[1], out, epoch_id=1, n_buckets=4)
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
    s2 = inc.compact_triple_support(spark, out, n_buckets=4)
    assert s2["generation"] == -2 and 1 in s2["removed_epochs"]
    assert inc._epochs_on_disk(out) == [-2]
    final = inc.read_triple_support(spark, out).toPandas().set_index(
        ["subj", "pred", "obj"]).sort_index()
    assert (final["n_support"] == full["n_support"]).all()

    # single-generation store: compaction is a no-op
    assert inc.compact_triple_support(spark, out, n_buckets=4)["compacted"] == 0


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
    inc.merge_current_beliefs(e0, out, epoch_id=0, n_buckets=4)
    inc.merge_current_beliefs(e1, out, epoch_id=1, n_buckets=4)
    summary = inc.compact_current_beliefs(spark, out, n_buckets=4)
    assert summary["compacted"] == 2
    inc.merge_current_beliefs(e2, out, epoch_id=2, n_buckets=4)

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
    inc.merge_triple_support(d, out, epoch_id=0, n_buckets=2)
    inc.merge_triple_support(d, out, epoch_id=1, n_buckets=2)
    inc.compact_triple_support(spark, out, n_buckets=2)
    with _pt.raises(ValueError, match="compacted_through"):
        inc.merge_triple_support(d, out, epoch_id=0, n_buckets=2)
    # the NEXT genuine epoch (above the watermark) still merges
    inc.merge_triple_support(d, out, epoch_id=2, n_buckets=2)
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
    inc.merge_triple_support(d0, out, epoch_id=0, n_buckets=2)
    inc.merge_triple_support(d1, out, epoch_id=1, n_buckets=2)

    # simulate the crashed first compaction: the merged generation is
    # fully on disk, the log commit never happened
    crashed = str(tmp_path / "crashed")
    inc.merge_triple_support(d0, crashed, epoch_id=0, n_buckets=2)
    inc.merge_triple_support(d1, crashed, epoch_id=1, n_buckets=2)
    inc.compact_triple_support(spark, crashed, n_buckets=2)
    import shutil

    shutil.copytree(
        os.path.join(crashed, "epoch=-1"), os.path.join(out, "epoch=-1")
    )
    assert os.path.isdir(os.path.join(out, "epoch=-1"))
    assert inc.live_epochs(out) == [0, 1]  # uncommitted gen NOT live

    got = inc.read_triple_support(spark, out).toPandas()
    assert got["n_support"].iloc[0] == 2  # would be 4 if double-counted

    summary = inc.compact_triple_support(spark, out, n_buckets=2)
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
    s2 = inc.compact_triple_support(spark, out, n_buckets=2)
    assert s2["compacted"] == 0 and 0 in s2["removed_epochs"]
    assert inc._epochs_on_disk(out) == [-2]


def test_lost_manifest_recovers_from_bak_then_fails_loudly(spark, tmp_path):
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
    inc.merge_triple_support(d, out, epoch_id=0, n_buckets=2)
    inc.merge_triple_support(d, out, epoch_id=1, n_buckets=2)
    inc.compact_triple_support(spark, out, n_buckets=2)

    def snapshot():
        paths = [os.path.join(r, f) for r, _, fs in os.walk(out) for f in fs]
        return sorted((p, os.path.getmtime(p)) for p in paths)

    shutil.rmtree(os.path.join(out, "_log"))
    before = snapshot()
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.read_triple_support(spark, out).count()
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.compact_triple_support(spark, out, n_buckets=2)
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.merge_triple_support(d, out, epoch_id=2, n_buckets=2)
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
        inc.merge_triple_support(dfs[i], out, epoch_id=i, n_buckets=2)

    orig_commit = inc._commit
    merged = []

    def commit_after_merge(out_dir, version, snapshot):
        if snapshot.get("generation") is not None and not merged:
            merged.append(1)
            inc.merge_triple_support(dfs[3], out, epoch_id=3, n_buckets=2)
        return orig_commit(out_dir, version, snapshot)

    monkeypatch.setattr(inc, "_commit", commit_after_merge)
    with _pt.raises(RuntimeError, match="lost the commit race"):
        inc.compact_triple_support(spark, out, n_buckets=2)
    monkeypatch.setattr(inc, "_commit", orig_commit)
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
    s2 = inc.compact_triple_support(spark, out, n_buckets=2)
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
        inc.merge_triple_support(d, out, epoch_id=i, n_buckets=2)
    assert inc.compact_triple_support(spark, out, n_buckets=2)["compacted"] == 3
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


def test_concurrent_compaction_refused_by_lease(spark, tmp_path, monkeypatch):
    """Two compactors: B commits between compactor A's log read and A's
    commit. A loses the race for the log version and raises, the store
    reads equal to the batch reference, and the next compaction leaves
    only its own generation on disk."""
    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.operators import graph
    from wikidata_pq_spark.streaming import incremental as inc

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    epochs = [
        [("Q1", "p", "Q2", "c1", 1)],
        [("Q1", "p", "Q2", "c2", 2), ("Q3", "q", "Q4", "c3", 1)],
        [("Q3", "q", "Q4", "c4", 4)],
    ]
    dfs = [spark.createDataFrame(pd.DataFrame(e, columns=cols)) for e in epochs]
    out = str(tmp_path / "support")
    inc.merge_triple_support(dfs[0], out, epoch_id=0, n_buckets=2)
    inc.merge_triple_support(dfs[1], out, epoch_id=1, n_buckets=2)

    orig_commit = inc._commit
    raced = []

    def commit_after_rival(out_dir, version, snapshot):
        if not raced:
            raced.append(None)  # the rival's own commit passes straight through
            raced[0] = inc.compact_triple_support(spark, out, n_buckets=2)
        return orig_commit(out_dir, version, snapshot)

    monkeypatch.setattr(inc, "_commit", commit_after_rival)
    with _pt.raises(RuntimeError, match="lost the commit race"):
        inc.compact_triple_support(spark, out, n_buckets=2)
    monkeypatch.setattr(inc, "_commit", orig_commit)
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

    inc.merge_triple_support(dfs[2], out, epoch_id=2, n_buckets=2)
    s = inc.compact_triple_support(spark, out, n_buckets=2)
    assert s["compacted"] == 2
    assert inc._epochs_on_disk(out) == [s["generation"]]
    got, full = rollup(), batch(3)
    assert got.index.equals(full.index)
    assert (got["n_support"] == full["n_support"]).all()


def test_crash_between_bak_and_primary_manifest_reads_committed(
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
        inc.merge_triple_support(d, out, epoch_id=i, n_buckets=2)

    def crash(out_dir, version, snapshot):
        raise OSError("injected crash before the commit")

    orig_commit = inc._commit
    monkeypatch.setattr(inc, "_commit", crash)
    with _pt.raises(OSError, match="injected crash"):
        inc.compact_triple_support(spark, out, n_buckets=2)
    monkeypatch.setattr(inc, "_commit", orig_commit)

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

    s2 = inc.compact_triple_support(spark, out, n_buckets=2)
    assert s2["compacted"] == 3 and s2["generation"] == -2
    assert sorted(s2["removed_epochs"]) == [-1, 0, 1, 2]
    assert inc._epochs_on_disk(out) == [-2]
    final = inc.read_triple_support(spark, out).toPandas()
    assert final["n_support"].sum() == full["n_support"].sum()

    # first merge into a fresh store dies before committing version 0
    fresh = str(tmp_path / "fresh")
    monkeypatch.setattr(inc, "_commit", crash)
    with _pt.raises(OSError, match="injected crash"):
        inc.merge_triple_support(dfs[0], fresh, epoch_id=0, n_buckets=2)
    monkeypatch.setattr(inc, "_commit", orig_commit)
    assert inc._epochs_on_disk(fresh) == [0]
    assert not os.path.exists(os.path.join(fresh, "_log"))
    with _pt.raises(RuntimeError, match="no committed version"):
        inc.read_triple_support(spark, fresh).count()
    inc.merge_triple_support(dfs[0], fresh, epoch_id=0, n_buckets=2)
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

    def write_dir(partial, out_dir, epoch, n_buckets):
        os.makedirs(os.path.join(out_dir, f"epoch={epoch}"))

    monkeypatch.setattr(inc, "_write_partition", write_dir)
    inc._merge_epoch(None, out, 0, 2)  # version 0 exists before the race
    errors = []

    def merge(epoch):
        try:
            inc._merge_epoch(None, out, epoch, 2)
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


@pytest.mark.classic_session_only
def test_ensure_parallelism_non_numeric_shuffle_conf(spark, monkeypatch):
    """r8 (ADVICE): a platform that sets a non-numeric
    spark.sql.shuffle.partitions (e.g. 'auto') must fall back to the
    real probe instead of raising ValueError on every shuffled frame."""
    from pyspark.sql import functions as F

    from wikidata_pq_spark.operators import dedup

    df = (
        spark.range(100)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
    )
    real_get = type(spark.conf).get

    def fake_get(self, key, default=None):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, default)

    monkeypatch.setattr(type(spark.conf), "get", fake_get)
    out = dedup.ensure_parallelism(df)  # must not raise
    assert out.count() == 10
