"""Incremental ingestion via Structured Streaming.

The reference is batch-only; its incremental behaviors are a resumable
chunk loop with idempotent step gates (reference: main.py:65,
process.py:279-282, DESIGN.md:119-129). The Spark-native upgrade is
Structured Streaming with checkpointed exactly-once sinks:

- ``incremental_extract``: readStream over a transcripts directory ->
  ``foreachBatch`` running the SAME batch extraction + linking per
  micro-batch -> append parquet. The streaming checkpoint replaces the
  reference's JSONL step files: a killed job resumes from the last
  committed batch with no duplicate output.
- ``windowed_event_counts``: watermarked sliding-window aggregation
  over an event stream (late data bounded by the watermark).
- ``merge_triple_support`` / ``merge_current_beliefs`` (and their
  ``incremental_*`` foreachBatch wrappers): each micro-batch lands as
  one partial aggregate under its own ``epoch=N`` partition, reads
  reduce the live partials, and ``compact_*`` folds them into one
  generation. The live set is an append-only commit log,
  ``<store>/_log/<version:020d>.json``, one full snapshot per version,
  installed with ``os.link`` so only one writer can create each
  version. A replay of a committed epoch is a no-op, a merge or
  compaction that dies before its commit stays invisible, and of two
  writers racing for a version the loser retries (merge) or raises
  (compaction). See the commit-log section below.

Invariant: a micro-batch must contain whole conversations (the
coreference rule is conversation-scoped). Upstream writers satisfy
this by emitting conversation-complete files -- the same contract the
reference's per-file processing relies on (one entity never spans
source files).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract, linking

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def incremental_extract(
    stream: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Start an availableNow foreachBatch pipeline; returns the query.

    Each micro-batch runs the identical batch operators (no separate
    streaming code path to drift), appending linked triples to parquet.
    """

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: a crash after a partial append
        # re-runs the epoch on restart. Writing each epoch into its own
        # epoch=N partition with DYNAMIC partition-overwrite makes the
        # re-run idempotent -- the retry replaces exactly its own
        # partition, never touching committed epochs (the Spark-native
        # form of the reference's skip-if-done step gates, reference:
        # process.py:279-282).
        mentions = extract.extract_mentions(batch_df)
        linked = linking.link_mentions(mentions, alias_dict, strategy="broadcast")
        (
            linked.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out_dir)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_window_counts(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "user_id",
) -> DataFrame:
    """Streaming sessionization: dynamic-gap session windows per key
    (the streaming twin of temporal.sessionize -- state closes once the
    watermark passes a session's end, so state is bounded)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), key)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col(key),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "10 minutes",
    watermark: str = "20 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Stream-stream inner join: purchases matched to a prior click by
    the same key within ``within`` (the streaming as-of-window shape).

    Both sides carry watermarks and the join carries a time-range
    condition -- the two requirements that let Spark bound each side's
    state buffer (rows older than watermark + range are evicted).
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col(key).alias("c_key"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col(key).alias("p_key"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_key") == F.col("p_key"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return c.join(p, cond, "inner").select(
        F.col("c_key").alias(key), "click_id", "purchase_id", "click_ts", "purchase_ts"
    )


def streaming_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first-seen wins, duplicates dropped
    across micro-batches.

    ``dropDuplicates`` on the content digest keeps per-key state in the
    state store; the watermark bounds that state (a duplicate arriving
    later than the watermark can re-emit -- the standard
    bounded-state/exactness trade every streaming dedup makes at scale;
    training-data ingestion pairs this with the batch exact_dup_groups
    backstop downstream).
    """
    return (
        docs_stream.withColumn("digest", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicates(["digest"])
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked (sliding) window counts per event_type."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def merge_triple_support(
    batch: DataFrame, out_dir: str, epoch_id: int, n_buckets: int = 16
) -> None:
    """Merge one batch of (subj, pred, obj, conv_id, turn_idx) triples
    into the running support table: the batch's PARTIAL aggregate lands
    under its own ``epoch=N`` partition and is then committed to the
    store's log.

    - support count, first sighting, and an HLL sketch of conv_ids per
      triple key (count-distinct is NOT mergeable across batches;
      sketches are -- the standard streaming-rollup trick);
    - an at-least-once replay of an epoch the log already lists does
      nothing, so a committed partial is never rewritten or counted
      twice; a replay of an epoch that died before its commit rewrites
      exactly its own partition.

    The read side (:func:`read_triple_support`) reduces the live
    partials (sum / min / hll_union). At 10^12 turns the per-epoch
    write is proportional to the batch; when the partial count grows,
    :func:`compact_triple_support` folds the live set into one
    generation (see the commit-log section below).
    """
    agg = (
        batch.groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_support"),
            F.min(F.struct("conv_id", "turn_idx")).alias("_first"),
            F.hll_sketch_agg("conv_id").alias("conv_hll"),
        )
        .select(
            "subj", "pred", "obj", "n_support",
            F.col("_first.conv_id").alias("first_conv"),
            F.col("_first.turn_idx").alias("first_turn"),
            "conv_hll",
        )
    )
    _merge_epoch(agg, out_dir, epoch_id, n_buckets)


def _reduce_support(raw: DataFrame) -> DataFrame:
    """Reduce support partials into one partial of the same schema. It
    keeps the RAW hll sketch (hll_union_agg, not the estimate), so a
    compacted partial stays mergeable with future epochs."""
    return (
        raw.groupBy("subj", "pred", "obj")
        .agg(
            F.sum("n_support").alias("n_support"),
            F.min(F.struct("first_conv", "first_turn")).alias("_first"),
            F.hll_union_agg("conv_hll").alias("conv_hll"),
        )
        .select(
            "subj", "pred", "obj", "n_support",
            F.col("_first.first_conv").alias("first_conv"),
            F.col("_first.first_turn").alias("first_turn"),
            "conv_hll",
        )
    )


def read_triple_support(spark: SparkSession, out_dir: str) -> DataFrame:
    """Reduce the live per-epoch partials into the current rollup:
    (subj, pred, obj, n_support, n_convs_est, first_conv, first_turn).
    Sum / lexicographic-min / hll_union are all associative, so the
    result is independent of epoch arrival order."""
    return _reduce_support(_live_partials(spark, out_dir)).select(
        "subj", "pred", "obj", "n_support",
        F.hll_sketch_estimate("conv_hll").cast("long").alias("n_convs_est"),
        "first_conv", "first_turn",
    )


def incremental_triple_support(
    stream_triples: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """Streaming wrapper: foreachBatch(merge_triple_support) with an
    availableNow trigger -- each micro-batch of linked triples lands as
    its own epoch partial; the streaming checkpoint resumes a killed
    job at the next uncommitted batch, and a replayed batch is merged
    at most once."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_triple_support(batch_df, out_dir, epoch_id, n_buckets=n_buckets)

    return (
        stream_triples.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Incremental current-beliefs maintenance (the MERGE-INTO analogue for
# the latest-assertion-wins view). Same epoch-partial shape as the
# triple-support rollup: argmax is associative, so each epoch stores
# only its per-(subj, pred) winner and the read side reduces winners --
# the view is maintained without ever re-scanning committed epochs.
# Reference analogue: the resumable state machine (reference:
# state.py:30-35) applied to a live view.
# --------------------------------------------------------------------------

BELIEF_ORDER_COLS = ("ts", "conv_id", "turn_idx")


def _argmax(frame: DataFrame, order_cols: tuple) -> DataFrame:
    """Per-(subj, pred) winner, as (subj, pred, obj, last_<col>...).
    The comparison key is the lexicographic max over
    (order_cols..., obj) == the batch operator's row_number window
    ordered desc by each order col with obj as the final deterministic
    tiebreak."""
    best = F.struct(
        *[F.col(c).alias(c) for c in order_cols], F.col("obj").alias("obj")
    )
    return (
        frame.groupBy("subj", "pred")
        .agg(F.max(best).alias("_best"))
        .select(
            "subj",
            "pred",
            F.col("_best.obj").alias("obj"),
            *[F.col(f"_best.{c}").alias(f"last_{c}") for c in order_cols],
        )
    )


def _reduce_beliefs(raw: DataFrame, order_cols: tuple) -> DataFrame:
    """Argmax of argmaxes under the same key: the reduced partial is
    exactly the partial a single giant epoch would have written."""
    return _argmax(
        raw.select(
            "subj", "pred", "obj",
            *[F.col(f"last_{c}").alias(c) for c in order_cols],
        ),
        order_cols,
    )


def merge_current_beliefs(
    batch: DataFrame,
    out_dir: str,
    epoch_id: int,
    order_cols: tuple = BELIEF_ORDER_COLS,
    n_buckets: int = 16,
) -> None:
    """Merge one batch of triples into the latest-assertion-wins view:
    the batch's per-(subj, pred) ARGMAX partial lands under its own
    ``epoch=N`` partition and is committed to the store's log, with the
    same at-most-once replay rule as ``merge_triple_support``.

    Argmax under a fixed ordering is associative and commutative:
    max(max(A), max(B)) == max(A ∪ B) -- so per-epoch winners lose no
    information and the read-side reduce is exact regardless of epoch
    arrival order. Each partial is O(distinct keys in the batch), not
    O(batch rows): the epoch store stays a rollup, never a log.
    """
    _merge_epoch(_argmax(batch, order_cols), out_dir, epoch_id, n_buckets)


def read_current_beliefs(
    spark: SparkSession,
    out_dir: str,
    order_cols: tuple = BELIEF_ORDER_COLS,
) -> DataFrame:
    """Reduce the live per-epoch argmax partials into the current view
    -- identical output contract to ``operators.graph.current_beliefs``
    run over the full triple history: (subj, pred, obj, last_<col>...).
    """
    return _reduce_beliefs(_live_partials(spark, out_dir), order_cols)


def incremental_current_beliefs(
    stream_triples: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    order_cols: tuple = BELIEF_ORDER_COLS,
    n_buckets: int = 16,
):
    """Streaming wrapper: foreachBatch(merge_current_beliefs) with an
    availableNow trigger; the streaming checkpoint resumes a killed job
    at the next uncommitted batch and a replayed batch is merged at
    most once."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_current_beliefs(
            batch_df, out_dir, epoch_id, order_cols=order_cols, n_buckets=n_buckets
        )

    return (
        stream_triples.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Epoch-partial compaction and the commit log. Both stores grow one
# partial per epoch; sum/min/hll-union and argmax are associative, so
# the live partials reduce into ONE partial -- a generation, stored
# under a NEGATIVE epoch id so it never collides with a streaming epoch
# (ids >= 0) -- with no information loss.
#
# Bare parquet has no atomic multi-partition commit, so the live set is
# recorded in an append-only log, ``<store>/_log/<version:020d>.json``
# (the Delta Lake protocol, Armbrust et al., VLDB 2020). Each version is
# a full snapshot {live, compacted_through, generation}, written to a
# temp file, fsync'd, and installed with os.link, which fails if the
# version exists: of two writers that read version V, exactly one
# creates V+1 and the other gets FileExistsError.
#
# - A merge writes its ``epoch=N`` partition, then commits live ∪ {N};
#   on a lost race it re-reads and retries, since adding an epoch
#   commutes with any other commit. An epoch the log already lists is
#   not rewritten (Delta's idempotent txnVersion rule for foreachBatch),
#   so no committed partition changes under a running compactor. An
#   epoch at or below compacted_through is refused: its id came from a
#   reset streaming checkpoint.
# - A compaction reads version V, claims ``epoch=<g>`` with os.mkdir
#   (g = lowest negative id on disk - 1), reduces exactly V's live set
#   into it and commits V+1 = {live: [g]}. A lost race raises: the
#   winning commit may have retired or added what this one read.
# - Garbage is collected against a committed version only, and only
#   what no later version can list: retired or never-committed
#   non-negative dirs at or below compacted_through (merges refuse
#   them), and negative dirs above the committed generation -- those
#   were claimed before it, by compactors that read a version no newer
#   than the one it replaced and so can no longer commit.
#
# Reads reduce exactly the newest version's live set (``epoch IN live``
# prunes partitions, not rows), so a partition whose merge or
# compaction died before its commit is invisible by construction.
# --------------------------------------------------------------------------

_VERSION_FILE = re.compile(r"^(\d{20})\.json$")


def _log_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_log")


def _epochs_on_disk(out_dir: str) -> list[int]:
    if not os.path.isdir(out_dir):
        return []
    out = []
    for d in os.listdir(out_dir):
        if d.startswith("epoch="):
            try:
                out.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _head(out_dir: str, own_epoch: int | None = None) -> tuple[int, dict]:
    """The newest committed log version and its snapshot; version -1
    and an empty snapshot for a store with no log yet. A store whose
    epoch partitions have no committed log version (the log was lost
    or never written) is refused: guessing which partitions are live
    could double-count a generation or drop committed epochs. The one
    partition allowed is ``own_epoch``, the caller's own replayed
    write, so a first merge that died before committing version 0 can
    still be replayed."""
    log = _log_dir(out_dir)
    names = os.listdir(log) if os.path.isdir(log) else []
    versions = [int(m.group(1)) for m in map(_VERSION_FILE.match, names) if m]
    if versions:
        version = max(versions)
        with open(os.path.join(log, f"{version:020d}.json")) as fh:
            return version, json.load(fh)
    stray = [e for e in _epochs_on_disk(out_dir) if e != own_epoch]
    if stray:
        raise RuntimeError(
            f"store at {out_dir} has epoch partitions {stray} but no "
            f"committed version under {log}: the commit log was lost "
            "or never written, so the live set is unknown. Restore the "
            "log; the data was left untouched."
        )
    return -1, {"live": [], "compacted_through": -1, "generation": None}


def _commit(out_dir: str, version: int, snapshot: dict) -> None:
    """Install ``snapshot`` as log ``version``; raises FileExistsError
    if another writer committed that version first."""
    log = _log_dir(out_dir)
    os.makedirs(log, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=".", suffix=".tmp", dir=log)
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(snapshot, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, os.path.join(log, f"{version:020d}.json"))
    finally:
        os.remove(tmp)


def live_epochs(out_dir: str) -> list[int]:
    """The epoch partitions the read side reduces: the newest log
    version's live set (sorted)."""
    return _head(out_dir)[1]["live"]


def _live_partials(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir).filter(
        F.col("epoch").isin(live_epochs(out_dir))
    )


def _write_partition(
    partial: DataFrame, out_dir: str, epoch: int, n_buckets: int
) -> None:
    """Write ``partial`` as partition ``epoch=<epoch>``, bucketed by
    subj; dynamic overwrite replaces only that partition."""
    from ..sources import tableio

    (
        partial.withColumn("bucket", tableio.bucket_column("subj", n_buckets))
        .withColumn("epoch", F.lit(epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", "bucket")
        .parquet(out_dir)
    )


def _check_above_watermark(out_dir: str, epoch: int, snapshot: dict) -> None:
    if epoch <= snapshot["compacted_through"]:
        raise ValueError(
            f"epoch {epoch} <= compacted_through "
            f"{snapshot['compacted_through']}: the store at {out_dir} was "
            "compacted under a streaming checkpoint this batch did not "
            "come from (checkpoint reset?). Writing would be silently "
            "invisible to reads. Use a fresh out_dir or restore the "
            "original checkpoint."
        )


def _merge_epoch(
    partial: DataFrame, out_dir: str, epoch_id: int, n_buckets: int
) -> None:
    """Write one epoch's partial and commit it: the merge protocol."""
    epoch = int(epoch_id)
    version, snapshot = _head(out_dir, own_epoch=epoch)
    if epoch in snapshot["live"]:
        return  # a replay of a committed epoch
    _check_above_watermark(out_dir, epoch, snapshot)
    _write_partition(partial, out_dir, epoch, n_buckets)
    while True:
        live = sorted(snapshot["live"] + [epoch])
        try:
            _commit(out_dir, version + 1, {**snapshot, "live": live})
            return
        except FileExistsError:  # another writer committed first: re-read
            version, snapshot = _head(out_dir, own_epoch=epoch)
            if epoch in snapshot["live"]:
                return
            _check_above_watermark(out_dir, epoch, snapshot)


def _claim_generation(out_dir: str) -> int:
    """Create ``epoch=<g>`` for a new generation, g = lowest negative id
    on disk - 1; os.mkdir makes the claim exclusive."""
    while True:
        gen = min([0] + _epochs_on_disk(out_dir)) - 1
        try:
            os.mkdir(os.path.join(out_dir, f"epoch={gen}"))
            return gen
        except FileExistsError:
            continue


def _collect(out_dir: str, snapshot: dict) -> list[int]:
    """Delete the partitions no version after ``snapshot`` can list (see
    the section comment); returns their epoch ids."""
    live, gen = set(snapshot["live"]), snapshot["generation"]
    gone = []
    for e in _epochs_on_disk(out_dir):
        dead = 0 <= e <= snapshot["compacted_through"] or (
            gen is not None and gen < e < 0
        )
        if dead and e not in live:
            shutil.rmtree(os.path.join(out_dir, f"epoch={e}"), ignore_errors=True)
            gone.append(e)
    return gone


def _compact(
    spark: SparkSession, out_dir: str, reducer, n_buckets: int
) -> dict:
    """Shared compaction engine: reduce the live epochs of the newest
    log version into one new generation, commit it, then collect
    garbage. ``reducer`` maps the raw live-partial frame to the merged
    partial (same schema minus epoch/bucket). Returns a summary dict;
    with at most one live epoch there is nothing to reduce and the
    summary has ``compacted == 0``."""
    version, snapshot = _head(out_dir)
    live = snapshot["live"]
    if len(live) <= 1:
        return {
            "compacted": 0,
            "live": live,
            "removed_epochs": _collect(out_dir, snapshot),
        }
    gen = _claim_generation(out_dir)
    raw = spark.read.parquet(out_dir).filter(F.col("epoch").isin(live))
    _write_partition(reducer(raw), out_dir, gen, n_buckets)
    committed = {
        "live": [gen],
        "compacted_through": max([snapshot["compacted_through"], *live]),
        "generation": gen,
    }
    try:
        _commit(out_dir, version + 1, committed)
    except FileExistsError:
        raise RuntimeError(
            f"compaction of {out_dir} lost the commit race for log "
            f"version {version + 1}: another writer committed first, so "
            f"generation {gen} was not committed and stays invisible. "
            "Nothing was retired; retry the compaction."
        ) from None
    n_rows = spark.read.parquet(os.path.join(out_dir, f"epoch={gen}")).count()
    return {
        "compacted": len(live),
        "generation": gen,
        "rows": n_rows,
        "removed_epochs": _collect(out_dir, committed),
    }


def compact_triple_support(
    spark: SparkSession, out_dir: str, n_buckets: int = 16
) -> dict:
    """Compact the triple-support epoch store; compact-then-stream ==
    stream, since the generation keeps the raw hll sketch."""
    return _compact(spark, out_dir, _reduce_support, n_buckets)


def compact_current_beliefs(
    spark: SparkSession,
    out_dir: str,
    order_cols: tuple = BELIEF_ORDER_COLS,
    n_buckets: int = 16,
) -> dict:
    """Compact the current-beliefs epoch store (argmax of argmaxes)."""
    return _compact(
        spark, out_dir, lambda raw: _reduce_beliefs(raw, order_cols), n_buckets
    )
