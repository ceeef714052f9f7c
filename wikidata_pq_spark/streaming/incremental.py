"""Incremental rollups via Structured Streaming: the epoch stores.

The reference is batch-only; its incremental behaviors are a resumable
chunk loop with idempotent step gates (reference: main.py:65,
process.py:279-282, DESIGN.md:119-129). Incremental KG input is
``pipeline.KGPipeline``'s: new input files become new chunk units of
the same store. What is incremental here is two live views over a
stream of triples, each committed through a log:

- ``merge_triple_support`` / ``merge_current_beliefs`` (and
  ``incremental_current_beliefs``, the foreachBatch wrapper of the
  second): each micro-batch lands as one partial aggregate under its
  own ``epoch=N`` partition, reads reduce the live partials, and
  ``compact_*`` folds them into one generation.

Both sinks share one commit protocol (``_merge_epoch``): the live set
is a ``checkpoint`` commit log under ``<store>/_log/``. A replay of a
committed epoch is a no-op, a merge or compaction that dies before its
commit stays invisible, and of two writers racing for a version the
loser retries (merge) or raises (compaction). See the commit-log
section below.

Invariant: a micro-batch must contain whole conversations (the
coreference rule is conversation-scoped). Upstream writers satisfy
this by emitting conversation-complete files -- the same contract the
reference's per-file processing relies on (one entity never spans
source files).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..plans import checkpoint
from ..sources import tableio


def merge_triple_support(batch: DataFrame, out_dir: str, epoch_id: int) -> None:
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
    _merge_epoch(agg, out_dir, epoch_id)


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
    return _reduce_support(_live_partials(spark, out_dir, _head(out_dir)[1])).select(
        "subj", "pred", "obj", "n_support",
        F.hll_sketch_estimate("conv_hll").cast("long").alias("n_convs_est"),
        "first_conv", "first_turn",
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

# graph.current_beliefs's default order. A constant: the stored last_*
# columns are only readable under the order they were merged with.
BELIEF_ORDER_COLS = ("ts", "conv_id", "turn_idx")


def _argmax(frame: DataFrame) -> DataFrame:
    """Per-(subj, pred) winner, as (subj, pred, obj, last_<col>...).
    The comparison key is the lexicographic max over
    (BELIEF_ORDER_COLS..., obj) == the batch operator's row_number
    window ordered desc by each order col with obj as the final
    deterministic tiebreak."""
    best = F.struct(
        *[F.col(c).alias(c) for c in BELIEF_ORDER_COLS], F.col("obj").alias("obj")
    )
    return (
        frame.groupBy("subj", "pred")
        .agg(F.max(best).alias("_best"))
        .select(
            "subj",
            "pred",
            F.col("_best.obj").alias("obj"),
            *[F.col(f"_best.{c}").alias(f"last_{c}") for c in BELIEF_ORDER_COLS],
        )
    )


def _reduce_beliefs(raw: DataFrame) -> DataFrame:
    """Argmax of argmaxes under the same key: the reduced partial is
    exactly the partial a single giant epoch would have written."""
    return _argmax(
        raw.select(
            "subj", "pred", "obj",
            *[F.col(f"last_{c}").alias(c) for c in BELIEF_ORDER_COLS],
        )
    )


def merge_current_beliefs(batch: DataFrame, out_dir: str, epoch_id: int) -> None:
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
    _merge_epoch(_argmax(batch), out_dir, epoch_id)


def read_current_beliefs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Reduce the live per-epoch argmax partials into the current view
    -- identical output contract to ``operators.graph.current_beliefs``
    run over the full triple history: (subj, pred, obj, last_<col>...).
    """
    return _reduce_beliefs(_live_partials(spark, out_dir, _head(out_dir)[1]))


def incremental_current_beliefs(
    stream_triples: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Streaming wrapper: foreachBatch(merge_current_beliefs) with an
    availableNow trigger (drain what is there, then stop); returns the
    query. The streaming checkpoint resumes a killed job at the next
    uncommitted batch and a replayed batch is merged at most once."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_current_beliefs(batch_df, out_dir, epoch_id)

    return (
        stream_triples.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Epoch-partial compaction and the commit log. Every store grows one
# partition per epoch. The rollups' sum/min/hll-union and argmax are
# associative, so their live partials reduce into ONE partial -- a
# generation, stored under a NEGATIVE epoch id so it never collides
# with a streaming epoch (ids >= 0) -- with no information loss.
#
# Bare parquet has no atomic multi-partition commit, so the live set is
# recorded in the store's commit log, ``<store>/_log/`` (``checkpoint.
# head``/``commit``: one full snapshot per version, one writer wins each
# version). A snapshot is {live, compacted_through, generation, schema};
# ``schema`` is the written partial's schema, epoch included (Delta's
# metaData.schemaString), so a read builds its scan without a
# schema-inference job.
#
# - Each partial's parquet files go straight into its ``epoch=N/``
#   directory (``_write_partition``); stores written before, by a
#   ``partitionBy("epoch")`` dynamic overwrite of the store root, have
#   the same layout and logged schema.
# - A merge overwrites its ``epoch=N`` partition, then commits live ∪ {N};
#   on a lost race it re-reads and retries, since adding an epoch
#   commutes with any other commit. An epoch the log already lists is
#   not rewritten (Delta's idempotent txnVersion rule for foreachBatch),
#   so no committed partition changes under a running compactor. An
#   epoch at or below compacted_through is refused: its id came from a
#   reset streaming checkpoint.
# - A compaction reads version V, claims ``epoch=<g>`` with os.mkdir
#   (g = lowest negative id on disk - 1), reduces exactly V's live set
#   into it, appending, so the claimed directory is never deleted, and
#   commits V+1 = {live: [g]}. A lost race raises: the
#   winning commit may have retired or added what this one read.
# - Garbage is collected against a committed version only, and only
#   what no later version can list: retired or never-committed
#   non-negative dirs at or below compacted_through (merges refuse
#   them), and negative dirs above the committed generation -- those
#   were claimed before it, by compactors that read a version no newer
#   than the one it replaced and so can no longer commit.
#
# Reads take exactly the newest version's live set (``epoch IN live``
# prunes partitions, not rows), so a partition whose merge or
# compaction died before its commit is invisible by construction.
# --------------------------------------------------------------------------


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
    """The store's newest committed version and its snapshot; version -1
    and an empty snapshot for a store with no log yet. A store whose
    epoch partitions have no committed log version (the log was lost
    or never written) is refused: guessing which partitions are live
    could double-count a generation or drop committed epochs. The one
    partition allowed is ``own_epoch``, the caller's own replayed
    write, so a first merge that died before committing version 0 can
    still be replayed."""
    version, snapshot = checkpoint.head(_log_dir(out_dir))
    if version >= 0:
        return version, snapshot
    stray = [e for e in _epochs_on_disk(out_dir) if e != own_epoch]
    if stray:
        raise RuntimeError(
            f"store at {out_dir} has epoch partitions {stray} but no "
            f"committed version under {_log_dir(out_dir)}: the commit log "
            "was lost or never written, so the live set is unknown. "
            "Restore the log; the data was left untouched."
        )
    return -1, {"live": [], "compacted_through": -1, "generation": None, "schema": None}


def live_epochs(out_dir: str) -> list[int]:
    """The epoch partitions the read side reduces: the newest log
    version's live set (sorted)."""
    return _head(out_dir)[1]["live"]


def _live_partials(spark: SparkSession, out_dir: str, snapshot: dict) -> DataFrame:
    """The live partials of ``snapshot``, read with its logged schema:
    building the scan launches no Spark job."""
    if snapshot["schema"] is None:
        raise RuntimeError(
            f"store at {out_dir} has no committed version under "
            f"{_log_dir(out_dir)}: no epoch was merged into it yet."
        )
    return (
        spark.read.schema(StructType.fromJson(snapshot["schema"]))
        .parquet(out_dir)
        .filter(F.col("epoch").isin(snapshot["live"]))
    )


def _write_partition(
    partial: DataFrame, out_dir: str, epoch: int, mode: str = "overwrite"
) -> dict:
    """Write ``partial`` as partition ``epoch=<epoch>``: its parquet
    files directly in ``<out_dir>/epoch=<epoch>/``, with no ``epoch``
    column in them, as a ``partitionBy("epoch")`` write lays them out.
    A merge overwrites its own directory, so a replay of an uncommitted
    epoch replaces what a dead write left. A compaction appends
    (``mode="append"``) into the generation directory it claimed, which
    it must never delete: the claim is the directory, and a deleted one
    could be claimed again by a concurrent compactor.

    The write carries no literal ``epoch`` column: Spark inlines a
    literal into the generated code, so each epoch id compiled classes
    of its own. Returns the schema for the commit log, the partial's
    fields plus a non-null int ``epoch``: the schema a ``partitionBy``
    write of the same partial logged, so stores written that way still
    read, merge and compact."""
    (
        partial.write.mode(mode)
        # no _SUCCESS marker: the commit log says what is written
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(os.path.join(out_dir, f"epoch={epoch}"))
    )
    schema = StructType([*partial.schema.fields, StructField("epoch", IntegerType(), False)])
    return json.loads(schema.json())


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


def _merge_epoch(partial: DataFrame, out_dir: str, epoch_id: int) -> None:
    """Write one epoch's partial and commit it: the merge protocol."""
    epoch = int(epoch_id)
    version, snapshot = _head(out_dir, own_epoch=epoch)
    if epoch in snapshot["live"]:
        return  # a replay of a committed epoch
    _check_above_watermark(out_dir, epoch, snapshot)
    schema = _write_partition(partial, out_dir, epoch)
    while True:
        live = sorted(snapshot["live"] + [epoch])
        try:
            checkpoint.commit(
                _log_dir(out_dir), version + 1,
                {**snapshot, "live": live, "schema": schema},
            )
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


def _compact(spark: SparkSession, out_dir: str, reducer) -> dict:
    """Shared compaction engine: reduce the live epochs of the newest
    log version into one new generation, commit it, then collect
    garbage. ``reducer`` maps the raw live-partial frame to the merged
    partial (same schema minus epoch). Returns a summary dict; with at
    most one live epoch there is nothing to reduce and the summary has
    ``compacted == 0``."""
    version, snapshot = _head(out_dir)
    live = snapshot["live"]
    if len(live) <= 1:
        return {
            "compacted": 0,
            "live": live,
            "removed_epochs": _collect(out_dir, snapshot),
        }
    gen = _claim_generation(out_dir)
    merged, n_rows = tableio.observe_rows(
        reducer(_live_partials(spark, out_dir, snapshot))
    )
    committed = {
        "live": [gen],
        "compacted_through": max([snapshot["compacted_through"], *live]),
        "generation": gen,
        "schema": _write_partition(merged, out_dir, gen, mode="append"),
    }
    try:
        checkpoint.commit(_log_dir(out_dir), version + 1, committed)
    except FileExistsError:
        raise RuntimeError(
            f"compaction of {out_dir} lost the commit race for log "
            f"version {version + 1}: another writer committed first, so "
            f"generation {gen} was not committed and stays invisible. "
            "Nothing was retired; retry the compaction."
        ) from None
    return {
        "compacted": len(live),
        "generation": gen,
        "rows": n_rows.get["rows"],
        "removed_epochs": _collect(out_dir, committed),
    }


def compact_triple_support(spark: SparkSession, out_dir: str) -> dict:
    """Compact the triple-support epoch store; compact-then-stream ==
    stream, since the generation keeps the raw hll sketch."""
    return _compact(spark, out_dir, _reduce_support)


def compact_current_beliefs(spark: SparkSession, out_dir: str) -> dict:
    """Compact the current-beliefs epoch store (argmax of argmaxes)."""
    return _compact(spark, out_dir, _reduce_beliefs)
