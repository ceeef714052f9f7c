"""Distributed triple extraction: stable ordering + Arrow pandas UDF.

The Spark analogue of the reference's entity->rows flattening
(reference: claims.py:37-45 explode/unnest pipeline): conversation
turns in, many (subj_mention, pred, obj_mention) rows out. Two paths,
result-identical: the pure-Catalyst ``extract_mentions_sql`` (default)
and an Arrow-batched ``mapInPandas`` over conv_id-partitioned, sorted
turns -- the vectorized path the reference chose over per-row lambdas
(reference: claims.py:11-13, compare_perf.py:73-87 rejected
map_elements).

Scale notes (100 TB): the Arrow path's only shuffle is the
repartition by conv_id -- conversations are small and numerous, so
partitions stay even, and a conversation split at an Arrow batch
boundary is carried into the next batch. No driver-side collection
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import rules

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, pred string, subj_mention string, "
    "obj_mention string, obj_kind string, rule_idx int, match_idx long, "
    "ts timestamp"
)


def _extract_group(pdf):
    """Runs the SHARED rule module on whole conversations."""
    out = rules.extract_conversation_triples(pdf)
    # Arrow needs exact dtypes for empty frames too.
    return out.astype(
        {
            "conv_id": "string",
            "turn_idx": "int32",
            "pred": "string",
            "subj_mention": "string",
            "obj_mention": "string",
            "obj_kind": "string",
            "rule_idx": "int32",
            "match_idx": "int64",
            "ts": "datetime64[ns]",
        }
    )


def _extract_partition(batches):
    """mapInPandas body: vectorized extraction over many conversations.

    The partition is hash-partitioned by conv_id and sorted by
    (conv_id, turn_idx), so each conversation is contiguous; Arrow may
    still split one at a batch boundary, so rows of the batch-final
    conv_id are carried into the next batch before processing (the
    bounded-memory streaming discipline of the reference's sinks,
    reference: transforms.py:39-41, applied to batch iteration).
    """
    import pandas as pd

    carry = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        last_conv = pdf["conv_id"].iloc[-1]
        tail_mask = pdf["conv_id"] == last_conv
        carry = pdf[tail_mask]
        body = pdf[~tail_mask]
        if len(body):
            yield _extract_group(body)
    if carry is not None and len(carry):
        yield _extract_group(carry)


def extract_mentions_sql(transcripts: DataFrame) -> DataFrame:
    """Pure-Catalyst extraction: regexp_extract_all + window coreference.

    Zero Python in the hot path -- the whole operator runs inside
    whole-stage codegen and scales with cores, unlike the Arrow
    pandas-UDF path whose JVM<->Python serde is a flat cost per row.
    Semantically identical to the pandas rule module (tested):

    - per rule: regexp_extract_all for group 1 (subj) and group 2 (obj),
      zipped and exploded with match position -- all SEVEN rules in ONE
      projection (array of rule-structs), so the input is scanned once,
      mirroring the reference's single-pass branch union
      (reference: claims.py:198-213) without re-evaluating the parent.
    - coreference: last non-pronoun subject over the conversation window
      ordered by (turn_idx, rule_idx, match_idx) -- F.last(ignorenulls)
      is the distributed ffill.
    """
    turns = transcripts.select(
        "conv_id", "turn_idx", "ts", F.lower(F.col("text")).alias("t")
    ).filter(F.col("t").rlike(rules.TRIGGER_REGEX))

    rule_structs = []
    for k, rule in enumerate(rules.RELATION_RULES):
        subj_arr = F.regexp_extract_all(F.col("t"), F.lit(rule.pattern), 1)
        obj_arr = F.regexp_extract_all(F.col("t"), F.lit(rule.pattern), 2)
        rule_structs.append(
            F.struct(
                F.lit(k).alias("rule_idx"),
                F.lit(rule.pred).alias("pred"),
                F.lit(rule.obj_kind).alias("obj_kind"),
                F.arrays_zip(subj_arr, obj_arr).alias("pairs"),
            )
        )
    exploded = (
        turns.select(
            "conv_id", "turn_idx", "ts", F.explode(F.array(*rule_structs)).alias("r")
        )
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.col("r.rule_idx").alias("rule_idx"),
            F.col("r.pred").alias("pred"),
            F.col("r.obj_kind").alias("obj_kind"),
            F.posexplode(F.col("r.pairs")).alias("match_idx", "pair"),
        )
        .select(
            "conv_id", "turn_idx", "pred",
            F.col("pair")["0"].alias("subj_mention"),
            F.col("pair")["1"].alias("obj_mention"),
            "obj_kind", "rule_idx",
            F.col("match_idx").cast("long").alias("match_idx"),
            "ts",
        )
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "rule_idx", "match_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_pron = F.col("subj_mention") == rules.PRONOUN
    last_concrete = F.last(
        F.when(~is_pron, F.col("subj_mention")), ignorenulls=True
    ).over(w)
    resolved = exploded.withColumn(
        "subj_mention", F.when(is_pron, last_concrete).otherwise(F.col("subj_mention"))
    ).filter(F.col("subj_mention").isNotNull())
    return resolved.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "pred", "subj_mention", "obj_mention", "obj_kind",
        F.col("rule_idx").cast("int").alias("rule_idx"),
        "match_idx",
        "ts",
    )


def extract_mentions(transcripts: DataFrame, method: str = "sql") -> DataFrame:
    """transcripts -> mention-level triples (pre-linking).

    ``method="sql"`` (default, the scale path): the pure-Catalyst
    extractor -- zero Python in the hot path, whole-stage codegen,
    measured 8->32-core scaling 0.765 raw (1.06x this host's ceiling)
    vs 0.43 for the Arrow path, whose JVM<->Python serde is a flat
    per-row cost that does not parallelize past the Python workers.

    ``method="partitions"``: hash-partition by conv_id, sort within
    partitions, then ONE vectorized pandas pass per Arrow batch covering
    many conversations -- the path for rule logic inexpressible in
    Catalyst (per-group Python overhead amortized ~batch_size/avg_conv_len
    times vs per-group calls).

    Both paths are result-identical (tested in
    tests/test_extract_spark.py).

    Output carries ``ts`` -- the asserting turn's timestamp, threaded
    through so downstream recency views (current_beliefs) can order by
    wall clock. A ts-less input frame (ad-hoc fixture) gets NULL ts.
    """
    if "ts" not in transcripts.columns:
        transcripts = transcripts.withColumn("ts", F.lit(None).cast("timestamp"))
    if method == "sql":
        return extract_mentions_sql(transcripts)
    if method != "partitions":
        raise ValueError(f"extract_mentions: unknown method {method!r}")
    turns = transcripts.select("conv_id", "turn_idx", "text", "ts").filter(
        F.lower(F.col("text")).rlike(rules.TRIGGER_REGEX)
    )
    # explicit partition count (cores): AQE would otherwise coalesce the
    # shuffle by byte size, capping Python-worker parallelism -- Arrow
    # serde + regex cost is per-ROW here, not per-byte.
    n_parts = transcripts.sparkSession.sparkContext.defaultParallelism
    partitioned = turns.repartition(n_parts, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )
    return partitioned.mapInPandas(_extract_partition, MENTION_SCHEMA)
