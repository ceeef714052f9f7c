"""Table IO seam: audited, partitioned parquet writes and their post-check.

The storage layer behind the pipeline (SURVEY.md §7.3d): query code only
ever sees DataFrames; every table it writes is Hive-style parquet.
A sink's audit row is (rows, min_id, max_id) (``audit_aggs``), the
reference's finish-callback sidecar row (reference: core.py:25-35). An
unpartitioned sink observes it on its own write (``observe_audit``) and
the caller keeps it. A partitioned sink needs a row per partition, which
an ``Observation`` cannot group: ``write_with_audit`` writes Hive-style
parquet, the reference's layout (core.py:38-58 PartitionByKey ->
results/{table}/language=X/), plus a sidecar of per-partition rows
aggregated from the frame it was given (a second pass over its plan).
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an Observation its write fills with ``rows``, so a
    write is counted without being read back."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def audit_aggs(id_col: str) -> list[Column]:
    """The audit row's aggregates: (rows, min_id, max_id)."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    ]


def observe_audit(df: DataFrame, id_col: str) -> tuple[DataFrame, Observation]:
    """``df`` plus an Observation its write fills with the audit row of
    what the sink was given (rows 0 and null ids if empty)."""
    obs = Observation()
    return df.observe(obs, *audit_aggs(id_col)), obs


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Partitioned parquet write, overwriting ``path``."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def parquet_files(df: DataFrame) -> list[str] | None:
    """The files of ``df`` if it is a bare parquet file scan
    (``spark.read.parquet(path)``: no partition directories, nothing on
    top), else None. Reading those files equals ``df`` only then: a
    filter, a projection or a frame made on the driver on top of the
    scan would be lost, and partition directories carry column values
    no file holds. Reads the analyzed plan and the file index: no job."""
    plan = df._jdf.queryExecution().analyzed()
    relation = plan.relation() if plan.getClass().getSimpleName() == "LogicalRelation" else None
    if (
        relation is not None
        and relation.getClass().getSimpleName() == "HadoopFsRelation"
        and relation.fileFormat().getClass().getSimpleName() == "ParquetFileFormat"
        and relation.partitionSchema().isEmpty()
    ):
        return df.inputFiles()
    return None


def read_recorded(spark: SparkSession, path: str, record: dict) -> DataFrame:
    """``path`` read with the ``schema`` its write recorded in a state
    ``record`` (JSON): building the scan launches no inference job."""
    return spark.read.schema(StructType.fromJson(record["schema"])).parquet(path)


def audit_frame(df: DataFrame, partition_cols: list[str], id_col: str) -> DataFrame:
    """Per-partition audit rows (``audit_aggs``): one partial-aggregated
    pass, map-side combined. Only non-empty partitions get a row: the
    zero-row group a global aggregate (no ``partition_cols``) yields on
    an empty frame is dropped, so an empty sink audits as empty."""
    return df.groupBy(*partition_cols).agg(*audit_aggs(id_col)).filter(
        F.col("rows") > 0
    )


def _stamped_audit(df, partition_cols, id_col, source) -> DataFrame:
    """``audit_frame`` of ``df`` with the ``source`` unit stamped on
    every row."""
    audit = audit_frame(df, partition_cols, id_col)
    if source is None:
        return audit
    col, value = source
    return audit.select(F.lit(value).alias(col), "*")


def write_with_audit(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    id_col: str,
    source: tuple[str, object] | None = None,
    audit_path: str | None = None,
) -> None:
    """Partitioned write (overwriting ``path``) + sidecar audit parquet.

    ``source`` = (column_name, value) stamps the processing unit on
    every sidecar row, the key of the reference's per source file x
    table sidecars (reference: partitioning/core.py:14-35).
    ``audit_path`` overrides the default ``<path>_audit`` (the
    reference's audit/{table}/{source_name} tree).
    """
    write_partitioned(df, path, partition_cols)
    # the sidecar audits what the sink was given, not a re-read of it
    _stamped_audit(df, partition_cols, id_col, source).write.mode(
        "overwrite"
    ).parquet(audit_path or path + "_audit")


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """True Spark bucketing (bucketBy + saveAsTable): a join between two
    tables bucketed on the same key with the same bucket count needs NO
    shuffle on either side -- the Iceberg ``bucket(N, subj)`` layout
    (SURVEY.md §7.2.6), which Hive-style partition directories cannot give.

    Requires a session catalog (spark-warehouse locally); tested to
    produce a shuffle-free sort-merge join in tests/test_bucketing.py.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(name)


def matches_audit(audit: DataFrame, expected: list[dict]) -> bool:
    """``audit``, rows recomputed from a sink, equals ``expected`` (dicts
    by column; zero-row ones dropped, as ``audit_frame`` drops them) as
    multisets. Both hold at most one row per (source x partition), so
    they compare on the driver, with no distributed set difference."""
    want = Counter(tuple(r[c] for c in audit.columns) for r in expected if r["rows"])
    return Counter(map(tuple, audit.collect())) == want


def post_check(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    id_col: str,
    source: tuple[str, object] | None = None,
    audit_path: str | None = None,
) -> bool:
    """Re-read what was written and compare against the sidecar.

    The reference's post-check step (reference: DESIGN.md:95-112,
    docs/journal/2025-01-16-03-implement-postcheck-DRAFT.md:24-33):
    recompute (rows, min_id, max_id) from the sink and verify it matches
    the ``write_with_audit`` sidecar exactly (``matches_audit``).
    ``df`` is the frame that was written to ``path``; its schema types
    both reads (the sidecar's derived from it), so neither infers a
    schema, and an empty sink reads as an empty frame.
    """
    apath = audit_path or path + "_audit"
    if not (os.path.exists(path) and os.path.exists(apath)):
        return False
    # the writer's schema: an all-empty partitionBy write leaves no part
    # file, and inferring a schema from the bare dir raises
    data = df.sparkSession.read.schema(df.schema).parquet(path)
    written = _stamped_audit(data, partition_cols, id_col, source)
    sidecar = df.sparkSession.read.schema(written.schema).parquet(apath)
    return matches_audit(written, [r.asDict() for r in sidecar.collect()])
