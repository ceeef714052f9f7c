"""Table IO seam: audited, partitioned parquet writes and their post-check.

The storage layer behind the pipeline (SURVEY.md §7.3d): query code only
ever sees DataFrames; every table it writes is Hive-style parquet, the
reference's layout (core.py:38-58 PartitionByKey ->
results/{table}/language=X/). A sink's audit row is (rows, min_id,
max_id) (``audit_aggs``), the reference's finish-callback sidecar row
(reference: core.py:25-35), and the caller keeps it in the sink's
commit-log record, the per-snapshot metrics rows of the paper's data
model, not in a second table. An unpartitioned sink observes it on its
own write (``observe_audit``). A partitioned sink needs a row per
partition, which an ``Observation`` cannot group: it collects
``audit_frame`` of the frame it was given (a second pass over its
plan). ``check_recorded`` recomputes the rows from the sink and
compares them with the record.
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
    multisets. Both hold at most one row per partition (or chunk), so
    they compare on the driver, with no distributed set difference."""
    want = Counter(tuple(r[c] for c in audit.columns) for r in expected if r["rows"])
    return Counter(map(tuple, audit.collect())) == want


def check_recorded(
    spark: SparkSession, path: str, record: dict, partition_cols: list[str], id_col: str
) -> bool:
    """The reference's post-check (reference: DESIGN.md:95-112): the sink
    at ``path``, read with its recorded ``schema``, audits
    (``audit_frame``) to exactly the ``audit`` rows its ``record``
    keeps (``matches_audit``). A missing sink fails; an empty one reads
    as an empty frame (an all-empty ``partitionBy`` write leaves no part
    file, and inferring a schema from the bare dir raises)."""
    if not os.path.exists(path):
        return False
    sink = read_recorded(spark, path, record)
    return matches_audit(audit_frame(sink, partition_cols, id_col), record["audit"])
