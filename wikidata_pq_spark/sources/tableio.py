"""Table IO seam: audited, partitioned parquet writes and their post-check.

The storage layer behind the pipeline (SURVEY.md §7.3d): query code only
ever sees DataFrames; this module decides the physical table format.
``write_with_audit`` always writes Hive-style partitioned parquet -- the
pipelines' audited sinks, in the same layout the reference sinks to
(reference: core.py:38-58 PartitionByKey -> results/{table}/language=X/)
-- plus an explicit audit sidecar per partition, mirroring the
reference's finish-callback sidecars (reference: core.py:25-35:
(language, rows, min_id, max_id)).

Only ``write_table`` routes to Iceberg, when a
``spark.sql.catalog.<name>`` config is set; no flow calls it. With
Iceberg, snapshot metadata would supply the row counts the sidecars
reproduce by hand (reference post-check design: DESIGN.md:95-112).
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True if an Iceberg catalog is configured on this session
    (context conf at session build time, or runtime session conf)."""
    try:
        confs = dict(spark.sparkContext.getConf().getAll())
    except Exception:
        confs = {}
    try:
        # RuntimeConfig.getAll is a PySpark >= 4.0 property; guarded
        # separately so 3.x still gets context-conf detection instead
        # of a blanket False.
        confs.update(spark.conf.getAll)
    except Exception:
        pass
    return any(k.startswith("spark.sql.catalog.") for k in confs)


def _write_iceberg(
    df: DataFrame, ident: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Iceberg DataFrameWriterV2 path: ``writeTo(catalog.db.table)``
    with identity partitioning; snapshot metadata then supplies the
    row counts the parquet fallback's audit sidecars reproduce by
    hand. Requires the iceberg-spark runtime jar -- on a real cluster
    this executes; in-sandbox the routing seam is unit-tested against
    a mock catalog conf (tests/test_tableio_checkpoint.py)."""
    w = df.writeTo(ident)
    if partition_cols:
        w = w.partitionedBy(*[F.col(c) for c in partition_cols])
    if mode == "overwrite":
        w.createOrReplace()
    else:
        w.append()


def write_table(
    df: DataFrame,
    dest: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> str:
    """Route a table write through the storage seam: Iceberg
    ``writeTo`` when a catalog is configured on the session (``dest``
    is then a table identifier), Hive-partitioned parquet otherwise
    (``dest`` is a path). Returns the branch taken."""
    if iceberg_available(df.sparkSession):
        _write_iceberg(df, dest, partition_cols, mode=mode)
        return "iceberg"
    write_partitioned(df, dest, partition_cols, mode=mode)
    return "parquet"


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an Observation its write fills with ``rows``, so a
    write is counted without being read back."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Partitioned columnar write (parquet fallback for Iceberg)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def audit_frame(df: DataFrame, partition_cols: list[str], id_col: str) -> DataFrame:
    """Per-partition (rows, min_id, max_id) lineage rows.

    Spark exposes no per-partition finish callback (reference:
    core.py:25-35), so the audit is computed as a query over the same
    data -- one extra partial-aggregated pass, map-side combined.
    Only non-empty partitions get a row: the zero-row group a global
    aggregate (no ``partition_cols``) yields on an empty frame is
    dropped, so an empty sink audits as empty either way.
    """
    return df.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).alias("rows"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    ).filter(F.col("rows") > 0)


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
    every sidecar row -- the key the reference's sidecars carry (one
    sidecar per source file x table, named for its source,
    reference: partitioning/core.py:14-35) -- so the post-check can
    verify per (source x partition), not just per partition.
    ``audit_path`` overrides the default ``<path>_audit`` location
    (per-unit writers accumulate sidecars under a shared audit/ tree,
    the layout of the reference's audit/{table}/{source_name}).
    """
    write_partitioned(df, path, partition_cols)
    # explicit schema: an all-empty frame writes no part files under
    # partitionBy, and a schema-inferring re-read of the bare _SUCCESS
    # dir raises UNABLE_TO_INFER_SCHEMA -- with the writer's schema the
    # re-read is just an empty frame and the sidecar has zero rows.
    audit = audit_frame(
        df.sparkSession.read.schema(df.schema).parquet(path),
        partition_cols,
        id_col,
    )
    if source is not None:
        col, value = source
        audit = audit.select(F.lit(value).alias(col), "*")
    audit.write.mode("overwrite").parquet(audit_path or path + "_audit")


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


def post_check(
    spark: SparkSession,
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
    the audit sidecar exactly, as multisets -- per (source x partition)
    when the sidecar carries a source unit. Both sides hold at most one
    row per (source x partition), so they are collected and compared on
    the driver instead of with distributed set differences.
    """
    apath = audit_path or path + "_audit"
    if not os.path.exists(apath):
        return False
    try:
        data = spark.read.parquet(path)
    except Exception:
        # empty sink: partitionBy wrote no part files (see
        # write_with_audit) -- consistent iff the sidecar is empty too
        return spark.read.parquet(apath).limit(1).count() == 0
    written = audit_frame(data, partition_cols, id_col)
    key_cols = list(partition_cols)
    if source is not None:
        col, value = source
        written = written.select(F.lit(value).alias(col), "*")
        key_cols = [col] + key_cols
    sidecar = spark.read.parquet(apath)
    cols = key_cols + ["rows", "min_id", "max_id"]
    return Counter(map(tuple, written.select(cols).collect())) == Counter(
        map(tuple, sidecar.select(cols).collect())
    )
