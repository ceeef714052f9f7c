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
plan). A table the driver built itself is written by ``write_arrow``
and audited by ``arrow_audit``, with no Spark job. The disk side is
read from the Parquet footers
(``footer_audit``), as Iceberg and Delta answer row counts and column
bounds from file metadata (Armbrust et al., VLDB 2020): ``check_recorded``
compares those rows with the record and runs no Spark job.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
from collections import Counter

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, StructType


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


# Spark's codec names where pyarrow's differ
_ARROW_CODECS = {"uncompressed": "none", "lz4_raw": "lz4"}


def write_arrow(table, path: str, codec: str) -> None:
    """The Arrow ``table`` as the one file of the Parquet table ``path``,
    replacing what is there, in ``codec`` (Spark's name for it; callers
    pass the session's ``spark.sql.parquet.compression.codec``): for a
    table the driver built itself, no Spark job and no ``_SUCCESS`` or
    ``.crc`` file. The file is written under a hidden name, which
    readers skip, fsynced and renamed into place, so a crash leaves no
    partial file for a reader.

    As parquet-mr, which falls back to plain encoding where a dictionary
    does not pay, only the columns that repeat a value are
    dictionary-encoded: a dictionary of distinct ids adds an index per
    row (1,800 sorted Q-ids: 5.3 KB dictionary-encoded, 2.6 KB plain,
    zstd). Arrow's own schema is not stored in the footer: the Parquet
    schema alone types every column Spark reads."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    codec = codec.lower()
    repeats = [
        c for c in table.column_names if pc.count_distinct(table[c]).as_py() < table.num_rows
    ]
    with contextlib.suppress(FileNotFoundError):
        shutil.rmtree(path)
    os.makedirs(path)
    tmp = os.path.join(path, ".part-00000.parquet.tmp")
    with open(tmp, "wb") as fh:
        pq.write_table(
            table, fh, compression=_ARROW_CODECS.get(codec, codec),
            use_dictionary=repeats, store_schema=False,
        )
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


def arrow_audit(table, id_col: str) -> dict:
    """The audit row (``audit_aggs``) of the Arrow ``table``: what
    ``observe_audit`` records for a Spark write of it (rows 0 and null
    ids if empty). Arrow orders strings by their UTF-8 bytes, as Spark
    does."""
    import pyarrow.compute as pc

    mm = pc.min_max(table[id_col])
    return {"rows": table.num_rows, "min_id": mm["min"].as_py(), "max_id": mm["max"].as_py()}


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


# Hive's name for the directory of a null partition value
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hidden(name: str) -> bool:
    """Spark's listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    files and directories named ``.*``, ``_*`` without a ``=``
    (``_SUCCESS``, ``_temporary``) or ``*._COPYING_`` are skipped, except
    Parquet's ``_metadata`` and ``_common_metadata`` summaries."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def data_files(path: str) -> list[str]:
    """The sorted data files of the parquet table at ``path``: the files
    ``spark.read.parquet(path).inputFiles()`` names, listed on the
    driver with Spark's own filter, with no listing job."""
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        files += [os.path.join(root, n) for n in names if not _hidden(n)]
    return sorted(files)


def _unescape(name: str) -> str:
    """A Hive-escaped path name decoded (``ExternalCatalogUtils.
    unescapePathName``: each ``%XX`` is one character)."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name)


def _typed(value: str, dtype: DataType | None):
    """A partition directory's value as ``dtype`` holds it: an int for an
    integral type, else the string (the package partitions on ints and
    strings only)."""
    if value == HIVE_NULL:
        return None
    return int(value) if isinstance(dtype, IntegralType) else value


def _file_audit(file: str, id_col: str) -> tuple[int, object, object]:
    """(rows, min, max of ``id_col``) of one parquet file from its
    footer: ``num_rows`` per row group and the column's row-group
    statistics. Where a non-empty row group has no min/max (parquet-mr
    leaves them out for values over 4 KiB) the file's ``id_col`` alone
    is decoded. Nulls count as rows, not as bounds, as in Spark's
    ``min``/``max``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(file)
    md = pf.metadata
    if md.num_rows == 0:
        return 0, None, None
    col = [md.schema.column(c).path for c in range(md.num_columns)].index(id_col)
    groups = (md.row_group(g) for g in range(md.num_row_groups))
    stats = [rg.column(col).statistics for rg in groups if rg.num_rows]
    if all(s is not None and s.has_min_max for s in stats):
        return md.num_rows, min(s.min for s in stats), max(s.max for s in stats)
    mm = pc.min_max(pf.read(columns=[id_col]).column(0))
    return md.num_rows, mm["min"].as_py(), mm["max"].as_py()


def footer_audit(
    path: str, partition_cols: list[str], id_col: str, schema: StructType
) -> list[dict]:
    """The audit rows of the parquet table at ``path``, one per non-empty
    partition, as ``audit_frame`` of ``spark.read.parquet(path)`` gives
    them, built from the footers of its ``data_files`` on the driver:
    no Spark job. Partition values come from each file's ``<key>=X``
    directories, unescaped as Hive escapes them, ``HIVE_NULL`` as null
    and typed by ``schema`` (``_typed``). Parquet orders UTF8
    min/max by unsigned bytes, which is Spark's string order and
    Python's code-point order.

    Coverage: row counts, file sets and id bounds are checked, so a
    dropped row and a lost, extra or rewritten file are caught; the id
    pages themselves are not decoded, so a corrupt page that still
    decodes is not."""
    types = {f.name: f.dataType for f in schema.fields}
    acc: dict[tuple, tuple] = {}
    for file in data_files(path):
        rel = os.path.relpath(os.path.dirname(file), path)
        levels = [lvl.partition("=") for lvl in ([] if rel == os.curdir else rel.split(os.sep))]
        if [(_unescape(k), eq) for k, eq, _ in levels] != [(c, "=") for c in partition_cols]:
            raise ValueError(
                f"{file}: its directories are not the partition levels "
                f"{list(partition_cols)} of {path}"
            )
        part = tuple(
            _typed(_unescape(v), types.get(c)) for c, (_, _, v) in zip(partition_cols, levels)
        )
        rows, lo, hi = _file_audit(file, id_col)
        if rows:
            n, a, b = acc.get(part, (0, None, None))
            acc[part] = (n + rows, _bound(min, a, lo), _bound(max, b, hi))
    return [
        {**dict(zip(partition_cols, part)), "rows": n, "min_id": lo, "max_id": hi}
        for part, (n, lo, hi) in acc.items()
    ]


def _bound(f, *values):
    """``f`` (min or max) of the non-null ``values``; None if all are."""
    present = [v for v in values if v is not None]
    return f(present) if present else None


def same_audit(got: list[dict], expected: list[dict]) -> bool:
    """``got`` equals ``expected`` as multisets of audit rows, zero-row
    ones dropped (``footer_audit`` and ``audit_frame`` give none). Both
    hold at most one row per partition (or chunk), so they compare on
    the driver."""

    def rows(audit: list[dict]) -> Counter:
        return Counter(tuple(sorted(r.items())) for r in audit if r["rows"])

    return rows(got) == rows(expected)


def check_recorded(path: str, record: dict, partition_cols: list[str], id_col: str) -> bool:
    """The reference's post-check (reference: DESIGN.md:95-112): the sink
    at ``path`` audits (``footer_audit``, partition values typed by the
    recorded ``schema``) to exactly the ``audit`` rows its ``record``
    keeps (``same_audit``). Reads only footers: no Spark job. A missing
    sink fails; an empty one (an all-empty ``partitionBy`` write leaves
    no part file) audits as no rows."""
    if not os.path.exists(path):
        return False
    audit = footer_audit(path, partition_cols, id_col, StructType.fromJson(record["schema"]))
    return same_audit(audit, record["audit"])
