"""SURVEY §2.1 source/sink rows not covered elsewhere: S4 (NDJSON state
read with file provenance), S9 (single-row state writes), S10 (CSV sink).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_s4_ndjson_state_read_with_provenance(spark, tmp_path):
    """The reference's state scan (reference: state.py:45: read_ndjson
    with include_file_paths + regex chunk/part extraction at 24-26):
    spark.read.json over the state dir + input_file_name()."""
    state_dir = tmp_path / "state"
    os.makedirs(state_dir)
    for chunk, part, step in [(0, 1, 2), (0, 2, 6), (1, 1, 0)]:
        with open(state_dir / f"chunk_{chunk}-{part:05d}.jsonl", "w") as f:
            json.dump({"step": step}, f)
    df = (
        spark.read.json(str(state_dir) + "/*.jsonl")
        .withColumn("path", F.input_file_name())
        .withColumn(
            "chunk", F.regexp_extract("path", r"chunk_(\d+)-", 1).cast("long")
        )
        .withColumn(
            "part", F.regexp_extract("path", r"-(\d+)\.jsonl", 1).cast("long")
        )
        .withColumn("file", F.element_at(F.split("path", "/"), -1))
    )
    rows = {(r["chunk"], r["part"]): r["step"] for r in df.collect()}
    assert rows == {(0, 1): 2, (0, 2): 6, (1, 1): 0}
    # min incomplete chunk (reference: state.py:59-63)
    nxt = (
        df.filter(F.col("step") < 6).agg(F.min("chunk").alias("c")).collect()[0]["c"]
    )
    assert nxt == 0
    assert all(r["file"].endswith(".jsonl") for r in df.collect())


def test_s10_csv_sink_roundtrip(spark, tmp_path):
    """CSV sink for size-statistics tables (reference:
    calculate_chunk_sizes.py:46-47)."""
    df = spark.createDataFrame(
        [(0, 94.21), (1, 55.5)], "chunk int, size_gb double"
    )
    out = str(tmp_path / "sizes_csv")
    df.coalesce(1).write.option("header", True).csv(out)
    back = spark.read.option("header", True).csv(out, inferSchema=True)
    got = {(r["chunk"], r["size_gb"]) for r in back.collect()}
    assert got == {(0, 94.21), (1, 55.5)}
