"""Canonicalization: connected components over same-as edges.

Iterative min-label propagation with pointer jumping -- the DataFrame
re-expression of distributed connected components (alternating-star
family, cf. Kiveris et al. "Connected Components in MapReduce and
Beyond"). This is the loop-with-state analogue of the reference's chunk
loop (reference: main.py:65): rounds run on ``graph.iterate``, whose
eager ``localCheckpoint`` per round sits exactly where the reference
persists its JSONL step files (reference: state.py:30-35).

Convergence: label propagation alone needs O(diameter) rounds; the
pointer-jumping step (label := label(label)) halves chain depth each
round, giving O(log d) rounds -- essential when a same-as chain is long.
Each round is one job: its checkpoint also counts the changed labels.

Canonical label = component-minimum id under numeric-aware ordering
("Q7" < "Q10"), matching the oracle's union-find.

``KGPipeline`` stores the map with ``write_components``. On the driver
path the driver reads the edges (from their files when ``same_as`` is a
bare parquet scan, else by one collect) and writes its own map as one
Parquet file, so no task carries the map; on the distributed path Spark
writes the last round's frame. ``connected_components`` returns the map
as a frame, for callers that go on computing with it.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import tableio
from .graph import iterate

# the component map's schema, on both paths; KGPipeline reads its
# stored ``components`` with it
COMPONENTS_DDL = "entity_id string, canonical_id string"


def _order_key(col):
    """Orderable struct: numeric Q-ids sort numerically, others after."""
    num = F.regexp_extract(col, r"^[A-Za-z]*(\d+)$", 1)
    return F.struct(
        F.when(num != "", F.lit(0)).otherwise(F.lit(1)).alias("k0"),
        F.when(num != "", num.cast("long")).otherwise(F.lit(0)).alias("k1"),
        col.alias("k2"),
    )


# The driver path collects the edges into pandas and runs union-find in
# Python; above this estimated size the distributed rounds take over.
# The estimate (Catalyst's sizeInBytes of the optimized plan) reads no
# data: a local relation -- a frame made from pandas -- counts 48 B per
# (string, string) row (an 8 B row header plus 20 B per string), so the
# bound admits 349,525 edges from one; a parquet scan counts its
# compressed file bytes, 8.7 B per edge of gen_same_as's files and 14.2 B
# for random Q-id pairs, so 1.2-1.9M edges. 2M random Q-id edges in one
# zstd file estimate 15.7 MiB: write_components took 21.1 s wall there,
# the Python driver peaking at 1.0 GB RSS and the JVM at 0.47 GB
# (local[2], 4-core host).
# gen_same_as(717_000), 235,175 edges, estimates 11.3 MB from pandas and
# 2.0 MB from parquet: driver path, 3.4-4.5 s, where the distributed
# rounds took 11.7-25 s. A source Catalyst cannot size (an RDD, a Python
# list) reports Long.MaxValue and goes distributed.
# KGPipeline's MATERIALIZED takes its driver path under the same bound,
# compared with the bytes of the edges' data files: one bound for a
# small store's corpus stages.
DRIVER_MAX_BYTES = 16 * 2**20
MAX_ROUNDS = 25


def connected_components(same_as: DataFrame) -> DataFrame:
    """Runs Spark jobs before it returns (the driver pass, or every
    distributed round): same_as(src_id, dst_id) -> (entity_id,
    canonical_id).

    Returns one row per vertex appearing in any edge. Vertices with no
    edges are their own canonical id (callers simply coalesce missing
    lookups to identity).

    Hybrid strategy: a same-as table whose plan estimates at most
    ``DRIVER_MAX_BYTES`` is collected, and the driver runs exact
    union-find in one pass (the analogue of the reference's driver-side
    metadata ops, reference: prefetch.py:101) -- iterating Spark jobs
    over a small graph is pure scheduling overhead. Above it,
    distributed min-label propagation with pointer jumping takes over.
    Choosing runs no job. Both paths produce identical labels (tested).
    """
    if _estimated_bytes(same_as) <= DRIVER_MAX_BYTES:
        return _driver_components(same_as)
    return _distributed_components(same_as)


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan; no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def write_components(same_as: DataFrame, path: str) -> dict:
    """Writes the component map of ``same_as`` to ``path`` as Parquet,
    replacing what is there, and returns which way the size switch went:
    ``cc_path`` ("driver" or "distributed"), ``cc_estimated_bytes`` (the
    plan's estimate that chose it) and ``components`` (rows written).

    The driver path reads the edges (``_driver_map``: no Spark job for
    a bare parquet scan, else one collect), runs union-find and writes
    the map itself with pyarrow, as one file in the session's Parquet
    codec. Handing the map back to Spark instead would put it inside
    the tasks of a second job (a 6.5 MB task at 500k edges) and, on a
    small graph, pay the JVM warm-up of code paths no other stage runs.
    The distributed path writes its frame with Spark
    (``tableio.write_partitioned``, the writer of the store's other
    Spark-written tables), and an Observation on that write counts the
    rows."""
    size = _estimated_bytes(same_as)
    if size <= DRIVER_MAX_BYTES:
        comp = _driver_map(same_as)
        codec = same_as.sparkSession.conf.get("spark.sql.parquet.compression.codec")
        tableio.write_arrow(_map_table(comp), path, codec)
        return {"cc_path": "driver", "cc_estimated_bytes": size, "components": len(comp)}
    comps, rows = tableio.observe_rows(_distributed_components(same_as))
    tableio.write_partitioned(comps, path, [])
    return {"cc_path": "distributed", "cc_estimated_bytes": size, "components": rows.get["rows"]}


def _driver_map(same_as: DataFrame) -> dict[str, str]:
    """Exact union-find over the edges on the driver: entity ->
    canonical. A bare parquet scan is read from its files with pyarrow,
    which runs no Spark job; any other frame is collected (one job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..oracle import union_find_components

    cols = ["src_id", "dst_id"]
    files = tableio.parquet_files(same_as)
    if files:
        # nothing else holds the table: free each column's Arrow buffers
        # once it is converted, before union-find starts
        table = pa.concat_tables([pq.read_table(f, columns=cols) for f in files])
        edges = table.to_pandas(self_destruct=True, split_blocks=True)
    else:
        edges = same_as.select(*cols).toPandas()
    return union_find_components(edges)


def _driver_components(same_as: DataFrame) -> DataFrame:
    """The driver's map as a frame (its tasks carry the map)."""
    return same_as.sparkSession.createDataFrame(_map_table(_driver_map(same_as)))


def _map_table(comp: dict[str, str]):
    """``comp`` as an Arrow table with the ``COMPONENTS_DDL`` columns,
    sorted by ``entity_id``: a dict built from a set iterates in an
    order that follows ``PYTHONHASHSEED``, so unsorted the same map
    would be written as a different file in each process (and sorted
    ids share prefixes, so it also compresses better)."""
    import pyarrow as pa

    return pa.table(
        {"entity_id": list(comp.keys()), "canonical_id": list(comp.values())},
        schema=pa.schema([("entity_id", pa.string()), ("canonical_id", pa.string())]),
    ).sort_by("entity_id")


def _distributed_components(same_as: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping, in :func:`iterate`'s
    keyed mode over (v, lbl): at most ``MAX_ROUNDS`` rounds, stopping at
    the fixed point. Every vertex keeps a row every round."""
    edges = (
        same_as.select(F.col("src_id").alias("a"), F.col("dst_id").alias("b"))
        .union(same_as.select(F.col("dst_id").alias("a"), F.col("src_id").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # labels: vertex -> current best (min) label key
    labels = (
        edges.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("lbl", _order_key(F.col("v")))
    )
    labels = iterate(labels, partial(_cc_round, edges), MAX_ROUNDS, key="v")
    return labels.select(
        F.col("v").alias("entity_id"), F.col("lbl.k2").alias("canonical_id")
    )


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One round: neighbor-min, then one pointer jump. (v, lbl) -> (v, lbl)."""
    # 1) neighbor-min: each vertex receives the label of each neighbor
    msgs = (
        edges.join(labels.withColumnRenamed("v", "b"), "b")
        .select(F.col("a").alias("v"), "lbl")
    )
    new_labels = (
        labels.select("v", "lbl")
        .union(msgs)
        .groupBy("v")
        .agg(F.min("lbl").alias("lbl"))
    )
    # 2) pointer jumping: lbl(v) := lbl(lbl(v))
    parent_lbl = new_labels.select(
        F.col("v").alias("_parent"), F.col("lbl").alias("_plbl")
    )
    # a parent that is not itself a vertex (component minimum that
    # never appears as a key) keeps the direct label
    return (
        new_labels.select("v", "lbl", F.col("lbl.k2").alias("_parent"))
        .join(parent_lbl, "_parent", "left")
        .select("v", F.coalesce("_plbl", "lbl").alias("lbl"))
    )


def link_join(alias_dict: DataFrame) -> dict:
    """How mentions join the dictionary composed from ``alias_dict``:
    ``link_join`` ("broadcast" or "shuffle") and the estimate that chose
    it, ``link_estimated_bytes``. Spark's own rule for every join: a
    side whose plan estimates at most the session's
    ``spark.sql.autoBroadcastJoinThreshold`` bytes is broadcast (never
    at -1); a shuffled join leaves hot aliases to AQE's skew split.

    The estimate is the alias dictionary's: the composed dictionary has
    its rows, but Catalyst estimates a join as the product of its inputs
    (78 MB for 3,994 rows). Choosing runs no job."""
    size = _estimated_bytes(alias_dict.select("alias", "entity_id"))
    conf = alias_dict.sparkSession._jsparkSession.sessionState().conf()
    join = "broadcast" if 0 <= size <= conf.autoBroadcastJoinThreshold() else "shuffle"
    return {"link_join": join, "link_estimated_bytes": size}


def apply_canonical(
    alias_dict: DataFrame, components: DataFrame, join: str | None = None
) -> DataFrame:
    """(alias, entity_id) -> (alias, canonical entity_id): one left join +
    coalesce-to-identity on the dictionary, so mentions link straight to
    canonical ids. ``components`` has one row per ``entity_id``, so the
    result keeps the alias dictionary's rows; it carries a broadcast
    hint when ``join`` is "broadcast". ``join`` is ``link_join``'s
    choice, made here when not given: a caller that records the choice
    passes the one it recorded, so the estimate is taken once."""
    comps = components.select("entity_id", F.col("canonical_id").alias("_canon"))
    canon = (
        alias_dict.select("alias", "entity_id")
        .join(comps, "entity_id", "left")
        .select("alias", F.coalesce("_canon", "entity_id").alias("entity_id"))
    )
    join = join or link_join(alias_dict)["link_join"]
    return F.broadcast(canon) if join == "broadcast" else canon
