"""End-to-end transcript -> knowledge-graph pipeline (resumable).

Stage graph (each stage gated by the checkpoint store, outputs written
as partitioned parquet with audit sidecars -- the Spark re-expression of
the reference's PULL->PROCESS->PARTITION->PUSH->POST_CHECK->COMPLETE
state machine, reference: state.py:11-18, main.py:61-136):

  INIT          -> read transcripts (Iceberg/parquet)
  EXTRACTED     -> Catalyst regex mention extraction
  LINKED        -> connected components composed into the alias dict;
                   broadcast/salted join links to canonical ids; the
                   triples are written once, as ``edges`` bucketed by
                   subject hash with an audit sidecar
  MATERIALIZED  -> ``nodes`` (distinct entity ids) derived from ``edges``
  VERIFIED      -> post-check: each sink's recomputed audit vs its sidecar
  COMPLETE

A unit an older run left at exactly LINKED has ``triples`` but no
``edges``; MATERIALIZED fails on the missing ``edges`` path (delete the
output dir and re-run).

Every stage is idempotent: re-running a completed stage is a no-op
(skip gate), and a killed run resumes from its last persisted stage.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators import canonicalize, extract, linking
from .plans.checkpoint import StateStore, Step
from .sources import tableio

UNIT = "corpus"  # single-unit pipeline; per-chunk units at scale


def _row_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an Observation its write fills with ``rows`` (no re-read)."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_buckets: int = 16,
        link_strategy: str = "broadcast",
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.link_strategy = link_strategy
        self.state = StateStore(os.path.join(out_dir, "_state"))

    # -- paths ---------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    # -- stages --------------------------------------------------------
    def run(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        same_as: DataFrame,
    ) -> dict:
        """Run (or resume) the full pipeline; returns stage metrics."""
        st, unit = self.state, UNIT
        metrics: dict = {}

        if st.gate(unit, Step.EXTRACTED):
            mentions, rows = _row_count(extract.extract_mentions(transcripts))
            mentions.write.mode("overwrite").parquet(self.path("mentions"))
            st.set(unit, Step.EXTRACTED, mentions=rows.get["rows"])
        metrics["mentions"] = st.metrics(unit).get("mentions")

        if st.gate(unit, Step.LINKED):
            mentions = self.spark.read.parquet(self.path("mentions"))
            comps = canonicalize.connected_components(same_as)
            canon_dict = canonicalize.apply_canonical(alias_dict, comps)
            edges, rows = _row_count(
                linking.link_mentions(
                    mentions, canon_dict, strategy=self.link_strategy
                ).withColumn("bucket", tableio.bucket_column("subj", self.n_buckets))
            )
            tableio.write_with_audit(
                edges, self.path("edges"), ["bucket"], id_col="subj",
                source=("source", UNIT),
            )
            comps.write.mode("overwrite").parquet(self.path("components"))
            n = rows.get["rows"]
            st.set(unit, Step.LINKED, mentions=metrics["mentions"], linked=n)
        metrics["linked"] = st.metrics(unit).get("linked")

        if st.gate(unit, Step.MATERIALIZED):
            edges = self.edges()
            nodes, rows = _row_count(
                edges.select(F.col("subj").alias("entity_id"))
                .union(
                    edges.filter(F.col("obj_kind") == "entity").select(
                        F.col("obj").alias("entity_id")
                    )
                )
                .distinct()
                .withColumn("bucket", tableio.bucket_column("entity_id", self.n_buckets))
            )
            tableio.write_with_audit(
                nodes, self.path("nodes"), ["bucket"], id_col="entity_id",
                source=("source", UNIT),
            )
            st.set(
                unit, Step.MATERIALIZED, **{**st.metrics(unit), "nodes": rows.get["rows"]}
            )

        if st.gate(unit, Step.VERIFIED):
            ok_e = tableio.post_check(
                self.spark, self.path("edges"), ["bucket"], "subj",
                source=("source", UNIT),
            )
            ok_n = tableio.post_check(
                self.spark, self.path("nodes"), ["bucket"], "entity_id",
                source=("source", UNIT),
            )
            if not (ok_e and ok_n):
                raise RuntimeError("post-check failed: sink != audit sidecar")
            st.set(unit, Step.VERIFIED, **st.metrics(unit))

        st.set(unit, Step.COMPLETE, **st.metrics(unit))
        metrics.update(st.metrics(unit))
        return metrics

    # -- results -------------------------------------------------------
    def triples(self) -> DataFrame:
        return self.edges().drop("bucket")

    def edges(self) -> DataFrame:
        return self.spark.read.parquet(self.path("edges"))

    def nodes(self) -> DataFrame:
        return self.spark.read.parquet(self.path("nodes"))


PARTITION_KEYS = {
    # the reference's per-table partition keys: language everywhere,
    # site for sitelinks (reference: config.py:41-47, DESIGN.md:72-80)
    "labels": "language",
    "descriptions": "language",
    "aliases": "language",
    "links": "site",
    "claims": "language",
}


def partition_entity_tables(
    entity_df: DataFrame,
    out_dir: str,
    source_name: str = "entities",
    validate: bool = True,
) -> dict[str, bool]:
    """The reference's PARTITION stage (reference: main.py:111-130 ->
    partitioning/core.py:38-58): flatten one entity frame into its five
    tables and sink each as Hive-partitioned parquet with a
    per-(source x table) audit sidecar, then post-check every sink
    against its sidecar. Returns {table: post_check_ok}.

    Layout mirrors the reference:
      <out>/<table>/<key>=X/...parquet
      <out>/audit/<table>/<source_name>   (sidecar, keyed source x key)
    """
    from .operators import flatten

    if validate:
        # the reference's per-file declare->infer->subset gate runs
        # BEFORE any flattening (reference: process.py:336-347)
        flatten.validate_entity_schemas(entity_df)
    tables = flatten.flatten_all(entity_df)
    results: dict[str, bool] = {}
    for name, tdf in tables.items():
        key = PARTITION_KEYS[name]
        path = os.path.join(out_dir, name)
        audit = os.path.join(out_dir, "audit", name, source_name)
        tableio.write_with_audit(
            tdf, path, [key], id_col="id",
            source=("source", source_name), audit_path=audit,
        )
        results[name] = tableio.post_check(
            tdf.sparkSession, path, [key], "id",
            source=("source", source_name), audit_path=audit,
        )
    return results


class ChunkedKGPipeline:
    """Chunk-granular resumable pipeline -- the faithful analogue of the
    reference's FILE-granular state machine (reference: state.py:11-18
    one JSONL per source file; main.py:65 chunk loop; process.py:279-282
    skip-if-done): the corpus splits into n_chunks by conversation hash,
    each chunk runs extract -> link (straight to canonical ids) -> append
    independently with its own checkpoint unit and lineage row, and a
    killed run resumes at the first incomplete chunk with completed
    chunks untouched.

    Canonicalization is corpus-global but depends only on the same_as
    INPUT (not on chunk outputs), so the component map is composed into
    the alias dictionary once up front and shared by every chunk -- the
    analogue of the reference's remote-listing cache
    (size_verification.py:20-24).

    At scale the chunk column is the Iceberg partition of the input
    table, so each chunk's read is a partition-pruned scan of the input
    itself rather than of a staged copy.
    """

    def __init__(
        self, spark: SparkSession, out_dir: str, n_chunks: int = 8, n_buckets: int = 8
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        self.n_buckets = n_buckets
        self.state = StateStore(os.path.join(out_dir, "_state"))

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _audit_path(self, chunk: int) -> str:
        return os.path.join(self.path("audit"), f"chunk={chunk}")

    @staticmethod
    def chunk_col(n_chunks: int):
        return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_chunks)).cast("int")

    def post_check(self) -> bool:
        """Verify every completed chunk's sink against its (chunk x
        bucket) sidecar -- the reference's post-check over per-source
        sidecars (reference: DESIGN.md:95-112)."""
        ok = True
        for i in range(self.n_chunks):
            unit = f"chunk_{i:05d}"
            if self.state.gate(unit, Step.COMPLETE):
                continue  # incomplete chunk: nothing to verify
            ok = ok and tableio.post_check(
                self.spark,
                os.path.join(self.path("triples"), f"chunk={i}"),
                ["bucket"],
                "subj",
                source=("chunk", i),
                audit_path=self._audit_path(i),
            )
        return ok

    def run(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        same_as: DataFrame,
        fail_after_chunk: int | None = None,
    ) -> dict:
        """Process all incomplete chunks; returns {chunk: rows} lineage.

        ``fail_after_chunk`` injects a crash after that chunk completes
        (for kill/resume tests -- the reference's resumability is
        exactly this property, DESIGN.md:119-129).

        The corpus is staged ONCE partitioned by chunk (a checkpointed
        stage a resumed run skips), so each chunk is a partition-pruned
        read instead of a filtered full scan.
        """
        # resume guard against a sink written by an older triple schema
        # (r5 added ts): completed chunks would silently mix 5- and
        # 6-column footers -- plain parquet reads pick ONE schema, so
        # either ts vanishes or old assertions read as null-ts and lose
        # every recency comparison. Refuse loudly instead.
        existing = self.path("triples")
        if os.path.isdir(existing):
            try:
                old_cols = set(self.spark.read.parquet(existing).columns)
            except AnalysisException as e:
                # ONLY the empty-sink shapes mean "nothing to guard": a
                # dir with no part files (schema inference fails) or a
                # vanished path. A corrupt / partially-written sink
                # raises something else and MUST propagate -- swallowing
                # it would resume into exactly the mixed-schema state
                # this guard exists to prevent.
                cond = getattr(e, "getErrorClass", lambda: None)() or str(e)
                if "UNABLE_TO_INFER_SCHEMA" in cond or "PATH_NOT_FOUND" in cond:
                    old_cols = None
                else:
                    raise
            if old_cols is not None and "ts" not in old_cols:
                raise RuntimeError(
                    "ChunkedKGPipeline: existing sink at "
                    f"{existing} was written WITHOUT the ts column "
                    "(pre-wall-clock schema); resuming would mix "
                    "schemas across chunks. Delete the output dir (or "
                    "migrate the old chunks) and re-run."
                )

        # alias -> canonical id, composed once and shared by every chunk
        canon_dict = canonicalize.apply_canonical(
            alias_dict, canonicalize.connected_components(same_as)
        ).localCheckpoint()
        if self.state.gate("_staging", Step.COMPLETE):
            transcripts.withColumn(
                "_chunk", self.chunk_col(self.n_chunks)
            ).write.mode("overwrite").partitionBy("_chunk").parquet(self.path("staged"))
            self.state.set("_staging", Step.COMPLETE)

        lineage: dict = {}
        units = [f"chunk_{i:05d}" for i in range(self.n_chunks)]
        for i, unit in enumerate(units):
            if not self.state.gate(unit, Step.COMPLETE):
                lineage[i] = self.state.metrics(unit).get("rows")
                continue
            # partitionBy writes NO directory for an empty chunk (skewed
            # conv_id hash at small n): read it as empty, so the unit is
            # marked COMPLETE with rows=0 instead of failing PATH_NOT_FOUND
            chunk_dir = os.path.join(self.path("staged"), f"_chunk={i}")
            if os.path.isdir(chunk_dir):
                part = self.spark.read.parquet(chunk_dir)
            else:
                part = transcripts.filter(F.lit(False))
            mentions = extract.extract_mentions(part)
            triples, rows = _row_count(
                linking.link_mentions(mentions, canon_dict)
                .select("subj", "pred", "obj", "conv_id", "turn_idx", "ts")
                .distinct()
                .withColumn("chunk", F.lit(i))
                .withColumn("bucket", tableio.bucket_column("subj", self.n_buckets))
            )
            # per-unit sidecar keyed (chunk, bucket) under a shared
            # audit/ tree -- the reference's per-(source x table)
            # sidecar layout (reference: partitioning/core.py:14-35)
            chunk_dir = os.path.join(self.path("triples"), f"chunk={i}")
            tableio.write_with_audit(
                triples, chunk_dir, ["bucket"], id_col="subj",
                source=("chunk", i),
                audit_path=self._audit_path(i),
            )
            n = rows.get["rows"]  # = the sidecar's rows total
            self.state.set(unit, Step.COMPLETE, rows=n)
            lineage[i] = n
            if fail_after_chunk is not None and i >= fail_after_chunk:
                raise RuntimeError(f"injected failure after chunk {i}")
        # lineage table: per-chunk row counts (sidecar analogue,
        # reference: core.py:25-35)
        rows = [(int(i), int(n)) for i, n in lineage.items() if n is not None]
        self.spark.createDataFrame(rows, "chunk int, rows bigint").write.mode(
            "overwrite"
        ).parquet(self.path("lineage"))
        return lineage

    def triples(self) -> DataFrame:
        return self.spark.read.option("basePath", self.path("triples")).parquet(
            self.path("triples") + "/chunk=*"
        )

    def incomplete(self) -> list[str]:
        return self.state.incomplete([f"chunk_{i:05d}" for i in range(self.n_chunks)])
