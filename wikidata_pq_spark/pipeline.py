"""End-to-end transcript -> knowledge-graph pipeline (resumable).

The corpus splits into ``n_chunks`` units by input file, each with its
own commit log, ``_log/<unit>/<version>.json`` -- the reference's one
state file per source file (reference: state.py:11-18, main.py:61-136):
a killed run re-does only the unit it died in. Chunk i reads a
contiguous slice of the input's sorted parquet files. Stage graph, per
unit kind:

  corpus        CANONICALIZED: the same-as connected components,
                computed once per store and written as ``components``
                (``canonicalize.write_components``: on the driver path
                the driver reads the edges, from their files if
                ``same_as`` is a bare parquet scan, else by one collect,
                and writes the one file itself); at n_chunks > 1 it
                first checks that no conversation spans two input
                files. The record keeps the CC path taken, the size
                estimate that chose it and the rows written, plus
                ``n_chunks`` and a digest of the sorted file list, so
                a resume reads the same slices
  chunk_NNNNN   LINKED: extract -> link to canonical ids -> distinct
                (``linking.kg_chain``), written once as
                ``edges/chunk=i/part-*.parquet``; the chunk's record
                keeps the write's audit row and schema, and which way
                the link join went (``link_join``, "broadcast" or
                "shuffle", from ``canonicalize.link_join``) with the
                estimate that chose it (``link_estimated_bytes``)
  corpus        MATERIALIZED: ``nodes`` (distinct entity ids) from all
                of ``edges``, written as ``nodes/part-*.parquet``; the
                corpus record keeps its audit row and schema
                VERIFIED: the audit rows of ``edges`` per chunk and of
                ``nodes`` read from their Parquet footers on the driver
                (``tableio.footer_audit``, no Spark job) and compared
                with the recorded ones
                COMPLETE

An audit row is (rows, min_id, max_id) observed on the write: what the
sink was given (reference: core.py:25-35), not a re-read of the disk.

Chunks are the only partition level: nothing reads, joins or checks on
a finer key. For subject-co-located joins use
``tableio.write_bucketed_table``; Hive-style directories carry no bucket
spec.

Every stage is idempotent: re-running a completed stage is a no-op
(skip gate), and a completed store re-runs without a Spark job.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from .operators import canonicalize, extract, linking
from .plans.checkpoint import StateStore, Step
from .sources import tableio

CORPUS = "corpus"  # the unit that owns the corpus-wide stages
# what older layouts leave in an out_dir: pre-chunk stage tables, the
# bucket= level under edges and nodes, the sidecars of records with no
# audit row, the state files from before the commit log, the all-unit
# snapshots from before one log per unit, and the input copy of chunks
# assigned by conversation hash. Resuming one would mix old and new
# chunks or layouts, so the pipeline refuses it
OLD_LAYOUT = (
    "mentions", "triples", "edges/chunk=*/bucket=*", "nodes/bucket=*",
    "edges_audit", "nodes_audit", "_state", "_log/*.json", "staged",
)


class KGPipeline:
    """Chunk-granular resumable KG pipeline.

    Canonicalization is corpus-global but depends only on the same_as
    INPUT, not on chunk outputs, so the component map is computed once
    per store, at the ``corpus`` unit's CANONICALIZED stage, and frozen
    there: a resume reuses it. The alias dictionary is not frozen; it is
    read on every run and composed with the stored map for the chunks
    that still have work. At ``n_chunks=1`` the single chunk reads
    ``transcripts`` directly. Above that, ``transcripts`` must be a bare
    parquet file scan whose files are conversation-complete
    (``repartition(k, "conv_id")`` before the write); chunk i reads its
    slice of the sorted file list with ``transcripts.schema``, and the
    ``corpus`` record keeps the list's sha256 -- the analogue of the
    reference's memoized remote listing (size_verification.py:20-24), as
    a digest because every version of the record repeats it.
    """

    def __init__(self, spark: SparkSession, out_dir: str, n_chunks: int = 1):
        self.spark = spark
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        self.state = StateStore(os.path.join(out_dir, "_log"))

    # -- paths ---------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def units(self) -> list[str]:
        return [f"chunk_{i:05d}" for i in range(self.n_chunks)]

    # -- stages --------------------------------------------------------
    def run(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        same_as: DataFrame,
    ) -> dict:
        """Run (or resume) the pipeline; returns the ``mentions`` and
        ``linked`` rows summed over chunks, and the ``nodes`` rows."""
        st = self.state
        old = [g for g in OLD_LAYOUT if glob.glob(self.path(g))]
        if old:
            raise RuntimeError(
                f"KGPipeline: {self.out_dir} holds {old}, the layout of an "
                "older pipeline; resuming it would mix old and new chunks. "
                "Delete the output dir and re-run."
            )

        files = input_files(transcripts) if self.n_chunks > 1 else []
        # the record keeps a digest of the file list, and none at one chunk
        layout = {"n_chunks": self.n_chunks}
        if files:
            layout["files_sha256"] = files_digest(files)
        components = self.path("components")
        if st.gate(CORPUS, Step.CANONICALIZED):
            if self.n_chunks > 1:
                check_conversations_complete(transcripts)
            cc = canonicalize.write_components(same_as, components)
            st.set(CORPUS, Step.CANONICALIZED, **layout, **cc)
        elif recorded_layout(st.metrics(CORPUS)) != recorded_layout(layout):
            raise ValueError(
                f"KGPipeline: {self.out_dir} was built from other chunks "
                "(its recorded n_chunks or input file list differs from "
                "this run's); resuming it would mix two chunk "
                "assignments. Re-run with the recorded input and "
                "n_chunks, or delete the output dir."
            )
        # read with its known schema: no schema-inference job
        canon_dict = canonicalize.apply_canonical(
            alias_dict,
            self.spark.read.schema(canonicalize.COMPONENTS_DDL).parquet(components),
        )
        link = canonicalize.link_join(alias_dict)

        for i, unit in enumerate(self.units()):
            if not st.gate(unit, Step.LINKED):
                continue
            turns = transcripts
            if self.n_chunks > 1:
                # a contiguous slice, empty when n_chunks > len(files)
                lo, hi = (len(files) * k // self.n_chunks for k in (i, i + 1))
                turns = self.spark.read.schema(transcripts.schema).parquet(*files[lo:hi])
            mentions, n_mentions = tableio.observe_rows(extract.extract_mentions(turns))
            edges, audit = tableio.observe_audit(
                linking.kg_chain(mentions, canon_dict), "subj"
            )
            tableio.write_partitioned(
                edges, os.path.join(self.path("edges"), f"chunk={i}"), []
            )
            st.set(
                unit, Step.LINKED,
                mentions=n_mentions.get["rows"], linked=audit.get["rows"],
                audit=audit.get, schema=edges.schema.jsonValue(), **link,
            )

        chunks = [st.metrics(u) for u in self.units()]
        metrics = {k: sum(m[k] for m in chunks) for k in ("mentions", "linked")}

        if st.gate(CORPUS, Step.MATERIALIZED):
            edges = self.edges()
            nodes, audit = tableio.observe_audit(
                edges.select(F.col("subj").alias("entity_id"))
                .union(
                    edges.filter(F.col("obj_kind") == "entity").select(
                        F.col("obj").alias("entity_id")
                    )
                )
                .distinct(),
                "entity_id",
            )
            tableio.write_partitioned(nodes, self.path("nodes"), [])
            st.set(
                CORPUS, Step.MATERIALIZED, **metrics, nodes=audit.get["rows"],
                audit=audit.get, schema=nodes.schema.jsonValue(),
            )
        metrics["nodes"] = st.metrics(CORPUS)["nodes"]

        if st.gate(CORPUS, Step.VERIFIED):
            if not self.post_check():
                raise RuntimeError("post-check failed: sink != recorded audit")
            st.set(CORPUS, Step.VERIFIED)

        st.set(CORPUS, Step.COMPLETE)
        return metrics

    def post_check(self) -> bool:
        """``edges`` per chunk and ``nodes`` as a whole, as their Parquet
        footers give them, equal the audit rows their writes recorded --
        the reference's post-check (reference: DESIGN.md:95-112). It
        reads only footers (``tableio.check_recorded``), so it runs no
        Spark job: a dropped row and a lost, extra or rewritten file
        fail it, but the ``subj`` and ``entity_id`` pages are not
        decoded, so a corrupt page that still decodes passes."""
        corpus = self.state.metrics(CORPUS)
        edges = {
            # types the ``chunk=i`` directories: no chunk's write has it
            "schema": StructType().add("chunk", IntegerType()).jsonValue(),
            "audit": [
                {"chunk": i, **self.state.metrics(u)["audit"]}
                for i, u in enumerate(self.units())
            ],
        }
        nodes = {"schema": corpus["schema"], "audit": [corpus["audit"]]}
        return tableio.check_recorded(
            self.path("edges"), edges, ["chunk"], "subj"
        ) and tableio.check_recorded(self.path("nodes"), nodes, [], "entity_id")

    # -- results -------------------------------------------------------
    def triples(self) -> DataFrame:
        return self.edges().drop("chunk")

    def edges(self) -> DataFrame:
        # every chunk writes one plan's schema; chunk=i adds ``chunk``
        return self._read("edges", self.units()[0])

    def nodes(self) -> DataFrame:
        return self._read("nodes", CORPUS)

    def _read(self, table: str, unit: str) -> DataFrame:
        """``table`` read with the schema ``unit``'s write recorded."""
        return tableio.read_recorded(self.spark, self.path(table), self.state.metrics(unit))


def input_files(transcripts: DataFrame) -> list[str]:
    """The sorted files of ``transcripts``, which must be a bare parquet
    file scan (``tableio.parquet_files``); anything else is refused.
    Neither the listing nor the check runs a job."""
    files = tableio.parquet_files(transcripts)
    if files is None:
        plan = transcripts._jdf.queryExecution().analyzed()
        raise ValueError(
            "KGPipeline(n_chunks > 1) reads each chunk from a slice of the "
            "input's files, so transcripts must be a bare parquet scan "
            "(spark.read.parquet(path), no partition directories, nothing "
            f"on top); got a {plan.getClass().getSimpleName()} plan. Write "
            "the frame as parquet first, or use n_chunks=1."
        )
    return sorted(files)


def files_digest(files: list[str]) -> str:
    """sha256 of a sorted file list, one path per line."""
    return hashlib.sha256("\n".join(files).encode()).hexdigest()


def recorded_layout(record: dict) -> tuple[int, str]:
    """(n_chunks, file-list digest) of a ``corpus`` record. A store from
    before the layout was recorded ran one chunk, and one from before
    the digest keeps the list itself."""
    digest = record.get("files_sha256", files_digest(record.get("files", [])))
    return record.get("n_chunks", 1), digest


def check_conversations_complete(transcripts: DataFrame) -> None:
    """Raise unless every conversation of ``transcripts`` lies in one
    file. A conversation split across two chunks' files would change
    its coreference without any error; the check is exact (conv_id
    against ``_metadata.file_path``), one aggregation over two columns."""
    path = F.col("_metadata.file_path")
    split = (
        transcripts.groupBy("conv_id")
        .agg((F.min(path) != F.max(path)).alias("split"))
        .filter("split")
    )
    if not split.isEmpty():
        raise ValueError(
            "KGPipeline(n_chunks > 1) needs conversation-complete input "
            f"files, but conversation {split.first()['conv_id']!r} spans "
            "more than one file. Write the input with "
            "df.repartition(k, 'conv_id') before the parquet write, or "
            "use n_chunks=1."
        )


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
    tables and sink each with ``partition_table``. Returns
    {table: post_check_ok}."""
    from .operators import flatten

    if validate:
        # the reference's per-file declare->infer->subset gate runs
        # BEFORE any flattening (reference: process.py:336-347)
        flatten.validate_entity_schemas(entity_df)
    tables = flatten.flatten_all(entity_df)
    return {
        name: partition_table(tdf, out_dir, name, source_name)
        for name, tdf in tables.items()
    }


def partition_table(df: DataFrame, out_dir: str, name: str, source_name: str) -> bool:
    """Sink one flattened table as Hive-partitioned parquet on its
    ``PARTITION_KEYS`` key, under its own ``source=<source_name>``
    level, commit its per-partition audit rows (of the frame it was
    given), ``source_name`` and schema to the (table x source) unit's
    log, and post-check that source's directory against them. Each
    source overwrites only its own directory, so its record keeps
    matching the disk whatever other sources write; reading
    ``<out>/<table>`` gives every source's rows, with a ``source``
    column. The log records but does not gate: a re-run writes again.

    Layout mirrors the reference's results and audit trees:
      <out>/<table>/source=<source_name>/<key>=X/...parquet
      <out>/_log/<table>/<source_name>/<version>.json
    """
    key = PARTITION_KEYS[name]
    path = os.path.join(out_dir, name, f"source={source_name}")
    tableio.write_partitioned(df, path, [key])
    st = StateStore(os.path.join(out_dir, "_log"))
    unit = os.path.join(name, source_name)
    st.set(
        unit, Step.MATERIALIZED, source_name=source_name, schema=df.schema.jsonValue(),
        audit=[r.asDict() for r in tableio.audit_frame(df, [key], "id").collect()],
    )
    return tableio.check_recorded(path, st.metrics(unit), [key], "id")
