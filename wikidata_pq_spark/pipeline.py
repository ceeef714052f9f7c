"""End-to-end transcript -> knowledge-graph pipeline (resumable, growable).

The corpus splits into chunk units by input file, each with its own
commit log, ``_log/<unit>/<version>.json`` -- the reference's one state
file per source file (reference: state.py:11-18, main.py:61-136): a
killed run re-does only the unit it died in, and a re-run over a
listing with new files turns them into new units, as the reference's
loop does (reference: main.py:65, process.py:279-282). Stage graph, per
unit kind:

  chunk_NNNNN   PLAN (version 0, before any stage runs): ``files``,
                the chunk's slice of the input's sorted parquet files
                (Delta's add-file entry), named relative to the
                listing's directory; see ``KGPipeline``. Later
                versions do not repeat it
  corpus        CANONICALIZED: the same-as connected components,
                computed once per store and written as ``components``
                (``canonicalize.write_components``: on the driver path
                the driver reads the edges, from their files if
                ``same_as`` is a bare parquet scan, else by one collect,
                and writes the one file itself). The record keeps the
                CC path taken, the size estimate that chose it and the
                rows written
  chunk_NNNNN   LINKED: extract -> link to canonical ids -> distinct
                (``linking.kg_chain``) over the planned files, written
                once as ``edges/chunk=i/part-*.parquet``; the chunk's
                record keeps the write's audit row and schema, and
                which way the link join went (``link_join``,
                "broadcast" or "shuffle", from ``canonicalize.link_join``)
                with the estimate that chose it (``link_estimated_bytes``)
  corpus        MATERIALIZED: ``nodes`` (distinct entity ids) from all
                of ``edges``, on one of two paths chosen by the bytes of
                the edges' data files (``nodes_edges_bytes``, listed on
                the driver): at most ``canonicalize.DRIVER_MAX_BYTES``,
                the bound CANONICALIZED uses, the driver reads their
                three columns with pyarrow and writes the sorted ids as
                ``nodes/part-00000.parquet`` (no Spark job); above it
                Spark plans the distinct and writes
                ``nodes/part-*.parquet``. The corpus record keeps the
                path taken (``nodes_path``, "driver" or "distributed"),
                and the write's audit row and schema, the same on both
                VERIFIED: the audit rows of ``edges`` per chunk and of
                ``nodes`` read from their Parquet footers on the driver
                (``tableio.footer_audit``, no Spark job) and compared
                with the recorded ones
                COMPLETE
                MATERIALIZED and VERIFIED record the chunks they covered
                (``materialized_chunks``, ``verified_chunks``) and run
                again when more are planned: a growth run redoes them

An audit row is (rows, min_id, max_id) observed on the write: what the
sink was given (reference: core.py:25-35), not a re-read of the disk.

Chunks are the only partition level: nothing reads, joins or checks on
a finer key. For subject-co-located joins use
``tableio.write_bucketed_table``; Hive-style directories carry no bucket
spec.

A small store's corpus stages run on the driver: CANONICALIZED and
MATERIALIZED take a driver path below one size bound,
``canonicalize.DRIVER_MAX_BYTES``, and VERIFIED reads footers at any
size, so none of them launches a Spark job on a small store
(CANONICALIZED's collect of a ``same_as`` frame that is not a file scan
aside); only the chunks' LINKED stages plan Spark queries.

Every stage is idempotent: re-running a completed stage is a no-op
(skip gate), and a completed store re-runs without a Spark job.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructType

from .operators import canonicalize, extract, linking
from .plans import checkpoint
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
# ``nodes``' one column, on both MATERIALIZED paths (Spark reads every
# column of a file scan as nullable)
NODES_SCHEMA = StructType().add("entity_id", StringType())
# corpus record keys of a multi-chunk store from before chunk plans,
# which kept the whole file list (or its digest) and no slice per chunk
OLD_CORPUS_KEYS = {"files", "files_sha256"}


class KGPipeline:
    """Chunk-granular resumable KG pipeline, grown by new input files.

    ``transcripts`` must be a bare parquet scan
    (``spark.read.parquet(path)``): every chunk reads a slice of its
    files, so any other frame is refused before anything is written. A
    run first plans its new files -- the files of ``transcripts`` no
    planned chunk covers -- as ``n_chunks`` contiguous slices, new chunk
    units after the existing ones; a listing that lost a planned file
    is refused. A resume re-runs the planned chunks that are not
    LINKED, on their recorded files, whatever ``n_chunks`` it is given.
    Once the store holds more than one chunk, input files must be
    conversation-complete (``repartition(k, "conv_id")`` before the
    write). A plan names its files relative to the listing's
    directory, so a store resumes on its input moved elsewhere, but a
    growth run's listing must keep that directory the deepest one
    common to all its files: files from a sibling directory would
    resolve the old names under their parent, and be refused as lost.

    Canonicalization is corpus-global but depends only on the same_as
    INPUT, not on chunk outputs, so the component map is computed once
    per store, at the ``corpus`` unit's CANONICALIZED stage, and frozen
    there: a resume or a growth run reuses it, so a changed ``same_as``
    needs a new store. The alias dictionary is not frozen; it is read on
    every run and composed with the stored map for the chunks that
    still have work, so a growth run's chunks link with the current
    dictionary.
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
        return [chunk_unit(i) for i in self.plans()]

    def plans(self) -> dict[int, list[str]]:
        """Each planned chunk's files, by chunk index, read from version
        0 of its log, its plan: a unit directory with no version 0 (a
        plan commit that died) is no chunk. A store of an older layout
        may hold a plan without files (None), which ``run`` refuses."""
        log = self.state.log_dir
        names = sorted(os.listdir(log)) if os.path.isdir(log) else []
        plans = {}
        for name in names:
            if name.startswith("chunk_"):
                plan = checkpoint.read(os.path.join(log, name), 0)
                if plan is not None:
                    plans[int(name[len("chunk_"):])] = plan.get("files")
        return plans

    # -- stages --------------------------------------------------------
    def run(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        same_as: DataFrame,
    ) -> dict:
        """Run (or resume, or grow) the pipeline; returns the ``mentions``
        and ``linked`` rows summed over chunks, and the ``nodes`` rows."""
        st = self.state
        planned = self.plans()
        old = [g for g in OLD_LAYOUT if glob.glob(self.path(g))]
        old += sorted(OLD_CORPUS_KEYS & st.metrics(CORPUS).keys())
        # a chunk planned on no files (on a frame that was no parquet
        # scan, or before chunk plans) would never let the store grow
        old += [f"{chunk_unit(i)} without files" for i, fs in planned.items() if fs is None]
        if old:
            raise RuntimeError(
                f"KGPipeline: {self.out_dir} holds {old}, the layout of an "
                "older pipeline; resuming it would mix old and new chunks. "
                "Delete the output dir and re-run."
            )

        plans = self._plan(transcripts, planned)
        components = self.path("components")
        if st.gate(CORPUS, Step.CANONICALIZED):
            cc = canonicalize.write_components(same_as, components)
            st.set(CORPUS, Step.CANONICALIZED, **cc)

        # the dictionary is composed, and its join chosen, once per run
        # and only if a chunk has to link: a resume past LINKED takes no
        # estimate. Asked with ``get``: the gate below opens each
        # chunk's stage
        todo = [i for i in plans if st.get(chunk_unit(i)) < Step.LINKED]
        if todo:
            link = canonicalize.link_join(alias_dict)
            # read with its known schema: no schema-inference job
            canon_dict = canonicalize.apply_canonical(
                alias_dict,
                self.spark.read.schema(canonicalize.COMPONENTS_DDL).parquet(components),
                link["link_join"],
            )
        for i in todo:
            if not st.gate(chunk_unit(i), Step.LINKED):
                continue
            turns = self.spark.read.schema(transcripts.schema).parquet(*plans[i])
            mentions, n_mentions = tableio.observe_rows(extract.extract_mentions(turns))
            edges, audit = tableio.observe_audit(
                linking.kg_chain(mentions, canon_dict), "subj"
            )
            tableio.write_partitioned(
                edges, os.path.join(self.path("edges"), f"chunk={i}"), []
            )
            st.set(
                chunk_unit(i), Step.LINKED,
                mentions=n_mentions.get["rows"], linked=audit.get["rows"],
                audit=audit.get, schema=edges.schema.jsonValue(), **link,
            )

        chunks = [st.metrics(chunk_unit(i)) for i in plans]
        metrics = {k: sum(m[k] for m in chunks) for k in ("mentions", "linked")}

        if self._due(Step.MATERIALIZED, "materialized_chunks", len(plans)):
            st.set(
                CORPUS, Step.MATERIALIZED, **metrics, **self._write_nodes(),
                materialized_chunks=len(plans),
            )
        metrics["nodes"] = st.metrics(CORPUS)["nodes"]

        if self._due(Step.VERIFIED, "verified_chunks", len(plans)):
            if not self.post_check():
                raise RuntimeError("post-check failed: sink != recorded audit")
            st.set(CORPUS, Step.VERIFIED, verified_chunks=len(plans))

        st.set(CORPUS, Step.COMPLETE)
        return metrics

    def _plan(
        self, transcripts: DataFrame, planned: dict[int, list[str]]
    ) -> dict[int, list[str]]:
        """Commit a plan for each new chunk after the ``planned`` ones
        (``plans``) and return every chunk's files, resolved against
        this run's listing. Each plan is its unit's version 0, committed
        with ``checkpoint.commit``: of two runs planning the same unit
        one wins and the other raises, so no plan is ever overwritten.
        Everything that can refuse the input runs before the first
        commit, first of all the check that ``transcripts`` is a bare
        parquet scan (``tableio.parquet_files`` gives no listing for any
        other frame). The listing comes from the file index: no job.

        A plan names its files relative to the listing's directory
        (``listing_dir``), so the log does not depend on where the input
        lives, and a store whose input directory moved resumes on the
        moved files. Plans that hold absolute entries (stores planned
        before names were recorded) resolve to themselves."""
        listing = tableio.parquet_files(transcripts)
        if listing is None:
            plan = transcripts._jdf.queryExecution().analyzed()
            raise ValueError(
                "KGPipeline reads each chunk from a slice of the input's "
                "files, so transcripts must be a bare parquet scan "
                "(spark.read.parquet(path), no partition directories, "
                f"nothing on top); got a {plan.getClass().getSimpleName()} "
                "plan. Write the frame as parquet first."
            )
        base = listing_dir(listing)
        plans = {i: [resolve(base, f) for f in fs] for i, fs in planned.items()}
        recorded = {f for fs in plans.values() for f in fs}
        lost = sorted(recorded.difference(listing))
        if lost:
            raise ValueError(
                f"KGPipeline: {self.out_dir} has chunks planned on "
                f"{len(lost)} file(s) this run's input lacks, first "
                f"{lost[0]!r}; a store only grows. Re-run with every "
                "planned file, or delete the output dir."
            )
        fresh = sorted(set(listing) - recorded)
        if plans and not fresh:
            return plans
        n = self.n_chunks
        # contiguous slices, empty when n_chunks > len(fresh)
        new = [fresh[len(fresh) * k // n:len(fresh) * (k + 1) // n] for k in range(n)]
        if len(plans) + n > 1:
            check_conversations_complete(transcripts)
        first = max(plans, default=-1) + 1
        for i, files in enumerate(new, start=first):
            try:
                checkpoint.commit(
                    os.path.join(self.state.log_dir, chunk_unit(i)), 0,
                    {"step": int(Step.INIT), "files": [f[len(base) + 1:] for f in files]},
                )
            except FileExistsError:
                raise RuntimeError(
                    f"KGPipeline: another run planned {chunk_unit(i)} of "
                    f"{self.out_dir} first; this run planned nothing more. "
                    "Re-run once it has finished."
                ) from None
            plans[i] = files
        return plans

    def _write_nodes(self) -> dict:
        """Write ``nodes``, the distinct entity ids of ``edges`` (each
        ``subj``, and each ``obj`` whose ``obj_kind`` is "entity"), and
        return its record: ``nodes`` (rows written), the write's
        ``audit`` row and ``schema``, and which way the size switch went,
        ``nodes_path`` ("driver" or "distributed"), with the bytes of the
        edges' data files that chose it, ``nodes_edges_bytes``.

        Edges of at most ``canonicalize.DRIVER_MAX_BYTES``, the bound
        CANONICALIZED uses, are read on the driver (``driver_nodes``) and
        written as one file (``tableio.write_arrow``): no Spark job.
        Above it Spark plans the union and distinct and writes them, and
        an Observation on the write takes the audit row."""
        files = tableio.data_files(self.path("edges"))
        size = sum(os.path.getsize(f) for f in files)
        path = self.path("nodes")
        if size <= canonicalize.DRIVER_MAX_BYTES:
            table = driver_nodes(files)
            codec = self.spark.conf.get("spark.sql.parquet.compression.codec")
            tableio.write_arrow(table, path, codec)
            audit, schema, way = tableio.arrow_audit(table, "entity_id"), NODES_SCHEMA, "driver"
        else:
            edges = self.edges()
            ids = edges.select(F.col("subj").alias("entity_id")).union(
                edges.filter(F.col("obj_kind") == "entity").select(F.col("obj").alias("entity_id"))
            )
            nodes, obs = tableio.observe_audit(ids.distinct(), "entity_id")
            tableio.write_partitioned(nodes, path, [])
            audit, schema, way = obs.get, nodes.schema, "distributed"
        return {
            "nodes": audit["rows"], "audit": audit, "schema": schema.jsonValue(),
            "nodes_path": way, "nodes_edges_bytes": size,
        }

    def _due(self, step: Step, covered: str, n: int) -> bool:
        """True if the corpus stage ``step`` still has to run: its step
        is not reached, or it covered another number of chunks than the
        ``n`` planned (a growth run). The gate is asked first, always,
        so a caller that hooks it sees every corpus stage."""
        return self.state.gate(CORPUS, step) or self.state.metrics(CORPUS).get(covered, n) != n

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
                {"chunk": i, **self.state.metrics(chunk_unit(i))["audit"]}
                for i in self.plans()
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


def listing_dir(files: list[str]) -> str:
    """The deepest directory holding every one of ``files`` (paths or
    URIs, as ``DataFrame.inputFiles`` gives them), with no trailing
    slash: the directory a plan names its files relative to. Taken on
    the strings, as ``os.path.commonpath`` would turn ``file:///d`` into
    ``file:/d``."""
    prefix = os.path.commonprefix(files)
    return prefix[:prefix.rfind("/")]


def resolve(base: str, name: str) -> str:
    """A planned file: ``name`` under the listing's directory ``base``,
    or ``name`` itself if it is absolute, a path or a URI, as the plans
    of stores from before relative names hold."""
    return name if re.match(r"/|[A-Za-z][A-Za-z0-9+.-]*:", name) else f"{base}/{name}"


def driver_nodes(files: list[str]):
    """The distinct entity ids of the ``edges`` data ``files`` as an
    Arrow table with ``NODES_SCHEMA``'s column, sorted by ``entity_id``
    so the file's bytes do not depend on the order of the input (as
    ``components``'): the three columns read with pyarrow, and one
    vectorized hash pass (``pyarrow.compute.unique``) on the driver.
    Null ``obj_kind`` is not "entity", as in Spark's filter."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ids = []
    for f in files:
        edges = pq.read_table(f, columns=["subj", "obj", "obj_kind"])
        entity = pc.equal(edges["obj_kind"], "entity")
        ids += [edges["subj"], edges["obj"].filter(entity)]
    chunks = pa.chunked_array([c for col in ids for c in col.chunks], pa.string())
    return pa.table({"entity_id": pc.unique(chunks)}).sort_by("entity_id")


def chunk_unit(i: int) -> str:
    """The unit name of chunk ``i``."""
    return f"chunk_{i:05d}"


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
            "KGPipeline needs conversation-complete input files once a "
            f"store holds more than one chunk, but conversation "
            f"{split.first()['conv_id']!r} spans more than one file. Write "
            "the input with df.repartition(k, 'conv_id') before the "
            "parquet write, or use n_chunks=1 in a new store."
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
