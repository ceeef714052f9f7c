"""Workloads of the pipeline benchmark.

A workload generates its inputs from a seed, writes them as parquet and
then runs iterations of one user flow over them; the program under test
only ever sees the parquet inputs. Every iteration is timed in phases,
in wall and CPU seconds, and ends by reading its outputs to
fingerprints, which are checked.

- ``kg_batch``: ``KGPipeline.run`` over a transcript corpus, crashed
  after the LINKED stage and resumed, then its outputs read back.
- ``kg_incremental``: canonical triples split by conversation hash into
  epochs, merged into the triple-support and current-beliefs epoch
  stores with a crash and replay half way, then both views read,
  compacted and read again.

Both run on one corpus size: whole conversations up to TURNS turns,
MEAN_TURNS turns per conversation on average, over ENTITIES entities.
"""

from __future__ import annotations

import contextlib
import os
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from wikidata_pq_spark import datagen, oracle
from wikidata_pq_spark.pipeline import KGPipeline
from wikidata_pq_spark.plans.checkpoint import StateStore, Step
from wikidata_pq_spark.streaming import incremental

TRIPLE_COLUMNS = list(oracle.TRIPLE_COLUMNS)

TURNS = 12_000
MEAN_TURNS = 20
ENTITIES = 2000
EPOCHS = 3  # kg_incremental: the crash falls in epoch EPOCHS // 2

# datagen.gen_entities draws 1-3 aliases per entity from a pool of
# 2-3-syllable words over 26 syllables: 26**2 + 26**3 = 18,252 distinct
# words. Near ~9k entities the rejection loop in _alias_pool needs more
# words than exist and never returns (8,000 takes ~3.5 s; 20,000 did not
# return in 500 s), so larger sizes are refused up front.
MAX_ENTITIES = 8000


class InjectedCrash(RuntimeError):
    """Raised by the benchmark to simulate a killed run."""


def check_size() -> None:
    """Refuse an entity count datagen.gen_entities would hang on."""
    if ENTITIES > MAX_ENTITIES:
        raise ValueError(
            f"ENTITIES={ENTITIES} > {MAX_ENTITIES}: datagen.gen_entities "
            "cannot draw that many distinct aliases from its syllable pool "
            "and would never return"
        )


def write_parquet(pdf, path: str) -> None:
    """pandas -> one parquet file, timestamps as UTC microseconds (read
    by Spark as ``timestamp``, like the transcript table's schema)."""
    if "ts" in pdf:
        pdf = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the driver JVM and its Python workers, including
    children already reaped by their parents. Unlike wall time, it leaves
    out time the hypervisor steals from a virtual host."""
    children: dict = {}
    cpu: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the listing
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(v) for v in fields[11:15])  # utime..cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


class PhaseClock:
    """Wall and process-tree CPU seconds of consecutive phases, and each
    phase's (start, end) on the perf_counter clock."""

    def __init__(self):
        self.wall: dict = {}
        self.cpu: dict = {}
        self.window: dict = {}
        self.restart()

    def restart(self) -> None:
        """Start the next phase here; time since the last lap is dropped."""
        self._last = (time.perf_counter(), tree_cpu_s())

    def lap(self, phase: str) -> None:
        """End ``phase`` here and start the next one."""
        wall, cpu = self._last
        self.restart()
        self.wall[phase] = self._last[0] - wall
        self.cpu[phase] = self._last[1] - cpu
        self.window[phase] = (wall, self._last[0])

    def result(self, **extra) -> dict:
        return {"phases": self.wall, "phases_cpu": self.cpu, "windows": self.window,
                "run_s": sum(self.wall.values()),
                "cpu_s": sum(self.cpu.values()), **extra}


def fingerprint(df, sums: tuple = ()) -> tuple:
    """Read every row of ``df`` into (rows, order-independent xxhash64
    sum over all columns, then the sum of each column in ``sums``).
    Equal multisets of rows give equal tuples. The benchmark's view reads
    are these fingerprints, so reading a view also yields its check."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h), *[F.sum(c) for c in sums]).first()
    return tuple(int(v or 0) for v in row)


def triple_fingerprint(df) -> tuple:
    """:func:`fingerprint` of TRIPLE_COLUMNS with the oracle's types."""
    return fingerprint(df.select(
        *[F.col(c).cast("string") for c in ("subj", "pred", "obj", "conv_id")],
        F.col("turn_idx").cast("int"), F.col("ts").cast("timestamp"),
    ))


def _epoch_files(store: str, epoch: int) -> int:
    """Parquet files under one epoch partition of an epoch store."""
    files = 0
    for _, _, names in os.walk(os.path.join(store, f"epoch={epoch}")):
        files += sum(n.endswith(".parquet") for n in names)
    return files


@contextlib.contextmanager
def crash_after(step: Step):
    """Make ``StateStore.set`` raise right after it records ``step``."""
    orig = StateStore.set

    def set_then_crash(store, unit, s, **metrics):
        orig(store, unit, s, **metrics)
        if s == step:
            raise InjectedCrash(f"injected crash after {step.name}")

    StateStore.set = set_then_crash
    try:
        yield
    finally:
        StateStore.set = orig


class _Corpus:
    """Shared corpus generation: transcripts, alias dictionary, same-as."""

    @staticmethod
    def params() -> dict:
        return {"turns": TURNS, "entities": ENTITIES, "mean_turns": MEAN_TURNS}

    @staticmethod
    def _corpus(seed: int, in_dir: str):
        """A corpus of whole conversations holding at most TURNS turns.

        Conversation lengths are Zipf-distributed, so a fixed conversation
        count gives a corpus whose size swings with the seed. Every
        conversation has at least MEAN_TURNS // 2 + 1 turns, so this many
        always suffice; the first ones (by id) are kept up to TURNS.
        """
        convs = -(-TURNS // (MEAN_TURNS // 2 + 1))
        tr = datagen.gen_transcripts(
            n_convs=convs, mean_turns=MEAN_TURNS, n_entities=ENTITIES, seed=seed,
        )
        sizes = tr.groupby("conv_id").size().sort_index()
        keep = sizes.index[sizes.cumsum() <= TURNS]
        tr = tr[tr["conv_id"].isin(keep)].reset_index(drop=True)
        ents = datagen.gen_entities(ENTITIES, seed=seed)
        same_as = datagen.gen_same_as(ENTITIES)
        write_parquet(tr, os.path.join(in_dir, "transcripts.parquet"))
        return tr, ents, same_as

    @staticmethod
    def transcripts_path(in_dir: str) -> str:
        return os.path.join(in_dir, "transcripts.parquet")


class KGBatch(_Corpus):
    name = "kg_batch"

    def generate(self, seed: int, in_dir: str) -> None:
        tr, ents, same_as = self._corpus(seed, in_dir)
        write_parquet(ents, os.path.join(in_dir, "entities.parquet"))
        write_parquet(same_as, os.path.join(in_dir, "same_as.parquet"))
        self._frames = (tr, ents, same_as)

    def reference(self, spark, ref_dir: str) -> None:
        """Pandas oracle triples for the last generated corpus (untimed)."""
        path = os.path.join(ref_dir, "oracle_triples.parquet")
        write_parquet(oracle.oracle_triples(*self._frames)[TRIPLE_COLUMNS], path)
        self._expected = triple_fingerprint(spark.read.parquet(path))
        del self._frames

    def open(self, spark, in_dir: str) -> None:
        self.paths = [
            os.path.join(in_dir, f"{n}.parquet")
            for n in ("transcripts", "entities", "same_as")
        ]

    def _inputs(self, spark) -> list:
        return [spark.read.parquet(p) for p in self.paths]

    def iterate(self, spark, out_dir: str, tracer) -> dict:
        inputs = self._inputs(spark)
        clock = PhaseClock()
        try:
            with crash_after(Step.LINKED):
                KGPipeline(spark, out_dir).run(*inputs)
        except InjectedCrash:
            pass
        clock.lap("crashed_s")
        metrics = KGPipeline(spark, out_dir).run(*inputs)
        clock.lap("resume_s")
        done = KGPipeline(spark, out_dir)
        views = [triple_fingerprint(done.triples()),
                 fingerprint(done.edges()), fingerprint(done.nodes())]
        clock.lap("view_read_s")
        return clock.result(
            pipeline_s=clock.wall["crashed_s"] + clock.wall["resume_s"],
            views=views,
            counters={
                "extract.rows_out": metrics["mentions"],
                "linking.rows_out": metrics["linked"],
                "pipeline.boundary_mb": sum(
                    dir_mb(os.path.join(out_dir, d))
                    for d in ("mentions", "linked", "triples", "components")
                ),
            },
        )

    def check(self, result: dict) -> bool:
        """The output triples equal the pandas oracle's, as multisets."""
        triples = result["views"][0]
        result["triples"] = triples[0]
        return triples == self._expected


class KGIncremental(_Corpus):
    name = "kg_incremental"

    @staticmethod
    def params() -> dict:
        return {**_Corpus.params(), "epochs": EPOCHS}

    def generate(self, seed: int, in_dir: str) -> None:
        self._frames = self._corpus(seed, in_dir)

    def reference(self, spark, ref_dir: str) -> None:
        """Canonical triples of the last generated corpus, from the pandas
        reference pipeline (untimed), split into epoch inputs by
        conversation hash. The check compares the views before and after
        compaction."""
        triples = oracle.oracle_triples(*self._frames)[TRIPLE_COLUMNS]
        del self._frames
        epoch = triples["conv_id"].map(lambda c: zlib.crc32(c.encode()) % EPOCHS)
        for e in range(EPOCHS):
            write_parquet(
                triples[epoch == e], os.path.join(ref_dir, f"epoch_{e:03d}.parquet")
            )
        self.n_rows = len(triples)

    def open(self, spark, in_dir: str) -> None:
        self.batches = [
            spark.read.parquet(os.path.join(in_dir, f"epoch_{e:03d}.parquet"))
            for e in range(EPOCHS)
        ]

    def _merge(self, e: int, *stores: str) -> None:
        """Merge epoch ``e`` into the given stores (support first)."""
        merges = (incremental.merge_triple_support, incremental.merge_current_beliefs)
        for merge, store in zip(merges, stores):
            merge(self.batches[e], store, e)
            self._files_written += _epoch_files(store, e)

    @staticmethod
    def _read(spark, support: str, beliefs: str) -> list:
        """Read both views to their fingerprints."""
        return [
            fingerprint(incremental.read_triple_support(spark, support),
                        sums=("n_support",)),
            fingerprint(incremental.read_current_beliefs(spark, beliefs)),
        ]

    def iterate(self, spark, out_dir: str, tracer) -> dict:
        support = os.path.join(out_dir, "support")
        beliefs = os.path.join(out_dir, "beliefs")
        crash = EPOCHS // 2
        self._files_written = 0
        clock = PhaseClock()
        for e in range(crash):
            self._merge(e, support, beliefs)
        self._merge(crash, support)  # killed before the beliefs write of `crash`
        clock.lap("crashed_s")
        for e in range(crash, EPOCHS):  # replays `crash`, then the rest
            self._merge(e, support, beliefs)
        clock.lap("resume_s")
        with tracer.span("incremental.read"):
            before = self._read(spark, support, beliefs)
        clock.lap("view_read_s")
        files_scanned = sum(
            _epoch_files(store, e)
            for store in (support, beliefs)
            for e in incremental.live_epochs(store)
        )
        clock.restart()
        summaries = [
            incremental.compact_triple_support(spark, support),
            incremental.compact_current_beliefs(spark, beliefs),
        ]
        clock.lap("compact_s")
        with tracer.span("incremental.read"):
            after = self._read(spark, support, beliefs)
        clock.lap("compacted_read_s")
        return clock.result(
            views=(before, after),
            counters={
                "incremental.merge.files_written": self._files_written,
                "incremental.read.files_scanned": files_scanned,
                "incremental.compact.rows_written": sum(
                    s.get("rows", 0) for s in summaries
                ),
            },
        )

    def check(self, result: dict) -> bool:
        """Both views read the same before and after compaction, and the
        support counts add up to the input rows (a replay counted twice,
        or an epoch lost, breaks the sum)."""
        before, after = result["views"]
        result["triples"] = self.n_rows
        return before == after and after[0][2] == self.n_rows
