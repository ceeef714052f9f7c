"""Resumable corpus-curation pipeline: the training-data twin of
``KGPipeline``.

Stages (each a unit of the KG pipeline's state machine, with its own
commit log ``_log/<unit>/<version>.json`` -- reference: state.py:11-18 /
process.py:279-282 skip gates -- so a killed job re-submits and
completed stages skip):

1. redact    -- PII scrub (map-only, fuses into the scan), text
                replaced in place, per-class hit counts kept.
2. curate    -- exact-dedup survivors + quality gate + repetition gate
                + deterministic content-hash split labels, one plan.
3. pack      -- concat-and-chunk sequence packing metadata over the
                CURATED survivors only (per-shard windows, no global
                sort).
4. finalize  -- split-partitioned sink; its per-split audit rows
                go into the stage's record and the sink's Parquet
                footers are checked against them (the VERIFIED gate,
                no Spark job).

Every stage writes parquet under ``out_dir`` and advances its state
unit to COMPLETE with row-count metrics and the written schema, which
every later read uses (no schema-inference job), so resume-identical
semantics and lineage audit work exactly like the KG side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import curation
from .plans.checkpoint import StateStore, Step
from .sources import tableio


class CurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        quality_min: float = 0.3,
        rep_max: float = 0.5,
        max_len: int = 512,
    ):
        self.spark = spark
        self.out = out_dir
        self.quality_min = quality_min
        self.rep_max = rep_max
        self.max_len = max_len
        self.state = StateStore(os.path.join(out_dir, "_log"))

    def _p(self, name: str) -> str:
        return os.path.join(self.out, name)

    def run(self, docs: DataFrame) -> dict:
        st = self.state

        if st.gate("redact", Step.COMPLETE):
            # keep_cols rides lang through the SAME map-only scan --
            # no self-join, the stage stays shuffle-free as documented
            red = curation.redact_pii(docs, keep_cols=("lang",))
            out, n = tableio.observe_rows(red.select(
                "doc_id", "lang", F.col("red_text").alias("text"),
                "n_email", "n_phone", "n_ipv4", "had_pii",
            ))
            out.write.mode("overwrite").parquet(self._p("redacted"))
            st.set("redact", Step.COMPLETE, rows=n.get["rows"], schema=out.schema.jsonValue())

        redacted = self._read("redacted", "redact")

        if st.gate("curate", Step.COMPLETE):
            cur, n = tableio.observe_rows(curation.curate_corpus(
                redacted, quality_min=self.quality_min, rep_max=self.rep_max
            ))
            cur.write.mode("overwrite").parquet(self._p("curated"))
            st.set("curate", Step.COMPLETE, rows=n.get["rows"], schema=cur.schema.jsonValue())

        curated = self._read("curated", "curate")

        if st.gate("pack", Step.COMPLETE):
            survivors = redacted.join(
                curated.select("doc_id"), "doc_id", "semi"
            )
            packed, n = tableio.observe_rows(
                curation.pack_chunks(survivors, max_len=self.max_len)
            )
            packed.write.mode("overwrite").parquet(self._p("packed"))
            st.set("pack", Step.COMPLETE, rows=n.get["rows"], schema=packed.schema.jsonValue())

        if st.gate("finalize", Step.COMPLETE):
            packed = self._read("packed", "pack")
            final = curated.join(packed, ["doc_id", "lang"]).select(
                "doc_id", "lang", "split", "quality", "rep_ratio",
                "n_tokens", "start_off", "first_chunk", "last_chunk",
                "n_chunks",
            )
            tableio.write_partitioned(final, self._p("corpus"), ["split"])
            # per-split rows of what the sink was given, kept in the record
            audit = tableio.audit_frame(final, ["split"], "doc_id").collect()
            record = {"schema": final.schema.jsonValue(), "audit": [r.asDict() for r in audit]}
            if not tableio.check_recorded(self._p("corpus"), record, ["split"], "doc_id"):
                raise RuntimeError("curated-corpus sink failed post-check")
            st.set(
                "finalize", Step.COMPLETE, rows=sum(r["rows"] for r in audit),
                verified=True, **record,
            )

        return {
            "redacted": self.state.metrics("redact").get("rows"),
            "curated": self.state.metrics("curate").get("rows"),
            "packed": self.state.metrics("pack").get("rows"),
            "final": self.state.metrics("finalize").get("rows"),
            "verified": self.state.metrics("finalize").get("verified", False),
        }

    def corpus(self) -> DataFrame:
        return self._read("corpus", "finalize")

    def _read(self, table: str, unit: str) -> DataFrame:
        return tableio.read_recorded(self.spark, self._p(table), self.state.metrics(unit))
