"""spark-submit entry point for the KG pipeline, batch and incremental.

Launch (the north rule's launch mode):

    python tools/build_pyfiles.py          # -> dist/wikidata_pq_spark.zip
    spark-submit --master <cluster-or-local> \
        --py-files dist/wikidata_pq_spark.zip \
        jobs/run_pipeline.py \
        --transcripts <parquet path> \
        --alias-dict <parquet path> \
        --same-as <parquet path> \
        --out <output dir> [--chunks 1]

On a real cluster pass executor configs as usual; the pipeline itself
is resumable (re-submit after a failure and completed units skip).
It is also the incremental entry point: re-submitting over the same
``--transcripts`` directory turns its new files into new chunks of the
same store, and ``--chunks`` splits only that run's new files (a
resume re-runs the recorded chunks whatever ``--chunks`` says). A run
whose directory lost a file an earlier run recorded is refused before
it writes anything. The same-as components are frozen per store (a
changed ``--same-as`` needs a new ``--out``); ``--alias-dict`` is read
on every run.

The session takes ``session.SQL_DEFAULTS``, so it runs none of the
class path's session-extension providers, and ``pyspark.ml``'s
``vector_to_array`` and ``array_to_vector`` are unresolved in it; the
job uses neither. Pass ``get_spark``'s two driver JVM settings on the
spark-submit command line, as the ``session`` module docstring shows.

Output layout under ``--out``:

    edges/chunk=i/             the canonical triples -- the only copy
                               of the triple set, one slice per chunk
    components/                same-as component map (CANONICALIZED,
                               once per store)
    nodes/                     distinct entity ids (MATERIALIZED)
    _log/<unit>/<version>.json one commit log per unit: each stage
                               commits the unit's next version, that
                               unit's record. ``chunk_NNNNN``: its
                               plan, ``files`` (the chunk's sorted
                               slice of the input files, its version
                               0; null for an input that is not a
                               parquet scan), then LINKED,
                               mentions/linked rows, the edges write's
                               audit row (rows, min_id, max_id) and
                               schema, the link join taken
                               (``link_join``, "broadcast" or
                               "shuffle") and the alias dictionary's
                               size estimate that chose it
                               (``link_estimated_bytes``). ``corpus``:
                               the corpus-wide stage reached
                               (CANONICALIZED, MATERIALIZED, VERIFIED,
                               COMPLETE), the CC path taken
                               (``cc_path``), the size estimate that
                               chose it (``cc_estimated_bytes``) and
                               the ``components`` rows written, row
                               totals, the nodes write's audit row
                               and schema, and the chunks that
                               MATERIALIZED and VERIFIED covered
                               (``materialized_chunks``,
                               ``verified_chunks``); no file list
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from wikidata_pq_spark.session import SQL_DEFAULTS


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--transcripts", required=True)
    p.add_argument("--alias-dict", required=True)
    p.add_argument("--same-as", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--chunks", type=int, default=1,
        help=(
            "resumable units this run splits its new --transcripts files "
            "into, each a contiguous slice of them; re-submitting over the "
            "same directory turns new files into new chunks, and a lost "
            "file is refused. Once a store holds more than one chunk, "
            "every conversation must lie in one file (write it with "
            "repartition(k, conv_id))"
        ),
    )
    args = p.parse_args()

    # spark-submit provides master/conf; only adjust session-level SQL conf
    spark = (
        SparkSession.builder.appName("kg_pipeline")
        .config(map=SQL_DEFAULTS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from wikidata_pq_spark.pipeline import KGPipeline

    pipe = KGPipeline(spark, args.out, n_chunks=args.chunks)
    metrics = pipe.run(
        spark.read.parquet(args.transcripts),
        spark.read.parquet(args.alias_dict),
        spark.read.parquet(args.same_as),
    )
    print(json.dumps({"status": "complete", **metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
