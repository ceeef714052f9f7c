"""spark-submit entry point for the KG pipeline.

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

The session takes ``session.SQL_DEFAULTS``; pass ``get_spark``'s two
driver JVM settings on the spark-submit command line, as the
``session`` module docstring shows.

Output layout under ``--out``:

    edges/chunk=i/             the canonical triples -- the only copy
                               of the triple set, one slice per chunk
    components/                same-as component map (CANONICALIZED,
                               once per store)
    nodes/                     distinct entity ids (MATERIALIZED)
    _log/<unit>/<version>.json one commit log per unit: each stage
                               commits the unit's next version, that
                               unit's record. ``chunk_NNNNN``: LINKED,
                               mentions/linked rows, the edges write's
                               audit row (rows, min_id, max_id) and
                               schema, the link join taken
                               (``link_join``, "broadcast" or
                               "shuffle") and the alias dictionary's
                               size estimate that chose it
                               (``link_estimated_bytes``). ``corpus``:
                               the corpus-wide stage reached
                               (CANONICALIZED, MATERIALIZED, VERIFIED,
                               COMPLETE), n_chunks, ``files_sha256`` (the sha256
                               of the sorted input file list; absent
                               at 1 chunk), the CC path taken
                               (``cc_path``), the size estimate that
                               chose it (``cc_estimated_bytes``) and
                               the ``components`` rows written, row
                               totals, and the nodes write's audit row
                               and schema
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
            "resumable units; chunk i reads a contiguous slice of the "
            "sorted --transcripts files, so above 1 every conversation "
            "must lie in one file (write it with repartition(k, conv_id))"
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
