"""spark-submit entry point for the KG pipeline.

Launch (the north rule's launch mode):

    python tools/build_pyfiles.py          # -> dist/wikidata_pq_spark.zip
    spark-submit --master <cluster-or-local> \
        --py-files dist/wikidata_pq_spark.zip \
        jobs/run_pipeline.py \
        --transcripts <parquet-or-iceberg-path> \
        --alias-dict <parquet path> \
        --same-as <parquet path> \
        --out <output dir> [--buckets 64] [--link-strategy broadcast]

On a real cluster pass executor configs as usual; the pipeline itself
is resumable (re-submit after a failure and completed stages skip).

Output layout under ``--out`` (single-unit pipeline):

    mentions/                  extracted mentions (EXTRACTED)
    edges/bucket=N/            the linked triples, bucketed by subject
                               hash -- the only copy of the triple set
    edges_audit/               (source, bucket, rows, min_id, max_id)
    components/                same-as component map (LINKED)
    nodes/bucket=N/            distinct entity ids (MATERIALIZED)
    nodes_audit/
    _state/corpus.json         stage reached + row counts per stage

With ``--chunks N`` the chunk-granular pipeline writes
``triples/chunk=i/bucket=N/`` with per-chunk sidecars under ``audit/``.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--transcripts", required=True)
    p.add_argument("--alias-dict", required=True)
    p.add_argument("--same-as", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument(
        "--link-strategy", default="broadcast",
        choices=["auto", "broadcast", "salted", "shuffle"],
    )
    p.add_argument(
        "--chunks", type=int, default=0,
        help="run the chunk-granular resumable pipeline with N chunks "
        "(0 = single-unit staged pipeline)",
    )
    args = p.parse_args()

    # spark-submit provides master/conf; only adjust session-level SQL conf
    spark = SparkSession.builder.appName("kg_pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.sparkContext.setLogLevel("WARN")

    from wikidata_pq_spark.pipeline import ChunkedKGPipeline, KGPipeline

    tdf = spark.read.parquet(args.transcripts)
    adf = spark.read.parquet(args.alias_dict)
    sdf = spark.read.parquet(args.same_as)
    if args.chunks > 0:
        cpipe = ChunkedKGPipeline(spark, args.out, n_chunks=args.chunks)
        lineage = cpipe.run(tdf, adf, sdf)
        print(json.dumps({"status": "complete", "chunks": lineage}))
    else:
        pipe = KGPipeline(
            spark, args.out, n_buckets=args.buckets, link_strategy=args.link_strategy
        )
        metrics = pipe.run(tdf, adf, sdf)
        print(json.dumps({"status": "complete", **metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
