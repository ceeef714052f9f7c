"""spark-submit entry point for the corpus-curation pipeline.

    python tools/build_pyfiles.py          # -> dist/wikidata_pq_spark.zip
    spark-submit --master <cluster-or-local> \
        --py-files dist/wikidata_pq_spark.zip \
        jobs/curate_corpus.py \
        --documents <parquet path> --out <output dir> \
        [--quality-min 0.3] [--rep-max 0.5] [--max-len 512]

Resumable: re-submit after a failure and completed stages skip (same
state machine as the KG pipeline, one commit log per stage,
``<out>/_log/<unit>/<version>.json``).

The session takes ``session.SQL_DEFAULTS``, so it runs none of the
class path's session-extension providers, and ``pyspark.ml``'s
``vector_to_array`` and ``array_to_vector`` are unresolved in it; the
job uses neither. Pass ``get_spark``'s two driver JVM settings on the
spark-submit command line, as the ``session`` module docstring shows.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from wikidata_pq_spark.session import SQL_DEFAULTS


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--documents", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--quality-min", type=float, default=0.3)
    p.add_argument("--rep-max", type=float, default=0.5)
    p.add_argument("--max-len", type=int, default=512)
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("curate_corpus")
        .config(map=SQL_DEFAULTS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from wikidata_pq_spark.curation_pipeline import CurationPipeline

    docs = spark.read.parquet(args.documents)
    pipe = CurationPipeline(
        spark, args.out, quality_min=args.quality_min,
        rep_max=args.rep_max, max_len=args.max_len,
    )
    metrics = pipe.run(docs)
    print(json.dumps({"status": "complete", **metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
