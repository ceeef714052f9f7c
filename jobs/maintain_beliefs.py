"""spark-submit entry point for incremental current-beliefs maintenance.

    python tools/build_pyfiles.py          # -> dist/wikidata_pq_spark.zip
    spark-submit --master <cluster-or-local> \
        --py-files dist/wikidata_pq_spark.zip \
        jobs/maintain_beliefs.py \
        --triples-in <dir of triple parquet files (streamed)> \
        --out <epoch-partial store> --checkpoint <streaming checkpoint> \
        [--view-out <dir>]    # also materialize the reduced view
        [--compact]           # maintenance: fold live epoch partials
                              # into one generation (view unchanged)

Each submission drains the currently-available input files
(availableNow trigger), writing each micro-batch's argmax partial as
one ``epoch=N`` partition of the store (``epoch=N/part-*.parquet``);
the streaming checkpoint makes re-submission resume at the first
uncommitted batch, and a replayed batch is merged at most once (the
store's commit log lists each epoch once). This is the MERGE-INTO
analogue of the reference's resumable state machine (reference:
state.py:30-35) applied to a live latest-assertion-wins view.

The session takes ``session.SQL_DEFAULTS``; pass ``get_spark``'s two
driver JVM settings on the spark-submit command line, as the
``session`` module docstring shows.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from wikidata_pq_spark.session import SQL_DEFAULTS


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--triples-in", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--view-out", default=None)
    p.add_argument(
        "--compact",
        action="store_true",
        help="after draining, reduce all live epoch partials into one "
        "compacted generation, committed through the store's log (the "
        "view is unchanged, the store shrinks)",
    )
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("maintain_beliefs")
        .config(map=SQL_DEFAULTS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from wikidata_pq_spark.streaming import incremental as inc

    stream = (
        spark.readStream.schema(
            "subj string, pred string, obj string, conv_id string, "
            "turn_idx long, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(args.triples_in)
    )
    q = inc.incremental_current_beliefs(stream, args.out, args.checkpoint)
    q.awaitTermination()

    out = {"status": "complete"}
    if args.compact:
        # a store no epoch ever reached compacts as a no-op
        out["compaction"] = inc.compact_current_beliefs(spark, args.out)
    if args.view_out:
        import os

        # bootstrap poll: a healthy scheduler may run before the first
        # triple file exists -- zero batches means the partial store was
        # never created, which is an empty view, not a failure
        if os.path.isdir(args.out):
            view = inc.read_current_beliefs(spark, args.out)
        else:
            # bootstrap: no epoch partial ever landed, but the view
            # path contract must hold across the boundary -- a consumer
            # polling view_out reads an EMPTY frame with the stable
            # schema, not a missing-path error that flips to data after
            # the first epoch
            view = spark.createDataFrame(
                [],
                "subj string, pred string, obj string, "
                + ", ".join(
                    f"last_{c} {t}"
                    for c, t in zip(
                        inc.BELIEF_ORDER_COLS, ("timestamp", "string", "long")
                    )
                ),
            )
        view.write.mode("overwrite").parquet(args.view_out)
        out["view_rows"] = spark.read.parquet(args.view_out).count()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
