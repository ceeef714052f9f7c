"""Adversarial-skew + chaos stress harness (r6, VERDICT items 3 and 7).

The r5 10x stress (tools/scale_stress.py) was uniform-ish and
spill-free, so the skew machinery (salting, AQE skew-join, the fan-out
caps) had never been exercised in anger. This harness builds the
pathologies on purpose:

- **hot_alias_link**: 2M mention rows where ONE alias carries ~50% of
  the stream (the high-degree-QID analogue), joined against a 10k-row
  dictionary with the broadcast path DISABLED -- the shuffled link a
  dictionary above ``spark.sql.autoBroadcastJoinThreshold`` takes.
  Records per-stage task-time max/median (Spark UI REST taskSummary)
  plus whether AQE's skew-join split fired in the final adaptive plan
  ("skew=true"). ``BENCH/skew_stress_r06.json`` keeps the r06 run of
  this step beside a salted join of the same input.
- **lsh_100k_family**: the 50k-doc 10x corpus plus a 100k-document
  near-dup family (997 variants of one boilerplate text). Uncapped,
  the family's LSH buckets would emit ~5e9 candidate pairs; the
  max_bucket_size gate must keep candidate generation linear and
  surface the dropped buckets in the audit frame.
- **comention_cap_boundary**: one conversation with EXACTLY the
  entity cap (kept: ~2M pairs from a single conv_id -- the skewest
  possible self-join key) and one at cap+1 (dropped + audited).
  Records the kept conv's task-time spread: this is where AQE
  skew-split earns its keep.
- **chaos_resume** (item 7): the 867k-turn ``KGPipeline(n_chunks=8)``
  run is KILLED (os._exit, no cleanup) mid-run after 3 chunks link in a
  child process, then resumed in the parent; the resumed store must
  pass VERIFIED's footer post-check and its triple set must hash-match a
  clean run's bit-for-bit (order-insensitive xxhash64 sum).

Prints one JSON line; pass an output path to also write it.

Usage:
    python tools/skew_stress.py [out.json]
    python tools/skew_stress.py --chaos-child <out_dir> <corpus_dir>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from wikidata_pq_spark.session import get_spark  # noqa: E402

CHAOS_KILL_AFTER = 3  # completed chunks before the hard kill


def _rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def _stage_ids(spark):
    return {
        (s["stageId"], s["attemptId"]): s
        for s in _rest(spark, "/stages")
        if s.get("status") in ("COMPLETE", "ACTIVE")
    }


def _task_spread(spark, new_stages):
    """max/median task duration (ms) of the heaviest new stage, by
    total executor run time -- the skew signal the brief asks for."""
    if not new_stages:
        return {}
    heavy = max(new_stages.values(), key=lambda s: s.get("executorRunTime", 0))
    sid, att = heavy["stageId"], heavy["attemptId"]
    try:
        q = _rest(
            spark,
            f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0",
        )
        dur = q.get("duration", [None, None])
        return {
            "heavy_stage_id": sid,
            "n_tasks": heavy.get("numCompleteTasks"),
            "task_ms_median": dur[0],
            "task_ms_max": dur[1],
        }
    except Exception as e:  # REST shape drift: record, don't die
        return {"heavy_stage_id": sid, "task_summary_error": str(e)}


def _aqe_skew_evidence(spark, sql_ids_before: set) -> dict:
    """Did AQE's skew-join split actually fire? The EXECUTED plan lives
    in the SQL status store, not in df.explain (a count() action runs
    its own QueryExecution, so the DataFrame's own plan never
    finalizes). Scan the executions this step created for
    AQEShuffleRead nodes: 'number of skewed partitions' metrics are the
    split firing; the partition-size min/med/max line of the largest
    read is the skew magnitude evidence either way."""
    out = {"aqe_skew_split": False, "skewed_partitions": 0}
    biggest = 0.0
    try:
        # the SQL status listener is ASYNC: right after an action
        # returns, the execution's node metrics may not have landed in
        # the status store yet -- poll until the new executions report
        # COMPLETED (bounded; evidence beats a race)
        for _ in range(40):
            sqls = [
                q
                for q in _rest(
                    spark, "/sql?details=true&planDescription=true&length=1000"
                )
                if q["id"] not in sql_ids_before
            ]
            if sqls and all(q.get("status") == "COMPLETED" for q in sqls):
                break
            time.sleep(0.5)
        for q in sqls:
            for node in q.get("nodes", []):
                if "AQEShuffleRead" not in node.get("nodeName", ""):
                    continue
                for m in node.get("metrics", []):
                    name, val = m.get("name", ""), m.get("value", "")
                    if name == "number of skewed partitions" and val:
                        out["aqe_skew_split"] = True
                        out["skewed_partitions"] += int(str(val).split()[0])
                    if name == "number of skewed partition splits" and val:
                        out["skew_splits"] = int(str(val).split()[0])
                    if name == "partition data size" and "total" in val:
                        tot = val.split("\n")[-1].split(" ")[0:2]
                        try:
                            unit = {
                                "B": 1e-6, "KiB": 1e-3, "MiB": 1.0,
                                "GiB": 1024.0, "TiB": 1024.0**2,
                                "PiB": 1024.0**3,
                            }
                            u = tot[1].strip(",)")
                            if u not in unit:
                                # unknown unit: record loudly, never 0
                                out.setdefault("unparsed_sizes", []).append(
                                    val.split("\n")[-1]
                                )
                                continue
                            mb = float(tot[0]) * unit[u]
                            if mb > biggest:
                                biggest = mb
                                out["largest_shuffle_read"] = val.split("\n")[-1]
                        except (ValueError, IndexError):
                            pass
    except Exception as e:
        out["sql_rest_error"] = str(e)
    return out


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--chaos-child":
        _chaos_child(sys.argv[2], sys.argv[3])
        return

    spark = get_spark(
        app_name="skew_stress",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    results = {}

    def step(name, fn):
        before = _stage_ids(spark)
        t0 = time.time()
        out = fn()
        wall = round(time.time() - t0, 1)
        new = {k: v for k, v in _stage_ids(spark).items() if k not in before}
        rec = {"wall_sec": wall, **out, **_task_spread(spark, new)}
        results[name] = rec
        print(f"-- {name}: {rec}", file=sys.stderr)
        spark.catalog.clearCache()

    # ---- 1. hot-alias entity linking -------------------------------
    from wikidata_pq_spark.operators import linking

    n_mentions, n_aliases = 2_000_000, 10_000
    mentions = (
        spark.range(n_mentions)
        .select(
            F.concat(F.lit("c"), (F.col("id") % 50_000)).alias("conv_id"),
            (F.col("id") % 40).cast("int").alias("turn_idx"),
            F.lit("works_at").alias("pred"),
            # 50% of the stream mentions THE hot alias
            F.when(F.col("id") % 2 == 0, F.lit("hot corp"))
            .otherwise(F.concat(F.lit("alias"), F.col("id") % n_aliases))
            .alias("subj_mention"),
            F.concat(F.lit("alias"), (F.col("id") * 7) % n_aliases).alias(
                "obj_mention"
            ),
            F.lit("entity").alias("obj_kind"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        .localCheckpoint()  # eager: the input is fixed before the timed join
    )
    alias_dict = (
        spark.range(n_aliases)
        .select(
            F.concat(F.lit("alias"), F.col("id")).alias("alias"),
            F.concat(F.lit("Q"), F.col("id")).alias("entity_id"),
        )
        .union(spark.sql("SELECT 'hot corp' AS alias, 'Q_HOT' AS entity_id"))
        .localCheckpoint()
    )

    def run_link():
        # a 10k-row dictionary auto-broadcasts, which would hide the
        # skew this step exists to exercise (the shuffled link is FOR
        # dictionaries too big to broadcast) -- force the shuffle join,
        # and scale AQE's skew threshold down to sandbox data sizes
        # (the 256MB default is tuned for real clusters; the hot
        # partition here is ~40MB and must still count as skewed)
        conf = spark.conf
        saved = {
            k: conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            )
        }
        sql_ids_before = {q["id"] for q in _rest(spark, "/sql?length=1000")}
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        try:
            df = linking.link_mentions(mentions, alias_dict)
            n = df.count()
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        return {"rows": n, **_aqe_skew_evidence(spark, sql_ids_before)}

    step("link_shuffle_plain", run_link)

    # ---- 2. 100k-doc near-dup family through the LSH bucket cap ----
    from wikidata_pq_spark.operators import dedup

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reps = spark.range(10).select(F.col("id").cast("int").alias("rep"))
    docs10 = docs.crossJoin(reps).select(
        (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("rep")))
        .alias("text"),
    )
    family = spark.range(100_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit(
                "breaking update this exact viral boilerplate paragraph is "
                "reposted verbatim across the whole crawl every single day "
                "with only a tracking token changed at the end token "
            ),
            (F.col("id") % 997).cast("string"),
        ).alias("text"),
    )
    corpus = docs10.unionByName(family)

    def run_lsh_capped():
        pairs, audit = dedup.minhash_lsh_candidates(
            corpus, max_bucket_size=10_000, return_audit=True
        )
        n_pairs = pairs.count()
        audit_pd = audit.toPandas()
        return {
            "rows": n_pairs,
            "buckets_dropped": len(audit_pd),
            "max_bucket_members": int(audit_pd["n_members"].max())
            if len(audit_pd)
            else 0,
            # what the cap saved: sum over dropped buckets of n^2/2
            "pairs_avoided_est": int(
                (audit_pd["n_members"] ** 2 // 2).sum()
            )
            if len(audit_pd)
            else 0,
        }

    step("lsh_100k_family_capped", run_lsh_capped)

    # ---- 3. co-mention fan-out at the cap boundary -----------------
    from wikidata_pq_spark.operators import graph

    cap = 2000
    normal = spark.range(5000).select(
        F.concat(F.lit("n"), F.col("id") % 500).alias("conv_id"),
        F.concat(F.lit("E"), F.col("id") % 10).alias("subj_mention"),
        F.concat(F.lit("E"), (F.col("id") * 3) % 10).alias("obj_mention"),
    )
    boundary = spark.range(cap).select(
        F.lit("boundary").alias("conv_id"),
        F.concat(F.lit("B"), F.col("id")).alias("subj_mention"),
        F.concat(F.lit("B"), (F.col("id") + 1) % cap).alias("obj_mention"),
    )
    over = spark.range(cap + 1).select(
        F.lit("over").alias("conv_id"),
        F.concat(F.lit("O"), F.col("id")).alias("subj_mention"),
        F.concat(F.lit("O"), (F.col("id") + 1) % (cap + 1)).alias("obj_mention"),
    )
    come_in = normal.unionByName(boundary).unionByName(over).localCheckpoint()

    def run_comention():
        edges, audit = graph.comention_edges(
            come_in, max_entities_per_conv=cap, return_audit=True
        )
        n_edges = edges.count()
        audit_rows = audit.collect()
        return {
            "rows": n_edges,
            "dropped_convs": [r["conv_id"] for r in audit_rows],
            "dropped_sizes": [r["n_entities"] for r in audit_rows],
        }

    step("comention_cap_boundary", run_comention)

    # ---- 4. chaos kill + resume of the chunked KG pipeline ---------
    import shutil
    import tempfile

    # conversation-complete files, as KGPipeline(n_chunks > 1) requires
    # (the old c20000_t50 spread conversations across files)
    corpus_dir = REPO / ".bench_data" / "c20000_t50_conv16"
    if not corpus_dir.exists():
        from wikidata_pq_spark import datagen

        tr = datagen.gen_transcripts(n_convs=20000, mean_turns=50, n_entities=2000)
        spark.createDataFrame(tr).repartition(16, "conv_id").write.mode("overwrite").parquet(
            str(corpus_dir / "transcripts")
        )
        spark.createDataFrame(datagen.gen_entities(2000)).write.mode(
            "overwrite"
        ).parquet(str(corpus_dir / "alias_dict"))
        spark.createDataFrame(datagen.gen_same_as(2000)).write.mode(
            "overwrite"
        ).parquet(str(corpus_dir / "same_as"))

    def triple_fingerprint(out_dir):
        t = spark.read.parquet(os.path.join(out_dir, "edges"))
        row = t.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: order-insensitive and overflow-proof
            # (ANSI mode makes a raw int64 sum of 600k hashes throw)
            F.sum(
                F.xxhash64(
                    F.concat_ws(
                        "\x01", "subj", "pred", "obj", "conv_id", "turn_idx"
                    )
                ).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    from wikidata_pq_spark.pipeline import KGPipeline
    from wikidata_pq_spark.plans.checkpoint import Step

    tr = spark.read.parquet(str(corpus_dir / "transcripts"))
    ad = spark.read.parquet(str(corpus_dir / "alias_dict"))
    sa = spark.read.parquet(str(corpus_dir / "same_as"))

    clean_dir = tempfile.mkdtemp(prefix="chaos_clean_")
    chaos_dir = tempfile.mkdtemp(prefix="chaos_kill_")

    def run_clean():
        pipe = KGPipeline(spark, clean_dir, n_chunks=8)
        pipe.run(tr, ad, sa)
        n, h = triple_fingerprint(clean_dir)
        return {"rows": n, "fingerprint": h}

    step("kg_clean_run", run_clean)

    def run_chaos():
        # child process hard-kills itself (os._exit -- no atexit, no
        # JVM shutdown, no commit of the next chunk's record) after
        # CHAOS_KILL_AFTER chunks
        proc = subprocess.run(
            [sys.executable, __file__, "--chaos-child", chaos_dir, str(corpus_dir)],
            capture_output=True,
            text=True,
            timeout=900,
        )
        if proc.returncode == 0:
            raise RuntimeError("chaos child exited cleanly; kill never fired")
        # resume in THIS session
        pipe = KGPipeline(spark, chaos_dir, n_chunks=8)
        linked_before = sum(
            pipe.state.get(u) >= Step.LINKED for u in pipe.units()
        )
        pipe.run(tr, ad, sa)  # raises if VERIFIED's post-check fails
        n, h = triple_fingerprint(chaos_dir)
        return {
            "rows": n,
            "fingerprint": h,
            "child_exit": proc.returncode,
            "resumed_chunks": len(pipe.units()) - linked_before,
        }

    step("kg_chaos_resume", run_chaos)
    clean_fp = results["kg_clean_run"]["fingerprint"]
    chaos_fp = results["kg_chaos_resume"]["fingerprint"]
    results["kg_chaos_resume"]["identical_to_clean"] = clean_fp == chaos_fp
    if clean_fp != chaos_fp:
        raise RuntimeError("chaos-resumed triple set differs from clean run")
    shutil.rmtree(clean_dir, ignore_errors=True)
    shutil.rmtree(chaos_dir, ignore_errors=True)

    out = {
        "metric": "skew_chaos_stress",
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "chaos_kill_after_chunks": CHAOS_KILL_AFTER,
        "steps": results,
        "total_wall_sec": round(
            sum(s["wall_sec"] for s in results.values()), 1
        ),
    }
    spark.stop()
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 1:
        Path(sys.argv[1]).write_text(line)


def _chaos_child(out_dir: str, corpus_dir: str) -> None:
    """Run the chunked pipeline and os._exit(137) the moment the Nth
    chunk unit records LINKED -- a SIGKILL-grade stop: no finally
    blocks, no JVM shutdown hooks, whatever partial files the NEXT chunk
    had started writing are left on disk for the resume to cope with."""
    spark = get_spark(
        app_name="skew_stress_chaos_child",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from wikidata_pq_spark.pipeline import KGPipeline
    from wikidata_pq_spark.plans import checkpoint as cp

    done = {"n": 0}
    orig_set = cp.StateStore.set

    def killer_set(self, unit, step, **metrics):
        orig_set(self, unit, step, **metrics)
        if unit.startswith("chunk_") and step == cp.Step.LINKED:
            done["n"] += 1
            if done["n"] >= CHAOS_KILL_AFTER:
                print(f"chaos child: killing after {done['n']} chunks", flush=True)
                os._exit(137)

    cp.StateStore.set = killer_set
    tr = spark.read.parquet(os.path.join(corpus_dir, "transcripts"))
    ad = spark.read.parquet(os.path.join(corpus_dir, "alias_dict"))
    sa = spark.read.parquet(os.path.join(corpus_dir, "same_as"))
    KGPipeline(spark, out_dir, n_chunks=8).run(tr, ad, sa)
    # reaching here means the kill never fired
    sys.exit(0)


if __name__ == "__main__":
    main()
