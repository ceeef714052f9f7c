"""Physical-plan audit: the plans we claim are the plans we get.

Two consumers share this module:

- ``tools/explain_audit.py`` -- live CLI sweep (prints ok/FAIL per
  query, exits nonzero on any failure).
- ``tests/test_plan_goldens.py`` -- pytest regression guard: each
  audited query's PLAN SIGNATURE (the ordered list of physical operator
  names, stripped of expression ids / paths / partition counts) is
  pinned to a golden file, so a Spark upgrade or code change that flips
  e.g. a BroadcastHashJoin to SortMergeJoin fails in CI, not only when
  the audit CLI is run by hand.

Checks are scale assertions, not style: pushdown reached the scan,
dimension joins broadcast, hot paths are Python-free, and nothing
anywhere degenerates to CartesianProduct / BroadcastNestedLoopJoin
except the intentional ANN brute-force cross join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

CHECKS = {
    # name: (must_contain regexes, must_not_contain regexes)
    "a1_pricing_summary": (
        # formatted mode under AQE shows the pre-final plan (no codegen
        # spans); pushdown + pruned ReadSchema are the assertions
        [r"PushedFilters: \[IsNotNull\(l_shipdate\)", r"ReadSchema:[^\n]*l_returnflag", r"HashAggregate"],
        [r"SortMergeJoin"],
    ),
    "q3_shipping_priority": (
        [r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "q5_region_revenue": (
        [r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    # j1 final form: single explode fused into a two-level aggregate
    # (the probe/lookup equi-join collapses; see contracts.q_rowid_token_join)
    "j1_rowid_token_join": ([r"\) Generate", r"HashAggregate"], [r"CartesianProduct", r"Join"]),
    "dedup_token_jaccard": ([r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"], []),
    "ann_topk_bruteforce": ([r"BroadcastNestedLoopJoin|BroadcastHashJoin"], []),
    "w1_topk_per_group": ([r"Window"], []),
    # default KG path: pure Catalyst -- NO Python in the plan at all
    "kg_triples": (
        [r"Generate", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"MapInPandas", r"BatchEvalPython"],
    ),
    # Arrow path kept contract-covered: mapInPandas + broadcast joins
    "kg_triples_arrow": ([r"MapInPandas", r"BroadcastHashJoin"], [r"CartesianProduct"]),
    # composed near-dup: banding aggregates + candidate equi-joins only
    "dedup_near_dup": (
        [r"HashAggregate", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "flatten_claims_fourbranch": (
        [r"Generate", r"Union"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # bounded BFS: frontier equi-joins only, never a cartesian
    "graph_khop": (
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # IVF: centroid assignment is a projection; candidate join is a
    # broadcast of the (tiny) probe side onto the bucketed corpus
    "ann_ivf": (
        [r"BroadcastHashJoin", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # multimodal plans: Arrow mapInPandas, no joins at all
    "mm_frame_sample": ([r"MapInPandas"], [r"Join"]),
    # correlated scalar subquery must DECORRELATE to aggregate + joins
    "q17_small_quantity": (
        [r"HashAggregate", r"Join"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # decontamination: eval n-gram set broadcast onto one corpus pass
    "x_decontaminate_ngrams": (
        [r"BroadcastHashJoin", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"MapInPandas"],
    ),
    # passage dedup: explode + digest groupBy only, no joins at all
    # (min(struct) survivor pick lowers to SortAggregate -- still a
    # partial-merge aggregate, just not hash-buffered)
    "dedup_chunk_spans": ([r"Generate", r"HashAggregate|SortAggregate"], [r"Join"]),
    # fuzzy ER: inverted-index equi-join + argmax window, no cartesian
    "kg_fuzzy_link": (
        [r"HashAggregate", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # provenance rollup on the Python-free default chain
    "kg_triple_support": (
        [r"HashAggregate", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"MapInPandas", r"BatchEvalPython"],
    ),
    # concat-and-chunk packing: ONE per-shard window, no global sort,
    # no join, no Python (a global orderBy here would serialize the
    # corpus through a single reducer at 100 TB)
    "x_pack_chunks": (
        [r"Window"],
        # "], true, 0" is a Sort node's global=true argument signature
        [r"Join", r"MapInPandas", r"BatchEvalPython", r"\], true, 0"],
    ),
    # PII redaction: map-only -- fuses into the scan, ZERO shuffles
    "x_redact_pii": (
        [r"Project", r"Scan parquet"],
        [r"Exchange", r"Join", r"MapInPandas", r"BatchEvalPython"],
    ),
    # co-mention graph: conv-keyed equi self-join + pair counts, never
    # a cartesian, all Catalyst
    "kg_comention_edges": (
        [r"HashAggregate", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"MapInPandas", r"BatchEvalPython"],
    ),
    # negative sampling: broadcast vocab-index join onto the triple
    # chain; the only Window is the BOUNDED vocabulary ranking
    "kg_negative_samples": (
        [r"BroadcastHashJoin", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"MapInPandas", r"BatchEvalPython"],
    ),
    # triangles (r6): degree agg + wedge/closing EQUI-joins only --
    # the compact-forward orientation must never degrade to a cartesian
    "graph_triangles": (
        [r"HashAggregate", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"MapInPandas", r"BatchEvalPython"],
    ),
    # multi-probe LSH (r6): probe explosion rides the BROADCAST query
    # side of the bucket equi-join; corpus is never exploded
    "ann_lsh_multiprobe": (
        [r"BroadcastHashJoin", r"Generate", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # belief time travel (r6): the as_of cutoff is a Filter BEFORE the
    # per-key Window argmax on the pure-Catalyst chain
    "kg_beliefs_asof": (
        [r"Filter", r"Window"],
        [r"CartesianProduct", r"MapInPandas", r"BatchEvalPython"],
    ),
    # prefix-filter exact Jaccard join (r7): candidate generation is
    # explode-prefixes + equi-join on the (rarest-first) prefix token
    # -- Generate + hash joins, NEVER an all-pairs product, no Python
    "dedup_prefix_jaccard": (
        [r"Generate", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"MapInPandas",
         r"BatchEvalPython"],
    ),
    # hash sampling (r7): the md5 cutoff is a row-local Filter in the
    # scan's own stage -- the WHOLE plan is exchange-free, python-free,
    # agg-free (scan -> filter -> project and nothing else), and the
    # scan reads only the 2 output columns. This is the corrected
    # contract for the r6 "pushable filter" overclaim: NOT a row-group
    # PushedFilter (no stats on a computed hash), but a guaranteed
    # single-pass map stage.
    "samp_hash": (
        [r"Filter", r"Scan parquet", r"ReadSchema: struct<doc_id:bigint,lang:string>"],
        [
            r"Exchange", r"CartesianProduct", r"MapInPandas",
            r"BatchEvalPython", r"Window", r"HashAggregate", r"Sort\b",
        ],
    ),
    # weighted sampling (r7): same exchange-free single-map-stage
    # contract as samp_hash -- the weight is a row-local expression,
    # so quality-weighted membership adds zero plan nodes beyond the
    # Filter
    "samp_weighted": (
        [r"Filter", r"Scan parquet"],
        [
            r"Exchange", r"CartesianProduct", r"MapInPandas",
            r"BatchEvalPython", r"Window", r"HashAggregate", r"Sort\b",
        ],
    ),
    # stratified sampling (r6): cutoff dict is a BROADCAST join, the
    # corpus side never shuffles, scan reads only the 3 output columns
    "samp_stratified": (
        [r"BroadcastHashJoin", r"ReadSchema: struct<doc_id:bigint,lang:string,source:string>"],
        [r"SortMergeJoin", r"CartesianProduct", r"MapInPandas", r"BatchEvalPython"],
    ),
    # reservoir prefilter (r6): count aggregate + equi-joins + the
    # survivor-only windows; pure Catalyst, no cartesian
    "samp_reservoir": (
        [r"HashAggregate", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"MapInPandas", r"BatchEvalPython"],
    ),
    # Misra-Gries (r6): ONE MapInPandas over the keys; the merge is a
    # plain aggregate over the bounded partials plus a whole-frame
    # window over the <= capacity+1 merged rows (never a second pass
    # over the corpus, never row-at-a-time Python)
    "sk_heavy_hitters": (
        [r"MapInPandas", r"HashAggregate"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ),
    # HLL + exact distinct in one grouped aggregate; pure Catalyst
    "sk_approx_distinct": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"MapInPandas", r"BatchEvalPython"],
    ),
    # GK quantiles + rank verify: the tiny quantile frame is the
    # BROADCAST side of the rank join; no sort, no Python
    "sk_approx_quantiles": (
        [r"HashAggregate", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"SortMergeJoin", r"MapInPandas", r"BatchEvalPython"],
    ),
    # LPA (r6): per-round = one equi-join + (node,label) count + argmax
    # aggregate -- never a window over whole partitions, no cartesian
    "graph_lpa": (
        [r"HashAggregate", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window", r"MapInPandas", r"BatchEvalPython"],
    ),
}


def _graph_khop_raw(spark, sf):
    """k_hop truncates lineage per hop (localCheckpoint), which hides
    the per-hop join shape behind checkpoint scans; audit the
    untruncated plan."""
    import pyspark.sql.functions as F

    from .. import contracts
    from ..operators import graph

    c = contracts.load(spark, sf, "customer")
    edges = c.filter(F.col("c_custkey") % 10 != 9).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("src_id"),
        F.concat(F.lit("Q"), F.col("c_custkey") + 1).alias("dst_id"),
    )
    seeds = c.filter(F.col("c_custkey") % 100 == 0).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("node_id")
    )
    return graph.k_hop(edges, seeds, k=2, truncate_lineage=False)


def _comention_raw(spark, sf):
    """comention_edges truncates the shared distinct-entity frame's
    lineage (it feeds both self-join legs); audit the untruncated plan
    so the extraction + self-join shape stays visible."""
    from .. import contracts
    from ..operators import extract, graph

    tr, _, _ = contracts._kg_frames(contracts._sf_name(sf))
    mentions = extract.extract_mentions(spark.createDataFrame(tr))
    return graph.comention_edges(mentions, min_count=2, truncate_lineage=False)


def _flatten_claims_raw(spark, sf):
    """The contract query memoizes the flattened frame behind a
    localCheckpoint (its audited plan would be a bare RDD scan); audit
    the underlying four-branch flatten plan instead -- that is the
    plan shape the check is about."""
    from .. import contracts
    from ..operators import flatten

    er = contracts._entity_rows(sf)
    return flatten.flatten_claims(spark.createDataFrame(er))


def _triangles_raw(spark, sf):
    """triangles truncates lineage on the shared und/o frames (each
    feeds 2-3 join legs); audit the untruncated plan so the degree
    aggregate + wedge/closing equi-join shape stays visible."""
    import pyspark.sql.functions as F

    from .. import contracts
    from ..operators import graph

    c = contracts.load(spark, sf, "customer")
    chain = c.filter(F.col("c_custkey") % 10 != 9).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("src_id"),
        F.concat(F.lit("Q"), F.col("c_custkey") + 1).alias("dst_id"),
    )
    skip = c.filter(F.col("c_custkey") % 10 < 8).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("src_id"),
        F.concat(F.lit("Q"), F.col("c_custkey") + 2).alias("dst_id"),
    )
    return graph.triangles(chain.union(skip), truncate_lineage=False)


def _dedup_prefix_raw(spark, sf):
    """prefix_filter_jaccard_pairs truncates lineage on the shared
    token frame and the exploded prefix (three consumers); audit the
    untruncated plan so the tokenize -> freq -> sort -> explode ->
    join shape stays visible."""
    from .. import contracts
    from ..operators import dedup

    docs = contracts.load(spark, sf, "documents")
    return dedup.prefix_filter_jaccard_pairs(
        docs, threshold=0.8, truncate_lineage=False
    )


def _samp_hash_raw(spark, sf):
    """Raw hash_sample over the documents scan: the plan must be a
    single exchange-free map stage (scan -> filter -> project)."""
    from .. import contracts
    from ..operators import sampling

    docs = contracts.load(spark, sf, "documents")
    return sampling.hash_sample(docs, 0.25, key_col="doc_id").select(
        "doc_id", "lang"
    )


def _samp_weighted_raw(spark, sf):
    """Raw weighted_hash_sample over the documents scan: like
    samp_hash, one exchange-free map stage."""
    import pyspark.sql.functions as F

    from .. import contracts
    from ..operators import sampling

    docs = contracts.load(spark, sf, "documents").withColumn(
        "text_len", F.length("text")
    )
    return sampling.weighted_hash_sample(
        docs, 0.002, weight_col="text_len", key_col="doc_id"
    ).select("doc_id", "lang")


def _samp_reservoir_raw(spark, sf):
    """reservoir_per_group truncates lineage on the survivor frame
    (two consumers); audit the untruncated prefilter plan so the
    count-aggregate + cutoff-filter + window shape stays visible."""
    from .. import contracts
    from ..operators import sampling

    docs = contracts.load(spark, sf, "documents")
    return sampling.reservoir_per_group(
        docs,
        "lang",
        k=25,
        key_col="doc_id",
        strategy="prefilter",
        truncate_lineage=False,
    ).select("doc_id", "lang")


def _sk_heavy_hitters_raw(spark, sf):
    """Audit the full sketch + merge plan (single-job since r8: the
    merge has one consumer, so nothing hides behind a checkpoint)."""
    import pyspark.sql.functions as F

    from .. import contracts
    from ..functions import text as TX
    from ..operators import sketches

    docs = contracts.load(spark, sf, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("key")).where(
        F.col("key") != ""
    )
    return sketches.heavy_hitters(toks, "key", capacity=256, min_share=0.005)


def _graph_lpa_raw(spark, sf):
    """label_propagation truncates lineage per round; audit TWO
    untruncated rounds over the chain-edge graph (the per-round
    join/aggregate shape repeats identically, so two rounds pin it
    without a 10-deep golden)."""
    import pyspark.sql.functions as F

    from .. import contracts
    from ..operators import graph

    c = contracts.load(spark, sf, "customer")
    edges = c.filter(F.col("c_custkey") % 10 != 9).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("src_id"),
        F.concat(F.lit("Q"), F.col("c_custkey") + 1).alias("dst_id"),
    )
    # early_exit=False: the audit pins the PER-ROUND plan shape; the
    # convergence checks would otherwise run jobs at build time and
    # could return before round `iters` (r8)
    return graph.label_propagation(
        edges, iters=2, truncate_lineage=False, early_exit=False
    )


BUILDERS = {
    "flatten_claims_fourbranch": _flatten_claims_raw,
    "graph_khop": _graph_khop_raw,
    "kg_comention_edges": _comention_raw,
    "graph_triangles": _triangles_raw,
    "dedup_prefix_jaccard": _dedup_prefix_raw,
    "samp_hash": _samp_hash_raw,
    "samp_weighted": _samp_weighted_raw,
    "samp_reservoir": _samp_reservoir_raw,
    "sk_heavy_hitters": _sk_heavy_hitters_raw,
    "graph_lpa": _graph_lpa_raw,
}


def build(spark: SparkSession, name: str, sf: str) -> DataFrame:
    """The audited DataFrame for a check name (raw builder where the
    contract query hides its plan behind a checkpoint).

    Starts from an empty block cache: a query built EARLIER in the same
    session may have persisted a shared frame (e.g. near_dup's token
    frame), and the CacheManager would splice InMemoryTableScan nodes
    into any later plan containing that subtree -- making the audited
    shape depend on build ORDER rather than on the query (r8). Audits
    pin the cold shape; caching is value-neutral."""
    from .. import contracts

    spark.catalog.clearCache()
    if name in BUILDERS:
        return BUILDERS[name](spark, sf)
    fn = contracts.QUERIES.get(name) or contracts.EXTRA_QUERIES[name]
    return fn(spark, sf)


def plan_text(df: DataFrame) -> str:
    """The formatted physical plan, as a string."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# formatted-plan tree lines look like "+- BroadcastHashJoin Inner
# BuildRight (17)" / ":- Filter (7)" / "Scan parquet  (1)"; the node
# name is everything before the trailing "(id)". The body class is
# deliberately wide ([^\n]) so nodes with qualified names -- "Scan
# parquet spark_catalog.default.t", "ReusedExchange [id=#24]" -- still
# register in the signature instead of silently vanishing from the
# golden; detail-section attribute lines ("Arguments: ...", "Input
# [2]: ...") are excluded afterwards by their "key: value" shape,
# which no tree node name has.
_NODE_RE = re.compile(r"^[\s:+\-*]*([A-Za-z][^\n]*?)\s*\(\d+\)\s*$", re.M)


def plan_signature(plan: str) -> list[str]:
    """Ordered physical-operator names, stripped of everything unstable
    (expression ids, file paths, partition counts, sizes). This is what
    the golden files pin: a join-strategy or shuffle-shape flip changes
    the signature; renamed columns or a different sf do not."""
    ops = _NODE_RE.findall(plan)
    # AQE wrapper and scan qualifiers stay (they are stable and
    # meaningful); trailing whitespace in "Scan parquet " is not.
    # "key: value" attribute lines from the detail section are not
    # operators -- drop them.
    return [op.strip() for op in ops if ": " not in op]


def audit_one(plan: str, must: list[str], must_not: list[str]) -> list[str]:
    """Regex assertions for one query; returns a list of problems."""
    problems = []
    for pat in must:
        if not re.search(pat, plan):
            problems.append(f"missing /{pat}/")
    for pat in must_not:
        if re.search(pat, plan):
            problems.append(f"forbidden /{pat}/ present")
    return problems
