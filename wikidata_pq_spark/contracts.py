"""Driver-contract queries: SURVEY.md §2 operator inventory re-expressed
over the driver's TPC-H-ish testdata, each with a DuckDB oracle.

Every entry in :data:`QUERIES` is ``name -> callable(spark, sf_dir) ->
DataFrame``; :data:`ORACLE_SQL` holds the ANSI-SQL equivalent DuckDB
runs over the same parquet (omitted => driver does a rows-only check).
Column names/aliases match EXACTLY between the two sides (the driver
hashes values after sorting columns by name).

Float discipline: every float aggregate is rounded identically on both
sides; vector math folds left in double on both engines (see
functions.vectors / the list_reduce oracles), so values hash-equal.
"""

from __future__ import annotations

import hashlib
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import datagen
from . import oracle as kg_oracle
from .functions import text as TX
from .operators import canonicalize, dedup, extract, linking, multimodal, similarity, textstats
from .sources import tableio

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]



def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over ``defaultParallelism`` partitions when it
    has fewer, else return it unchanged.

    Precondition: ``df`` is a bare file scan (``load`` / ``read.parquet``
    with nothing on top), so ``.rdd`` plans from the file splits
    without running a job. A small table is one file under
    maxPartitionBytes and arrives as ONE partition, which would run the
    row-level dedup stages (the minhash folds, the simhash pandas UDF)
    on a single core. Value-neutral: those stages key per document.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------
# Golden-parquet oracle exports. The driver's value-hash gate runs at
# sf0.01; queries whose golden is computed by an independent driver-side
# implementation (the pandas oracle / golden flattener) or whose verify
# stage consumes a probabilistic candidate set export a parquet here,
# and the matching ORACLE_SQL just re-reads it (the VERDICT-sanctioned
# pattern for non-ANSI-expressible pipelines). Exports happen only at
# the gate sf so bench runs at other sfs never pay or clobber them. The
# directory is named for this checkout's package path, so two checkouts
# checking their contracts at once never overwrite each other's exports.
# --------------------------------------------------------------------------

ORACLE_EXPORT_DIR = "/tmp/spark_graft_oracle_" + hashlib.sha256(
    os.path.dirname(os.path.abspath(__file__)).encode()
).hexdigest()[:16]
_GATE_SF = "sf0.01"


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _is_gate_sf(sf_dir: str) -> bool:
    return _sf_name(sf_dir) == _GATE_SF


def _export_path(name: str) -> str:
    return os.path.join(ORACLE_EXPORT_DIR, f"{name}.parquet")


def _export_golden(pdf, name: str) -> None:
    os.makedirs(ORACLE_EXPORT_DIR, exist_ok=True)
    pdf.to_parquet(_export_path(name), index=False)


def _export_candidates(df: DataFrame, name: str, sf_dir: str) -> DataFrame:
    """At the gate sf: persist the candidate pairs and read them back,
    so the Spark verify stage and the DuckDB oracle consume the exact
    same candidate set. Elsewhere: pass through untouched."""
    if not _is_gate_sf(sf_dir):
        return df
    _export_golden(df.toPandas(), name)
    return df.sparkSession.read.parquet(_export_path(name))


# --------------------------------------------------------------------------
# Relational operators (SURVEY §2.2-2.8)
# --------------------------------------------------------------------------


def q_pricing_summary(spark, sf):
    """A1/A4: TPC-H Q1-shaped groupBy + multi-agg (map-side combined)."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_distinct_orders(spark, sf):
    """A2: distinct count per group."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )


def q_min_open_order(spark, sf):
    """A3: global min under a predicate (next-incomplete-chunk shape)."""
    o = load(spark, sf, "orders")
    return o.filter(F.col("o_orderstatus") != "F").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_open_date"),
        F.min("o_orderkey").alias("min_open_key"),
    )


def q_event_histogram(spark, sf):
    """A4/O4: frequency histogram with deterministic order."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


def q_partition_audit(spark, sf):
    """A5/S8: per-partition (rows, min_id, max_id) audit rows, the one
    audit-row definition the package's sinks record."""
    return tableio.audit_frame(load(spark, sf, "documents"), ["lang"], "doc_id")


def q_running_revenue(spark, sf):
    """A7/W2: ordered cumulative sum (prefetch-budget shape)."""
    o = load(spark, sf, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("day_total"))
    w = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "order_date",
        "day_total",
        F.round(F.sum("day_total").over(w), 2).alias("running_total"),
    )


def q_null_audit(spark, sf):
    """A8/J4/P10: left-join enrichment + null count."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.agg(
        F.count(F.when(F.col("n_orders").isNull(), 1)).alias("customers_without_orders"),
        F.count(F.lit(1)).alias("total_customers"),
    )


def q_topk_per_group(spark, sf):
    """W1/O4: top-3 orders per customer (row_number window)."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


def q_lag_delta(spark, sf):
    """W (lag): per-user event value deltas."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


def q_rowid_token_join(spark, sf):
    """J1 flagship shape, final form of the cartesian->join rewrite.

    Semantics: tokens at even positions (probe, with multiplicity) match
    tokens at odd positions (lookup, distinct) on (doc_id, token); count
    matches per doc -- the reference's synthetic-row-id + language join
    rewrite (reference: claims.py:48-89).

    Plan: the naive form explodes the corpus TWICE (once per join leg;
    r03's slowest bench cell). Because both legs key on (doc_id, token),
    the join fuses into one aggregate over a single explode: per-key
    n_even (probe multiplicity) and has_odd (lookup membership), then
    sum(n_even) where has_odd -- one scan, one shuffle, no join recompute
    and nothing persisted. Measured at sf0.1/local[32]: 2.7s vs 2.9s
    (two-scan join) vs 5.2s (persist-once join, cache write dominates);
    at 100 TB the gap is a full corpus scan + explode. The literal
    row-indexed equi-join stays live in the flatten pipeline
    (flatten.py:237-257, driver-green via flatten_claims_fourbranch);
    the DuckDB oracle still computes this cell AS the probe/lookup join.
    """
    d = load(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "token")
    )
    # group on xxhash64(token) instead of the token string (r8, guide
    # "shuffle keys and metadata instead of payloads"): the aggregate
    # only needs token IDENTITY, so an 8-byte key halves the exchange
    # row and replaces string hashing/equality in both HashAggregates
    # (measured 2.2s -> 1.85s at sf1.0). 64-bit collisions WITHIN one
    # document's token set are the only way results could shift --
    # negligible at any corpus vocabulary (the token_jaccard_pairs
    # discipline); the DuckDB oracle still joins on token strings.
    grp = toks.groupBy("doc_id", F.xxhash64("token").alias("tk")).agg(
        F.sum(F.when(F.col("pos") % 2 == 0, 1).otherwise(0)).alias("n_even"),
        F.max(F.col("pos") % 2 == 1).alias("has_odd"),
    )
    return (
        grp.filter(F.col("has_odd") & (F.col("n_even") > 0))
        .groupBy("doc_id")
        .agg(F.sum("n_even").cast("long").alias("n_matches"))
    )


def q_presence_flags(spark, sf):
    """J5/P9/P10: per-key presence flags across branches, fold with AND."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    f_open = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("ck_open"))
        .distinct()
        .withColumn("has_open", F.lit(True))
    )
    f_done = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("ck_done"))
        .distinct()
        .withColumn("has_done", F.lit(True))
    )
    j = (
        c.join(f_open, c.c_custkey == f_open.ck_open, "left")
        .join(f_done, c.c_custkey == f_done.ck_done, "left")
    )
    return j.select(
        "c_custkey",
        F.coalesce("has_open", F.lit(False)).alias("has_open"),
        F.coalesce("has_done", F.lit(False)).alias("has_done"),
        (F.coalesce("has_open", F.lit(False)) & F.coalesce("has_done", F.lit(False))).alias(
            "has_both"
        ),
    )


def q_anti_join(spark, sf):
    """left_anti: checkpoint-resume exclusion shape."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_semi_join(spark, sf):
    """left_semi: EXISTS shape."""
    p = load(spark, sf, "part")
    li = load(spark, sf, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey")


def q_diagonal_concat(spark, sf):
    """U1: unionByName with missing columns (diagonal concat,
    reference: claims.py:206-213)."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    a = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    b = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return a.unionByName(b, allowMissingColumns=True)


def q_regex_extract(spark, sf):
    """P6/F2/F1/F5: rlike filter + regexp capture + path funcs."""
    d = load(spark, sf, "documents")
    path = F.concat(F.lit("data/"), F.col("source"), F.lit("/file.parquet"))
    return (
        d.filter(F.col("source").rlike(r"^src1\d$"))
        .select(
            "doc_id",
            F.regexp_extract("source", r"src(\d+)", 1).cast("long").alias("src_num"),
            F.element_at(F.split(path, "/"), -1).alias("fname"),
        )
    )


def q_json_map_explode(spark, sf):
    """N6/N8: typed JSON decode + map->rows explosion."""
    ev = load(spark, sf, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id", F.explode(F.map_entries(m)).alias("kv")
    ).select("event_id", F.col("kv.key").alias("key"), F.col("kv.value").alias("value"))


def q_slice(spark, sf):
    """O1/O2/O3: multi-key sort + offset/limit slice."""
    o = load(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .offset(100)
        .limit(50)
    )


def q_shipping_priority(spark, sf):
    """3-way join + agg + top-k (TPC-H Q3 shape); dims broadcast.

    Join ORDER (r8, guide "pre-filter the big side"): the selective
    segment filter is applied to orders FIRST (broadcast customer dim),
    and only the pruned ~1/5 of orders meets lineitem -- projected to
    the single join key. No hard hint on the pruned-orders side: its
    size is data-dependent, so AQE's runtime SMJ->BHJ conversion picks
    broadcast exactly when the filtered side actually fits (it does at
    every bench sf: measured 2.0s -> 1.3s at sf1.0/local[32]), and the
    join degrades to a real shuffle join at cluster scale instead of
    OOMing on a forced broadcast. Inner joins commute: rows identical."""
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    o2 = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    return (
        li.join(o2, li.l_orderkey == o2.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_region_revenue(spark, sf):
    """5-way star join with broadcast dims (TPC-H Q5 shape).

    Join ORDER (r8, same rewrite as q3): the region filter flows
    dimension -> customer -> orders BEFORE the fact join, so lineitem
    meets only the ~1/5 of orders that can contribute, projected to
    (join key, group key). The pruned-orders side carries no hard hint
    -- AQE's runtime conversion broadcasts it when it fits and falls
    back to a shuffle join at scale. Inner joins commute: rows
    identical (A/B-verified at sf1.0; 2.3s -> 1.7s)."""
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf, "nation")
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    c2 = c.join(F.broadcast(nr), c.c_nationkey == nr.n_nationkey).select(
        "c_custkey", "n_name"
    )
    o2 = o.join(F.broadcast(c2), o.o_custkey == c2.c_custkey).select(
        "o_orderkey", "n_name"
    )
    return (
        li.join(o2, li.l_orderkey == o2.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# Training-data-pipeline operators (dedup / similarity / text analysis)
# --------------------------------------------------------------------------


def q17_small_quantity(spark, sf):
    """TPC-H Q17 shape: CORRELATED scalar subquery (per-part average
    threshold). Authored as SQL so Catalyst's subquery DECORRELATION
    does the rewrite (subquery -> aggregate + join) -- the optimizer
    feature the reference never needed but a SQL surface must have."""
    load(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
    load(spark, sf, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM v_lineitem, v_part
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#1'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM v_lineitem l2
              WHERE l2.l_partkey = p_partkey)
        """
    )


def q_salted_join(spark, sf):
    """Salted equi-join correctness in the gate: the bounded-replication
    hot-key join must return EXACTLY the rows of the plain inner join
    (oracle = plain SQL join) -- the skew strategy is a physical rewrite,
    never a semantic one."""
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    out = linking.salted_equi_join(o, c, key="o_custkey", n_salt=8)
    return out.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_orders"))


def q_sql_api_revenue(spark, sf):
    """The SQL entry surface: same Catalyst plans as the DataFrame API
    (SURVEY §3 lifecycle note); monthly revenue by priority via
    spark.sql over temp views."""
    load(spark, sf, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
               o_orderpriority AS priority,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n
        FROM v_orders
        GROUP BY 1, 2
        """
    )


def q_rollup_revenue(spark, sf):
    """Rollup subtotals (absent in the reference, Spark-native --
    SURVEY §2.4 'built-in if needed' row exercised)."""
    o = load(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def q_cube_revenue(spark, sf):
    """Cube subtotals over (status, priority) -- the grouping-sets
    family alongside rollup (absent in the reference, Spark-native)."""
    o = load(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def q_asof_last_click(spark, sf):
    """As-of backward join (custom operator; Spark lacks a native one):
    for each purchase, the most recent prior click by the same user."""
    from .operators import temporal

    return temporal.asof_last_event(
        load(spark, sf, "events"), match_type="click", target_type="purchase"
    )


def q_range_join_pairs(spark, sf):
    """Bucketized range join: same-user event pairs within 60s."""
    from .operators import temporal

    return temporal.range_join_pairs(load(spark, sf, "events"), within_sec=60)


def q_sessionize(spark, sf):
    """Sessionization: 30-min-gap session index per user."""
    from .operators import temporal

    return temporal.sessionize(load(spark, sf, "events"), gap_sec=1800)


def q_list_len_predicate(spark, sf):
    """P7: list-length predicate (unit-labels split analogue,
    reference: claims.py:99)."""
    d = load(spark, sf, "documents")
    toks = TX.distinct_tokens(F.col("text"))
    return d.select("doc_id", F.size(toks).alias("n_distinct")).filter(
        F.col("n_distinct") > 25
    )


def q_row_local_membership(spark, sf):
    """P8: per-row membership in a row-local list (reference:
    compare_perf.py:71 is_in(col) -- array_contains(col_arr, col))."""
    d = load(spark, sf, "documents")
    head = F.slice(TX.tokens(F.col("text")), 1, 5)
    exploded = d.select(
        "doc_id", head.alias("head5"), F.explode(TX.distinct_tokens(F.col("text"))).alias("token")
    )
    return (
        exploded.filter(F.array_contains(F.col("head5"), F.col("token")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_head_tokens"))
    )


def q_math_round(spark, sf):
    """F5/F6: arithmetic + round + string concat scalar functions."""
    s = load(spark, sf, "supplier")
    return s.select(
        "s_suppkey",
        F.round(F.col("s_acctbal") / 1000.0, 3).alias("bal_k"),
        F.concat(F.lit("supplier/"), F.col("s_name")).alias("s_path"),
    )


def q_pivot_status(spark, sf):
    """Pivot-as-conditional-agg (absent in the reference; Spark/DuckDB
    both express it as FILTERed counts -- kept engine-portable)."""
    o = load(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_done"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
    )


def q_union_distinct(spark, sf):
    """U2: plain concat + distinct across two sources."""
    c = load(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = load(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    return c.union(o).distinct()


def q_dedup_exact(spark, sf):
    return dedup.exact_dup_groups(load(spark, sf, "documents"))


def q_dedup_jaccard(spark, sf):
    return dedup.token_jaccard_pairs(load(spark, sf, "documents"), threshold=0.8)


def q_dedup_minhash_lsh(spark, sf):
    """MinHash-LSH banding candidates. Oracle: the signatures (xxhash64
    minhash -- the only non-SQL step) are exported; the SQL re-derives
    the banding (signature slicing), the bucket self-join and the pair
    dedup from scratch."""
    d = spread_small_scan(load(spark, sf, "documents"))
    if _is_gate_sf(sf):
        _export_golden(dedup.minhash_signatures(d, n_hashes=32).toPandas(), "minhash_sigs")
    return dedup.minhash_lsh_candidates(d)


def q_dedup_simhash(spark, sf):
    """SimHash Hamming-chunk near-dup pairs. Oracle: the 64-bit
    fingerprints (pandas-UDF md5 bit votes) are exported; the SQL
    re-derives chunk banding, the bucket join, XOR popcount Hamming
    distance and the threshold filter."""
    d = spread_small_scan(load(spark, sf, "documents"))
    if _is_gate_sf(sf):
        _export_golden(dedup.simhash64(d).toPandas(), "simhash_sigs")
    return dedup.simhash_near_pairs(d, max_hamming=3)


def q_dedup_near_dup(spark, sf):
    """THE headline near-dup composition: MinHash-LSH candidates ->
    exact-Jaccard verify. The candidate set is exported at the gate sf
    so the DuckDB oracle verifies the identical pairs with its own
    tokenizer/intersection math -- the verify stage is deterministic
    given candidates, so this value-hash-checks even though LSH banding
    itself is probabilistic."""
    d = spread_small_scan(load(spark, sf, "documents"))
    # near_dup_pairs tokenizes the corpus ONCE (persisted token frame
    # shared by the signature path and both verify legs -- r8: the
    # previous inline composition re-tokenized the text three times);
    # the gate's export-candidates round-trip rides the hook.
    return dedup.near_dup_pairs(
        d,
        threshold=0.8,
        candidates_transform=lambda c: _export_candidates(
            c, "dedup_near_dup_cands", sf
        ),
    )


def q_embedding_near_pairs(spark, sf):
    """Embedding near-dup composition: hyperplane-LSH bucket candidates
    -> exact-cosine verify, same export pattern as dedup_near_dup.
    (Synthetic embeddings top out near cosine 0.47; 0.35 marks the
    high-similarity tail.)"""
    e = load(spark, sf, "embeddings")
    cands = similarity.lsh_candidate_pairs(e, n_planes=4)
    cands = _export_candidates(cands, "embedding_near_cands", sf)
    return similarity.verify_cosine_pairs(e, cands, threshold=0.35)


def q_dedup_embedding(spark, sf):
    # synthetic embeddings top out at cosine ~0.47; 0.35 marks the
    # high-similarity tail (real corpora would use ~0.95)
    return similarity.embedding_dup_pairs(
        load(spark, sf, "embeddings"), threshold=0.35, block_col="label"
    )


def q_dedup_ngram_jaccard(spark, sf):
    """Word-order-sensitive near-dup: exact 3-gram shingle Jaccard
    (blocked); full SQL oracle recomputes the shingling in DuckDB."""
    return dedup.ngram_jaccard_pairs(load(spark, sf, "documents"), threshold=0.5, n=3)


def q_ann_topk(spark, sf):
    return similarity.brute_force_topk(load(spark, sf, "embeddings"), n_queries=10, k=5)


def q_ann_lsh(spark, sf):
    """Hyperplane-LSH bucketed top-k. Oracle: the bucket assignment
    (the only non-SQL step -- numpy plane constants) is exported; the
    SQL re-derives candidate generation, cosine scoring and ranking
    within buckets from scratch."""
    emb = load(spark, sf, "embeddings")
    if _is_gate_sf(sf):
        planes = similarity._planes(64, 4, 42)
        buckets = emb.select(
            F.col("vec_id"),
            similarity.lsh_bucket_col(F.col("embedding"), planes).alias("bucket"),
        )
        _export_golden(buckets.toPandas(), "ann_lsh_buckets")
    return similarity.lsh_topk(emb, n_queries=10, k=5)


def q_ann_lsh_multiprobe(spark, sf):
    """Multi-probe hyperplane LSH (r6): each query also probes every
    bucket within Hamming distance 1 of its own. Oracle: only the
    bucket ASSIGNMENT is exported (numpy plane constants); the probe
    expansion itself is re-derived in SQL (xor against the literal
    1-bit mask set), as are candidate join, scoring and ranking."""
    emb = load(spark, sf, "embeddings")
    if _is_gate_sf(sf):
        planes = similarity._planes(64, 4, 42)
        buckets = emb.select(
            F.col("vec_id"),
            similarity.lsh_bucket_col(F.col("embedding"), planes).alias("bucket"),
        )
        _export_golden(buckets.toPandas(), "ann_lsh_buckets_mp")
    return similarity.lsh_topk(emb, n_queries=10, k=5, n_planes=4, n_probe_bits=1)


def q_ann_ivf(spark, sf):
    """IVF ANN (inverted-file coarse quantizer). Oracle: the k-means
    cell assignments and per-query probe lists (the non-SQL steps --
    float-iteration centroids) are exported; the SQL re-derives the
    inverted-file candidate join, cosine scoring and ranking from
    scratch. Recall vs brute force is additionally pytest-asserted."""
    import numpy as np

    emb = load(spark, sf, "embeddings")
    if _is_gate_sf(sf):
        sample = np.array(
            emb.orderBy("vec_id").limit(2048).select("embedding").toPandas()["embedding"].tolist()
        )
        cents = similarity._spherical_kmeans(sample, n_cells=16, seed=42)
        cells = emb.select(
            "vec_id",
            F.element_at(
                similarity._nearest_cells_col(F.col("embedding"), cents, 1), 1
            ).alias("cell"),
        )
        probes = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                similarity._nearest_cells_col(F.col("embedding"), cents, 2)
            ).alias("cell"),
        )
        _export_golden(cells.toPandas(), "ivf_cells")
        _export_golden(probes.toPandas(), "ivf_probes")
    return similarity.ivf_topk(emb, n_queries=10, k=5, n_cells=16, n_probe=2)


def q_text_stats(spark, sf):
    return textstats.token_stats(load(spark, sf, "documents"))


def q_lang_id(spark, sf):
    return textstats.lang_id(load(spark, sf, "documents"))


def q_quality(spark, sf):
    return textstats.quality_score(load(spark, sf, "documents"))


def q_fingerprint(spark, sf):
    return textstats.fingerprint(load(spark, sf, "documents"))


def q_media_features(spark, sf):
    """Mixed real/stub decode over binary payloads.

    Even ids carry REAL 24-bit BMPs: decode_real parses width/height/bpp
    off the BITMAPINFOHEADER with stdlib struct and reads the first
    pixel byte at the header's declared data offset. Because the BMP
    dims are pure functions of doc_id and the bottom-left blue channel
    is doc_id % 256, the oracle recomputes the parsed values AND the
    container size formula (54 + 4-byte-padded stride * height) in SQL
    without rebuilding the bytes. Odd ids keep the codec-less fake path
    (md5 checksum + hex-fold dims), also fully SQL-recomputed."""
    docs = load(spark, sf, "documents")
    # pre-filter by id parity so each branch's attach_media only
    # synthesizes ITS payloads (a post-attach media_type filter would
    # run the Python BMP generation twice over the full table)
    real = multimodal.decode_real(
        multimodal.attach_media(docs.filter(F.col("doc_id") % 2 == 0))
    ).select(
        "doc_id", "media_type", "n_bytes",
        F.lit(None).cast("string").alias("checksum"),
        "width", "height", "bpp", "first_px",
    )
    fake = multimodal.decode_features(
        multimodal.attach_media(docs.filter(F.col("doc_id") % 2 == 1))
    ).select(
        "doc_id", "media_type", "n_bytes", "checksum",
        F.col("fake_width").alias("width"),
        F.col("fake_height").alias("height"),
        F.lit(None).cast("int").alias("bpp"),
        F.lit(None).cast("int").alias("first_px"),
    )
    return real.unionByName(fake)


def q_media_resize(spark, sf):
    """Aspect-preserving resize plan over binary payloads (stub decode,
    real mapInPandas plumbing); oracle recomputes the dims + box-fit
    integer math in SQL."""
    media = multimodal.attach_fake_media(load(spark, sf, "documents"))
    return multimodal.resize_plan(media)


def q_media_frames(spark, sf):
    """Frame-sampling plan (one payload -> <= k sampled frames, the
    one-to-many batch shape); oracle re-derives frame geometry in SQL."""
    media = multimodal.attach_fake_media(load(spark, sf, "documents"))
    return multimodal.frame_sample(media, k=4, frame_bytes=32)


# --------------------------------------------------------------------------
# KG pipeline operators (the flagship; oracle where SQL-expressible)
# --------------------------------------------------------------------------

_SF_SCALE = {"sf0.001": (100, 8), "sf0.01": (400, 12), "sf0.1": (2000, 20)}


@lru_cache(maxsize=4)
def _oracle_mentions_pdf(name: str):
    """Memoized pandas-oracle mention set per sf (shared by the
    extraction, co-mention and co-mention-audit cells -- the oracle
    pipeline is driver-side and identical for all of them)."""
    tr, _, _ = _kg_frames(name)
    return kg_oracle.oracle_extract(tr)


@lru_cache(maxsize=4)
def _oracle_entity_edges_pdf(name: str):
    """Memoized pandas-oracle entity-edge set per sf (shared by the
    kg_pagerank and kg_ppr cells)."""
    tr, ents, sa = _kg_frames(name)
    return kg_oracle.oracle_entity_edges(tr, ents, sa)


@lru_cache(maxsize=4)
def _kg_frames(name: str):
    n_convs, mean_turns = _SF_SCALE.get(name, (200, 10))
    tr = datagen.gen_transcripts(n_convs=n_convs, mean_turns=mean_turns, n_entities=500)
    ents = datagen.gen_entities(500)
    sa = datagen.gen_same_as(500)
    return tr, ents, sa


def _kg_inputs(spark, sf):
    tr, ents, sa = _kg_frames(_sf_name(sf))
    return (
        spark.createDataFrame(tr),
        spark.createDataFrame(ents),
        spark.createDataFrame(sa),
    )


def q_kg_mentions(spark, sf):
    """Arrow-batched mapInPandas extraction (D4 analogue): kept on the
    pandas path explicitly so the Arrow plumbing stays contract-covered
    (the default extraction path is the pure-Catalyst extractor).
    Oracle: the single-process pandas oracle's mention set, exported as
    a golden parquet the SQL just re-reads."""
    tr, _, _ = _kg_frames(_sf_name(sf))
    if _is_gate_sf(sf):
        _export_golden(_oracle_mentions_pdf(_sf_name(sf)), "kg_extract_mentions_golden")
    return extract.extract_mentions(spark.createDataFrame(tr), method="partitions")


def _kg_linked(spark, mentions, ents, sa):
    """The distinct canonical triple set of ``mentions``: the pipeline's
    ``linking.kg_chain`` through the alias dictionary composed with the
    same-as components."""
    comps = canonicalize.connected_components(spark.createDataFrame(sa))
    return linking.kg_chain(
        mentions, canonicalize.apply_canonical(spark.createDataFrame(ents), comps)
    )


def _kg_triples_query(spark, sf, method: str, include_ts: bool = False):
    tr, ents, sa = _kg_frames(_sf_name(sf))
    if _is_gate_sf(sf) and "kg_triples_golden" not in _GOLDEN_EXPORTED:
        # five contract queries (kg_triples, kg_triples_arrow,
        # kg_current_beliefs, kg_conflicts, kg_triple_support) share
        # this golden; the pandas oracle pipeline runs once per process
        _export_golden(kg_oracle.oracle_triples(tr, ents, sa), "kg_triples_golden")
        _GOLDEN_EXPORTED.add("kg_triples_golden")
    mentions = extract.extract_mentions(spark.createDataFrame(tr), method=method)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    if include_ts:
        cols.append("ts")
    return _kg_linked(spark, mentions, ents, sa).select(*cols).distinct()


def q_kg_triples(spark, sf):
    """Full extract->link->canonicalize chain on the default (Catalyst)
    extractor. Oracle: the independent pandas pipeline's triples
    (union-find canonicalization), exported as a golden parquet."""
    return _kg_triples_query(spark, sf, method="sql")


def q_kg_triples_arrow(spark, sf):
    """Same chain on the Arrow mapInPandas extractor -- proves the two
    extraction paths are result-identical end-to-end against the same
    golden-parquet oracle."""
    return _kg_triples_query(spark, sf, method="partitions")


_SF_ENTITY_ROWS = {"sf0.001": 50, "sf0.01": 200, "sf0.1": 1000}

# process-level memos: the entity fixture is deterministic per sf, and
# three contract queries (flatten_claims_fourbranch, flatten_labels_map,
# partition_stage_audit) all consume the same rows / the same flattened
# claims frame -- generate once, flatten once per (session, sf).
_ENTITY_ROWS_CACHE: dict = {}
_FLAT_CLAIMS_CACHE: dict = {}
_GOLDEN_EXPORTED: set = set()


def _entity_rows(sf) -> "object":
    key = _sf_name(sf)
    if key not in _ENTITY_ROWS_CACHE:
        _ENTITY_ROWS_CACHE[key] = datagen.gen_entity_rows(
            _SF_ENTITY_ROWS.get(key, 50)
        )
    return _ENTITY_ROWS_CACHE[key]


def _flat_claims(spark, sf):
    """Flattened claims frame, materialized once per (session, sf) via
    localCheckpoint -- the deep from_json+four-branch plan is the
    gate's single most expensive subtree and is shared by three
    queries. The cache entry pins the session object and is validated
    by identity, so a stopped-and-recreated session (which could reuse
    the same id()) never serves a checkpoint from a dead context."""
    key = _sf_name(sf)
    cached = _FLAT_CLAIMS_CACHE.get(key)
    if cached is not None and cached[0] is spark:
        return cached[1]
    from .operators import flatten

    er = _entity_rows(sf)
    df = flatten.flatten_claims(spark.createDataFrame(er)).localCheckpoint()
    _FLAT_CLAIMS_CACHE[key] = (spark, df)
    return df


def _export_claims_golden(sf) -> None:
    """Export the independent golden flattener's parquet once per
    process (deterministic per sf -- re-running is pure waste)."""
    if _is_gate_sf(sf) and "flatten_claims_golden" not in _GOLDEN_EXPORTED:
        _export_golden(
            kg_oracle.golden_flatten_claims(_entity_rows(sf)),
            "flatten_claims_golden",
        )
        _GOLDEN_EXPORTED.add("flatten_claims_golden")


def q_flatten_claims(spark, sf):
    """N1-N8 nested ops: four-branch claims flattening over reference-
    shaped nested-JSON entity rows; scalar projection + qualifier/
    reference snak counts. Oracle: the independent python golden
    flattener (oracle.golden_flatten_claims), exported as parquet.
    Structural qualifier/reference fidelity is golden-tested in
    tests/test_flatten.py."""
    from .operators import flatten

    _export_claims_golden(sf)
    fl = _flat_claims(spark, sf)
    n_qual = F.coalesce(
        F.aggregate(
            F.map_values("qualifiers"), F.lit(0), lambda acc, v: acc + F.size(v)
        ),
        F.lit(0),
    ).alias("n_qual_snaks")
    n_ref = F.coalesce(
        F.aggregate(
            "references",
            F.lit(0),
            lambda acc, m: acc
            + F.aggregate(F.map_values(m), F.lit(0), lambda a, v: a + F.size(v)),
        ),
        F.lit(0),
    ).alias("n_ref_snaks")
    return fl.select(*[c for c, _ in flatten._OUT_COLS], n_qual, n_ref)


def q_flatten_labels(spark, sf):
    """N6+N8: map->rows normalisation (labels table). Oracle: a genuine
    SQL recomputation -- DuckDB json_keys/json_extract over the exported
    input rows (same shape as the green n8_json_map_explode)."""
    from .operators import flatten

    er = _entity_rows(sf)
    if _is_gate_sf(sf):
        _export_golden(er[["id", "labels"]], "entity_rows_labels")
    return flatten.flatten_labels(spark.createDataFrame(er), "labels")


def _chain_edges(spark, sf):
    """Same closed-form chain edges as cc_components (blocks of 10
    over customer keys) -- shared by the graph queries."""
    c = load(spark, sf, "customer")
    return c.filter(F.col("c_custkey") % 10 != 9).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("src_id"),
        F.concat(F.lit("Q"), F.col("c_custkey") + 1).alias("dst_id"),
    )


def q_graph_degrees(spark, sf):
    """KG degree query: out/in/total degree per node over the chain
    edge set."""
    from .operators import graph

    return graph.degrees(_chain_edges(spark, sf))


def q_graph_triangles(spark, sf):
    """Exact triangle enumeration (degree-ordered compact-forward)
    over the chain edges plus skip-one edges -- every in-decade
    (i, i+1, i+2) closes a triangle. Oracle: three-way self-join over
    the same canonical undirected edge set in SQL."""
    from .operators import graph

    c = load(spark, sf, "customer")
    skip = c.filter(F.col("c_custkey") % 10 < 8).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("src_id"),
        F.concat(F.lit("Q"), F.col("c_custkey") + 2).alias("dst_id"),
    )
    return graph.triangles(_chain_edges(spark, sf).union(skip))


def q_graph_khop(spark, sf):
    """KG 2-hop reachability from every block-head seed (bounded BFS
    expansion as k equi-joins); oracle re-derives both hops in SQL."""
    from .operators import graph

    c = load(spark, sf, "customer")
    seeds = c.filter(F.col("c_custkey") % 100 == 0).select(
        F.concat(F.lit("Q"), F.col("c_custkey")).alias("node_id")
    )
    return graph.k_hop(_chain_edges(spark, sf), seeds, k=2)


def q_partition_stage_audit(spark, sf):
    """The reference's PARTITION stage as a value check: flatten the
    claims table, sink it Hive-partitioned by language with its
    per-language audit rows committed to the (claims x contract) unit's
    log, post-check the sink against them (``pipeline.partition_table``),
    and return the recorded rows stamped ``source='contract'``. Oracle:
    the per-language (rows, min_id, max_id) recomputed over the
    INDEPENDENT golden flattener's parquet.

    Claims-only here by design: claims is the deepest flatten (all
    four branches) so it carries the semantic weight; the full
    five-table partition + post-check stays in
    tests/test_flatten.py::test_partition_entity_tables. The sink dir
    is one fixed per-sf dir, overwritten on re-run -- no
    per-invocation dir leak."""
    from .pipeline import partition_table
    from .plans.checkpoint import StateStore

    _export_claims_golden(sf)
    out = os.path.join(
        ORACLE_EXPORT_DIR, f"partition_stage_{_sf_name(sf)}"
    )
    claims = _flat_claims(spark, sf)
    if not partition_table(claims, out, "claims", "contract"):
        raise RuntimeError("partition-stage post-check failed: claims")
    recorded = StateStore(os.path.join(out, "_log")).metrics(
        os.path.join("claims", "contract")
    )["audit"]
    # typed like the audit frame the rows were collected from
    audit = spark.createDataFrame(
        recorded, tableio.audit_frame(claims, ["language"], "id").schema
    )
    return audit.select(F.lit("contract").alias("source"), "*")


def q_connected_components(spark, sf):
    """Iterative CC with a closed-form SQL oracle: chain edges over
    customer keys form blocks of 10; canonical = block head."""
    return canonicalize.connected_components(_chain_edges(spark, sf))


def q_chunk_dup_spans(spark, sf):
    """Passage-level exact dedup: non-overlapping 16-token chunks,
    duplicated chunk texts with occurrence counts and the survivor
    (doc_id, chunk_idx); oracle re-derives chunking + grouping in SQL."""
    from .operators import dedup

    return dedup.chunk_dup_spans(
        spread_small_scan(load(spark, sf, "documents")), width=16
    )


def q_decontaminate_ngrams(spark, sf):
    """Benchmark decontamination: eval set = doc_id % 97 == 0 (stand-in
    benchmark table), corpus = the rest; (doc_id, n_hits) for corpus
    docs sharing any 3-gram with an eval doc. Eval n-gram set is tiny
    -> broadcast join, one corpus pass."""
    from .operators import dedup

    docs = load(spark, sf, "documents")
    return dedup.ngram_contamination(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=3,
    )


def q_repetition_ratio(spark, sf):
    """Within-doc duplicate-3-gram fraction (Gopher-style repetition
    quality gate); pure Catalyst."""
    from .operators import textstats

    return textstats.repetition_stats(load(spark, sf, "documents"), n=3)


def q_curate_corpus(spark, sf):
    """The composed curation flow: exact-dedup survivors + quality
    gate + repetition gate + deterministic content-hash split labels,
    in ONE declarative plan. Oracle recomposes every stage in SQL."""
    from .operators import curation

    return curation.curate_corpus(load(spark, sf, "documents"), quality_min=0.45)


def q_redact_pii(spark, sf):
    """PII scrubbing over documents. The synthetic corpus carries no
    PII, so the query first SPIKES deterministic emails / phone numbers
    / IPs into the text by doc_id residue -- the redaction then has
    real work to do, and the oracle replays both the spike and the
    (dual-engine-safe) regex chain in SQL."""
    from .operators import curation

    d = load(spark, sf, "documents")
    spiked = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(F.lit(" call 555-123-4567 or ping 10.0."),
                         (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return curation.redact_pii(spiked)


def q_comention_edges(spark, sf):
    """Entity co-mention graph from the Catalyst extraction chain.
    Oracle: the independent pandas oracle's mention set (exported at
    the gate sf by THIS query, so the artifact is always fresh) run
    through the same distinct -> self-join -> pair-count recomposition
    in SQL."""
    from .operators import graph

    tr, _, _ = _kg_frames(_sf_name(sf))
    if _is_gate_sf(sf):
        _export_golden(_oracle_mentions_pdf(_sf_name(sf)), "comention_mentions_golden")
    mentions = extract.extract_mentions(spark.createDataFrame(tr))
    return graph.comention_edges(mentions, min_count=2)


def q_comention_audit(spark, sf):
    """The co-mention fan-out gate's drop-audit frame (r5): the
    conversations whose distinct-entity count exceeds the cap, with
    their counts -- the never-silent half of the
    ``max_entities_per_conv`` gate. Oracle: the same windowed count
    recomputed in SQL over the exported mention golden."""
    from .operators import graph

    tr, _, _ = _kg_frames(_sf_name(sf))
    if _is_gate_sf(sf):
        _export_golden(_oracle_mentions_pdf(_sf_name(sf)), "comention_mentions_golden")
    mentions = extract.extract_mentions(spark.createDataFrame(tr))
    _, audit = graph.comention_edges(
        mentions, max_entities_per_conv=20, return_audit=True
    )
    return audit


def q_negative_samples(spark, sf):
    """Deterministic negative sampling over the full Catalyst triple
    chain. Oracle: the pandas oracle's triples + entity vocabulary
    (both exported fresh at the gate sf) with the md5-derived draw and
    ranked-vocabulary join recomputed in SQL."""
    from .operators import graph

    tr, ents, sa = _kg_frames(_sf_name(sf))
    if _is_gate_sf(sf):
        _export_golden(kg_oracle.oracle_triples(tr, ents, sa), "negsamp_triples_golden")
        _export_golden(ents[["entity_id"]].drop_duplicates(), "negsamp_vocab")
    mentions = extract.extract_mentions(spark.createDataFrame(tr))
    triples = _kg_linked(spark, mentions, ents, sa).select("subj", "pred", "obj").distinct()
    return graph.negative_samples(triples, spark.createDataFrame(ents))


def q_current_beliefs(spark, sf):
    """Latest-assertion-wins KG view over the full Catalyst triple
    chain (belief revision / MERGE-INTO read shape), reusing the
    kg_triples chain + golden. Triples carry the asserting turn's
    ``ts``, so recency is WALL-CLOCK (the default order_cols), with
    (conv_id, turn_idx) as the deterministic same-instant tiebreak.
    Oracle: the same window argmax in SQL over the pandas oracle's
    triples (which thread ts identically)."""
    from .operators import graph

    return graph.current_beliefs(
        _kg_triples_query(spark, sf, method="sql", include_ts=True)
    )


def q_beliefs_asof(spark, sf):
    """Time-travel current-beliefs (r6): the belief state AS OF a
    mid-corpus instant -- later assertions invisible, keys first
    asserted after the cutoff absent. Oracle: same window argmax in
    SQL over the golden triples with the identical inclusive ts
    predicate."""
    from .operators import graph

    return graph.current_beliefs(
        _kg_triples_query(spark, sf, method="sql", include_ts=True),
        as_of="2026-01-03 00:00:00",
    )


def q_samp_stratified(spark, sf):
    """Deterministic stratified sampling (r6): per-language fractions
    over documents, md5-prefix membership, broadcast cutoff join.
    Oracle: the identical md5-prefix predicate replayed per stratum as
    a CASE in SQL (DuckDB and Spark md5 hex agree byte-for-byte)."""
    from .operators import sampling

    docs = load(spark, sf, "documents")
    return sampling.stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.25, "zh": 0.1},
        key_col="doc_id",
        seed="r6",
        default_fraction=0.0,
    ).select("doc_id", "lang", "source")


def q_samp_reservoir(spark, sf):
    """Deterministic per-group 'reservoir' (r6): the k=25 docs per
    language with the smallest sampling hash, via the PREFILTER scale
    path (count-derived per-group hash cutoff + exactness fallback --
    at 100 TB this sorts ~margin*k survivors per group instead of
    whole strata). Oracle: the window definition itself -- row_number
    over (lang, order by md5, id) <= k; strategies are pytest-pinned
    identical so the oracle checks the scale path's result."""
    from .operators import sampling

    docs = load(spark, sf, "documents")
    return sampling.reservoir_per_group(
        docs, "lang", k=25, key_col="doc_id", strategy="prefilter"
    ).select("doc_id", "lang")


def q_dedup_prefix_jaccard(spark, sf):
    """EXACT sub-quadratic Jaccard join via prefix filtering (r7,
    SSJoin/PPJoin family): all pairs with J >= 0.8, corpus-wide, no
    blocking, no LSH recall loss. Oracle: the full quadratic exact
    Jaccard self-join in SQL -- the operator must return EXACTLY the
    quadratic answer (prefix lemma guarantees no false negatives; the
    verify stage no false positives)."""
    from .operators import dedup

    return dedup.prefix_filter_jaccard_pairs(
        spread_small_scan(load(spark, sf, "documents")), threshold=0.8
    )


def q_samp_weighted(spark, sf):
    """Deterministic weighted Bernoulli sampling (r7): P(keep) =
    min(1, f * length(text)) with md5-hash membership, compared in the
    integer domain (explicit floor on both engines -- Spark truncates
    double->long while DuckDB rounds, so the cast is never implicit).
    Oracle: the identical predicate in SQL; doubles only pass through
    literal-parse/multiply/min, all IEEE-identical across engines."""
    from .operators import sampling

    docs = load(spark, sf, "documents").withColumn(
        "text_len", F.length("text")
    )
    return sampling.weighted_hash_sample(
        docs, 0.002, weight_col="text_len", key_col="doc_id", seed="r7"
    ).select("doc_id", "lang", "text_len")


def q_sk_heavy_hitters(spark, sf):
    """Distributed Misra-Gries heavy hitters over document tokens
    (r6): bounded state per partition, merge by summation + global
    undercount bound. The cell is the sketch's own CONTRACT: the
    merged estimates are exported at the gate sf, the query verifies
    them against Spark's exact counts and emits (key, ok) for every
    exported key plus every key at/above the share threshold (a
    missing heavy key surfaces as an extra ok=false row), and the
    oracle re-derives the exact side and the identical verdict in SQL
    over the export."""
    from .operators import sketches

    docs = load(spark, sf, "documents")
    toks = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("key"))
        .where(F.col("key") != "")
    )
    # capacity 256: the static completeness guarantee needs
    # capacity+1 >= 1/min_share = 200 (the operator validates this --
    # the original 64 only gave data-conditional completeness)
    hh = sketches.heavy_hitters(toks, "key", capacity=256, min_share=0.005)
    if _is_gate_sf(sf):
        _export_golden(hh.toPandas(), "heavy_hitters_mg")
    exact = toks.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    # n_tot derived from the exact aggregate instead of a third full
    # tokenize+explode pass over the corpus (r8, guide "do fewer
    # passes"): sum of per-key counts == the toks row count by
    # definition (toks is already key-filtered), so the value -- and
    # the cell's output -- is identical; coalesce covers the empty
    # corpus, where group-less count() yielded 0.
    tot = exact.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_tot"))
    j = hh.join(exact, "key", "outer").join(F.broadcast(tot), how="cross")
    return j.where(
        F.col("est").isNotNull() | (F.col("cnt") >= F.lit(0.005) * F.col("n_tot"))
    ).select(
        "key",
        (
            F.col("est").isNotNull()
            & (F.col("est") <= F.col("cnt"))
            & (F.col("cnt") <= F.col("est") + F.col("max_undercount"))
        ).alias("ok"),
    )


def q_sk_approx_distinct(spark, sf):
    """Per-language HLL++ token-vocabulary cardinality with the
    error-bound verdict (r6): sketch + exact distinct in one
    aggregate, (lang, approx_nd, exact_nd, within_tol). The approx
    side is engine-specific, so it is exported at the gate sf and the
    oracle recomputes exact_nd + the verdict independently in SQL."""
    from .operators import sketches

    docs = load(spark, sf, "documents")
    toks = docs.select(
        "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    out = sketches.approx_distinct_check(toks, "lang", "tok", rsd=0.05)
    if _is_gate_sf(sf):
        _export_golden(
            out.select("lang", "approx_nd").toPandas(), "approx_distinct_hll"
        )
    return out


def q_sk_approx_quantiles(spark, sf):
    """Grouped Greenwald-Khanna quantiles (the scale path the exact
    a_exact_quantiles cell points at) verified by the sketch's RANK
    contract: |rank(approx) - q*n| <= n/accuracy (+1 discreteness
    slack). The approx values are engine-specific -> exported; the
    oracle recomputes the rank interval and the verdict in SQL."""
    from .operators import sketches

    li = load(spark, sf, "lineitem")
    out = sketches.approx_quantile_check(
        li, "l_returnflag", "l_extendedprice", qs=(0.5, 0.95), accuracy=1000
    )
    if _is_gate_sf(sf):
        _export_golden(
            out.select("l_returnflag", "q", "approx_val").toPandas(),
            "approx_quantiles_gk",
        )
    return out


def q_graph_lpa(spark, sf):
    """Deterministic synchronous label propagation over the KG entity
    graph (r6): community labels after 10 majority/min-tie rounds.
    Exact oracle (no tolerance needed -- labels are discrete): the
    independent pure-python replay over the pandas oracle's OWN edge
    derivation is exported as the golden; any edge-set or labeling
    drift is a row/value mismatch."""
    from .operators import graph

    if _is_gate_sf(sf):
        # the python replay is only needed to export the gate golden;
        # computing it unconditionally would tax every bench/non-gate
        # invocation with a driver-side LPA pass it then discards
        ref = kg_oracle.lpa_reference(
            _oracle_entity_edges_pdf(_sf_name(sf)), iters=10
        )
        _export_golden(ref, "graph_lpa_golden")
    return graph.label_propagation(
        _kg_entity_edges(spark, sf), iters=10, src="subj", dst="obj"
    )


def q_kg_conflicts(spark, sf):
    """(subj, pred) keys asserted with conflicting objects -- the KG
    quality gate, over the same kg_triples chain + golden. Oracle:
    distinct-count + sorted string-agg in SQL."""
    from .operators import graph

    return graph.conflicting_assertions(_kg_triples_query(spark, sf, method="sql"))


def q_exact_quantiles(spark, sf):
    """A-family: exact grouped quantiles (median + p95) via Spark's
    `percentile` (exact linear interpolation -- the scale path would be
    approx_percentile, whose t-digest is engine-specific and thus not
    oracle-checkable; the exact form IS, since DuckDB's quantile_cont
    uses the same interpolation definition)."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
        F.count(F.lit(1)).alias("n"),
    )


def q_pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing metadata (GPT-style training
    layout): per-shard running token offsets and the fixed-size context
    chunks each document spans. One window per shard, no global sort,
    all integer math -- the oracle reproduces it bit-for-bit."""
    from .operators import curation

    return curation.pack_chunks(load(spark, sf, "documents"), max_len=64)


def q_triple_support(spark, sf):
    """Provenance rollup over the full KG chain's triples: support
    count, distinct source conversations, first sighting per (subj,
    pred, obj). Oracle: the same rollup in SQL over the INDEPENDENT
    pandas pipeline's golden triples parquet (window argmin for the
    first sighting)."""
    from .operators import graph

    return graph.triple_support(_kg_triples_query(spark, sf, method="sql"))


def q_fuzzy_link(spark, sf):
    """Approximate entity linking (char-trigram ER): mentions are the
    alias dictionary's entries deterministically truncated (first char
    dropped, len >= 6), re-linked through the trigram inverted index +
    Jaccard argmax. Oracle: full SQL recomputation (perturbation,
    trigram sets, blocking join, scoring, argmax) over the exported
    alias-dict INPUT table."""
    from .operators import linking

    tr, ents, sa = _kg_frames(_sf_name(sf))
    if _is_gate_sf(sf):
        _export_golden(
            ents[["alias", "entity_id"]].drop_duplicates(), "alias_dict_input"
        )
    adf = spark.createDataFrame(ents)
    mentions = adf.filter(F.length("alias") >= 6).select(
        F.expr("substring(alias, 2, length(alias))").alias("mention")
    )
    return linking.fuzzy_link_mentions(mentions, adf, threshold=0.4)


def _kg_entity_edges(spark, sf):
    """Spark-side directed entity-entity edge set off the full KG chain
    (extract -> link -> canonicalize, entity-valued objects only) --
    the graph the PageRank cells rank."""
    tr, ents, sa = _kg_frames(_sf_name(sf))
    mentions = extract.extract_mentions(spark.createDataFrame(tr))
    return (
        _kg_linked(spark, mentions, ents, sa)
        .filter(F.col("obj_kind") == "entity")
        .select(F.col("subj"), F.col("obj"))
        .distinct()
    )


def _pagerank_cell(spark, sf, name: str, seeds_mod: int | None):
    """Shared body of the kg_pagerank / kg_ppr contract cells, the
    export-the-non-SQL-step pattern applied to float iteration: the
    independent pure-python power iteration (oracle.pagerank_reference,
    over the pandas oracle's OWN edge derivation) is the golden; the
    query runs Spark PageRank on the Spark chain's edge set, full-outer
    joins the reference and returns (node_id, within_tol) booleans --
    exact, hashable, order-insensitive. A node present on only one side
    surfaces as within_tol=false (NULL rank), so edge-set drift is
    caught, not just rank drift. Tolerance 1e-6 absorbs summation-order
    float noise (observed ~1e-12) plus the 8-dp output rounding of both
    sides; rank magnitudes are ~1e-2."""
    from .operators import graph

    edges_pd = _oracle_entity_edges_pdf(_sf_name(sf))
    if seeds_mod is None:
        seed_ids = None
        seeds_df = None
    else:
        all_nodes = sorted(set(edges_pd["subj"]) | set(edges_pd["obj"]))
        seed_ids = [u for u in all_nodes if int(u[1:]) % seeds_mod == 0]
        seeds_df = spark.createDataFrame(
            [(u,) for u in seed_ids], schema="node_id string"
        )
    ref = kg_oracle.pagerank_reference(edges_pd, damping=0.85, iters=20, seeds=seed_ids)
    if _is_gate_sf(sf):
        _export_golden(ref[["node_id"]], f"{name}_golden")
    ranks = graph.pagerank(
        _kg_entity_edges(spark, sf),
        damping=0.85,
        iters=20,
        src="subj",
        dst="obj",
        seeds=seeds_df,
    )
    refdf = spark.createDataFrame(ref)
    return (
        ranks.join(refdf, "node_id", "outer")
        .select(
            "node_id",
            F.coalesce(
                F.abs(F.col("rank") - F.col("ref_rank")) < 1e-6, F.lit(False)
            ).alias("within_tol"),
        )
    )


def q_kg_pagerank(spark, sf):
    """Global PageRank over the KG entity graph, scored against the
    independent python power iteration (VERDICT r4 item 1: the one
    operator family that lacked an exact-oracle contract row)."""
    return _pagerank_cell(spark, sf, "kg_pagerank", seeds_mod=None)


def q_kg_ppr(spark, sf):
    """Personalized PageRank: restart mass on the deterministic seed
    set {canonical Qn : n % 7 == 0}; same golden-comparison shape as
    kg_pagerank."""
    return _pagerank_cell(spark, sf, "kg_ppr", seeds_mod=7)


def q_kg_ppr_multiseed(spark, sf):
    """One-pass multi-seed personalized PageRank (r6, VERDICT item 5):
    three deterministic seed sets ({Qn : n % m == 0} for m in 5/7/11)
    scored in a SINGLE power iteration carrying the seed_set_id
    dimension through the rank frame. Golden = the independent python
    power iteration run per set (same reference the kg_ppr cell pins),
    so the shared-edge-join formulation is checked against S separate
    sequential derivations; returns (seed_set_id, node_id, within_tol).
    """
    from .operators import graph

    import pandas as pd

    edges_pd = _oracle_entity_edges_pdf(_sf_name(sf))
    all_nodes = sorted(set(edges_pd["subj"]) | set(edges_pd["obj"]))
    sets = {
        f"mod{m}": [u for u in all_nodes if int(u[1:]) % m == 0]
        for m in (5, 7, 11)
    }
    refpd = pd.concat(
        [
            kg_oracle.pagerank_reference(
                edges_pd, damping=0.85, iters=20, seeds=ids
            ).assign(seed_set_id=name)
            for name, ids in sets.items()
        ],
        ignore_index=True,
    )
    if _is_gate_sf(sf):
        _export_golden(
            refpd[["seed_set_id", "node_id"]], "kg_ppr_multiseed_golden"
        )
    ssdf = spark.createDataFrame(
        [(k, v) for k, vs in sets.items() for v in vs],
        schema="seed_set_id string, node_id string",
    )
    ranks = graph.multi_seed_ppr(
        _kg_entity_edges(spark, sf),
        ssdf,
        damping=0.85,
        iters=20,
        src="subj",
        dst="obj",
    )
    refdf = spark.createDataFrame(refpd)
    return ranks.join(refdf, ["seed_set_id", "node_id"], "outer").select(
        "seed_set_id",
        "node_id",
        F.coalesce(
            F.abs(F.col("rank") - F.col("ref_rank")) < 1e-6, F.lit(False)
        ).alias("within_tol"),
    )


# Ordering contract: the driver's correctness gate checks the FIRST 50
# entries of the exported dict. QUERIES therefore holds EXACTLY the 50
# operators that need driver hard-signal rows (every operator family has
# at least one in-window representative); redundant sibling cells live
# in EXTRA_QUERIES below, which runs under the IDENTICAL local gate
# (tools/check_contract.py + tests/test_contracts.py) every round.
# tests/test_contracts.py pins len(QUERIES) <= 50 so the driver window
# can never silently truncate again.
QUERIES = {
    # -- flagship: the KG pipeline, reference-parity flatten, the
    #    PARTITION stage, and graph queries (driver window 1-9)
    "kg_extract_mentions": q_kg_mentions,
    "kg_triples": q_kg_triples,
    "flatten_claims_fourbranch": q_flatten_claims,
    "flatten_labels_map": q_flatten_labels,
    "partition_stage_audit": q_partition_stage_audit,
    "cc_components": q_connected_components,
    # -- relational operator families (SURVEY §2.2-2.8)
    "a1_pricing_summary": q_pricing_summary,
    "a5_partition_audit": q_partition_audit,
    "a7_running_revenue": q_running_revenue,
    "a8_null_audit": q_null_audit,
    "w1_topk_per_group": q_topk_per_group,
    "j1_rowid_token_join": q_rowid_token_join,
    "u1_diagonal_concat": q_diagonal_concat,
    "p6_regex_extract": q_regex_extract,
    "q3_shipping_priority": q_shipping_priority,
    "q5_region_revenue": q_region_revenue,
    "q17_small_quantity": q17_small_quantity,
    "j_salted_hot_keys": q_salted_join,
    "asof_last_click": q_asof_last_click,
    "sessionize_events": q_sessionize,
    "p7_list_len_predicate": q_list_len_predicate,
    # -- training-data-pipeline operators
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_near_dup": q_dedup_near_dup,
    "kg_pagerank": q_kg_pagerank,
    "ann_topk_bruteforce": q_ann_topk,
    "ann_ivf": q_ann_ivf,
    "text_quality_score": q_quality,
    "mm_decode_features": q_media_features,
    # -- round-3 operators, in-window since round 4
    "dedup_chunk_spans": q_chunk_dup_spans,
    "x_decontaminate_ngrams": q_decontaminate_ngrams,
    "kg_fuzzy_link": q_fuzzy_link,
    "kg_triple_support": q_triple_support,
    "kg_comention_edges": q_comention_edges,
    "kg_comention_audit": q_comention_audit,
    "kg_conflicts": q_kg_conflicts,
    "kg_negative_samples": q_negative_samples,
    "a_exact_quantiles": q_exact_quantiles,
    "x_pack_chunks": q_pack_chunks,
    "x_redact_pii": q_redact_pii,
    # -- r7 rotation: the ten cells born after r6's second rotation get
    #    their first driver rows (VERDICT r6 item 1 -- rotation COMPLETE
    #    again: every contract cell has now had a driver seat). Retired
    #    to EXTRA, all multi-round driver-green with in-window family
    #    siblings: graph_degrees/graph_khop (graph keeps cc + pagerank +
    #    the three new graph cells), kg_ppr (multi_seed_ppr is the
    #    superset), kg_current_beliefs (beliefs keep kg_conflicts +
    #    as_of), embedding_near_pairs (embeddings keep ann_topk/ivf/
    #    multiprobe + dedup_embedding in EXTRA), j5 (joins keep
    #    j1/j_salted/q3/q5/q17), n8 (nested keeps both flatten cells),
    #    dedup_simhash (dedup keeps exact/minhash/near_dup/chunk/
    #    decontaminate), text_repetition_ratio (text keeps
    #    quality_score), x_curate_corpus (curation keeps pack + redact).
    "samp_stratified": q_samp_stratified,
    "samp_reservoir": q_samp_reservoir,
    "sk_heavy_hitters": q_sk_heavy_hitters,
    "sk_approx_distinct": q_sk_approx_distinct,
    "sk_approx_quantiles": q_sk_approx_quantiles,
    "graph_lpa": q_graph_lpa,
    "graph_triangles": q_graph_triangles,
    "kg_beliefs_asof": q_beliefs_asof,
    "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "kg_ppr_multiseed": q_kg_ppr_multiseed,
}

# Retired driver-window cells: each is a sibling of an in-window query
# exercising the same operator family (a2/a3~a1, o3~a4, sql_api/cube~
# rollup, p8~p7, f6~p6, x_pivot~a4, u2~u1, j_anti~j_semi, w2~a7/w1,
# token_jaccard~near_dup verify stage, ann_lsh~ann_ivf/embedding_near,
# fingerprint~token_stats/chunk_spans, mm_resize~mm_decode/mm_frame).
# All 15 keep full row-count + schema + value-hash coverage under the
# driver-identical local gate (tools/check_contract.py runs QUERIES
# then EXTRA_QUERIES; tests/test_contracts.py runs EXTRA_QUERIES at
# the gate sf (0.01) in pytest every round).
EXTRA_QUERIES = {
    "a2_distinct_orders": q_distinct_orders,
    "a3_min_open_order": q_min_open_order,
    "o3_sort_slice": q_slice,
    "sql_api_revenue": q_sql_api_revenue,
    "cube_revenue": q_cube_revenue,
    "p8_row_local_membership": q_row_local_membership,
    "f6_math_round": q_math_round,
    "x_pivot_status": q_pivot_status,
    "u2_union_distinct": q_union_distinct,
    "j_anti_resume": q_anti_join,
    "w2_lag_delta": q_lag_delta,
    "dedup_token_jaccard": q_dedup_jaccard,
    "ann_lsh_bucketed": q_ann_lsh,
    "text_fingerprint": q_fingerprint,
    "mm_resize_plan": q_media_resize,
    # -- r4 additions (born outside the window; full local-gate + pytest
    #    coverage, window seats stay with the one-per-family picks)
    # -- r5 rotation: multi-round-green siblings retired to make window
    #    seats for the never-driver-checked cells (kg_pagerank, kg_ppr,
    #    kg_current_beliefs). Arrow extraction stays in-window via
    #    kg_extract_mentions (method="partitions" IS the Arrow path);
    #    the n-gram Jaccard family keeps near_dup/minhash/simhash
    #    seats; text keeps token_stats + quality_score seats.
    "kg_triples_arrow": q_kg_triples_arrow,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "text_lang_id": q_lang_id,
    # -- r6 rotation: four more multi-round-green siblings retired so
    #    the never-driver-checked KG cells (comention edges/audit,
    #    conflicts, negative samples) get driver rows. Agg family
    #    keeps a1/a5/a7/a8/rollup; text keeps quality_score +
    #    repetition_ratio; embeddings keep near_pairs/ann/dedup
    #    seats; mm keeps decode_features.
    "a4_event_histogram": q_event_histogram,
    "text_token_stats": q_text_stats,
    "dedup_embedding_cosine": q_dedup_embedding,
    "mm_frame_sample": q_media_frames,
    # -- r6 second rotation: rotation COMPLETE -- every contract cell has
    #    now had a driver row. Agg keeps a1/a5/a7/a8 (+ exact-quantiles
    #    in-window); temporal keeps asof + sessionize; joins keep
    #    j1/j5/j_salted (anti/semi siblings both EXTRA).
    "rollup_revenue": q_rollup_revenue,
    "range_join_within": q_range_join_pairs,
    "j_semi_exists": q_semi_join,
    # -- r7 rotation: ten multi-round driver-green siblings retired so
    #    the ten late-r6 cells (sampling, sketches, LPA, triangles,
    #    time travel, multi-probe, multi-seed PPR) get their first
    #    driver rows. Each retiree's family keeps in-window seats (see
    #    the QUERIES-side comment); all ten keep the identical local
    #    gate here + pytest.
    "graph_degrees": q_graph_degrees,
    "graph_khop": q_graph_khop,
    "kg_ppr": q_kg_ppr,
    "kg_current_beliefs": q_current_beliefs,
    "embedding_near_pairs": q_embedding_near_pairs,
    "j5_presence_flags": q_presence_flags,
    "n8_json_map_explode": q_json_map_explode,
    "dedup_simhash": q_dedup_simhash,
    "text_repetition_ratio": q_repetition_ratio,
    "x_curate_corpus": q_curate_corpus,
    # -- r7 new operators (born in EXTRA like every new family; window
    #    seats at the next rotation once they have local-gate history)
    "samp_weighted": q_samp_weighted,
    "dedup_prefix_jaccard": q_dedup_prefix_jaccard,
}

# --------------------------------------------------------------------------
# DuckDB oracles. Tokenization mirror: regexp_split_to_array(trim(lower(
# text)), '\s+') == Spark split(trim(lower(text)), '\s+'). Left folds via
# list_reduce(list_prepend(...)) mirror Spark F.aggregate exactly.
# --------------------------------------------------------------------------

_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"
_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip(CAST({a} AS DOUBLE[]), "
    "CAST({b} AS DOUBLE[])), z -> z[1]*z[2])), (acc, x) -> acc + x)"
)


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)}) / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def _stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return f"len(list_filter(toks, x -> list_contains([{words}], x)))"


ORACLE_SQL = {
    "a1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "a2_distinct_orders": """
        SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders
        FROM lineitem GROUP BY l_returnflag
    """,
    "a3_min_open_order": """
        SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS min_open_date,
               min(o_orderkey) AS min_open_key
        FROM orders WHERE o_orderstatus != 'F'
    """,
    "a4_event_histogram": """
        SELECT event_type, count(*) AS n FROM events
        GROUP BY event_type ORDER BY n DESC, event_type ASC
    """,
    "a5_partition_audit": """
        SELECT lang, count(*) AS rows, min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents GROUP BY lang
    """,
    "a7_running_revenue": """
        WITH daily AS (
          SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                 round(sum(o_totalprice), 2) AS day_total
          FROM orders GROUP BY 1)
        SELECT order_date, day_total,
               round(sum(day_total) OVER (ORDER BY order_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM daily
    """,
    "a8_null_audit": """
        WITH o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        SELECT count(*) FILTER (o.n_orders IS NULL) AS customers_without_orders,
               count(*) AS total_customers
        FROM customer c LEFT JOIN o ON c.c_custkey = o.o_custkey
    """,
    "w1_topk_per_group": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders) WHERE rn <= 3
    """,
    "w2_lag_delta": """
        SELECT user_id, event_id,
               round(value - lag(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id), 6) AS delta
        FROM events
    """,
    "j1_rowid_token_join": f"""
        WITH t AS (
          SELECT doc_id,
                 unnest(list_transform({_TOKS},
                   (x, i) -> struct_pack(tok := x, pos := i))) AS s
          FROM documents),
        flat AS (SELECT doc_id, s.tok AS token, s.pos AS pos FROM t),
        probe AS (SELECT doc_id, token FROM flat WHERE pos % 2 = 1),
        lookup AS (SELECT DISTINCT doc_id, token FROM flat WHERE pos % 2 = 0)
        SELECT probe.doc_id AS doc_id, count(*) AS n_matches
        FROM probe JOIN lookup USING (doc_id, token)
        GROUP BY probe.doc_id
    """,
    "j5_presence_flags": """
        WITH fo AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             fd AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        SELECT c_custkey,
               coalesce(fo.o_custkey IS NOT NULL, FALSE) AS has_open,
               coalesce(fd.o_custkey IS NOT NULL, FALSE) AS has_done,
               (fo.o_custkey IS NOT NULL AND fd.o_custkey IS NOT NULL) AS has_both
        FROM customer c
        LEFT JOIN fo ON c.c_custkey = fo.o_custkey
        LEFT JOIN fd ON c.c_custkey = fd.o_custkey
    """,
    "j_anti_resume": """
        SELECT c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "j_semi_exists": """
        SELECT p_partkey FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
    "u1_diagonal_concat": """
        SELECT o_orderstatus AS status, count(*) AS n,
               round(sum(o_totalprice), 2) AS total, NULL AS flag
        FROM orders GROUP BY 1
        UNION ALL BY NAME
        SELECT l_returnflag AS flag, count(*) AS n FROM lineitem GROUP BY 1
    """,
    "p6_regex_extract": """
        SELECT doc_id,
               CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) AS src_num,
               'file.parquet' AS fname
        FROM documents WHERE regexp_matches(source, '^src1\\d$')
    """,
    "n8_json_map_explode": """
        WITH kx AS (
          SELECT event_id, props, unnest(json_keys(props)) AS key FROM events)
        SELECT event_id, key,
               CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS value
        FROM kx
    """,
    "o3_sort_slice": """
        SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50 OFFSET 100
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    "q5_region_revenue": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY revenue DESC, n_name ASC
    """,
    "q17_small_quantity": """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#1'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p_partkey)
    """,
    "j_salted_hot_keys": """
        SELECT c_nationkey, count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
    "sql_api_revenue": """
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               o_orderpriority AS priority,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n
        FROM orders GROUP BY 1, 2
    """,
    "rollup_revenue": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "cube_revenue": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "asof_last_click": """
        WITH tagged AS (
          SELECT user_id, event_id, ts, event_type,
            last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_id,
            last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_ts
          FROM events)
        SELECT user_id, event_id AS target_id, matched_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(matched_ts)) AS BIGINT) AS gap_sec
        FROM tagged WHERE event_type = 'purchase'
    """,
    "range_join_within": """
        SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND abs(CAST(floor(epoch(a.ts)) AS BIGINT)
                 - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 60
    """,
    "sessionize_events": """
        WITH g AS (
          SELECT user_id, event_id, ts,
            CAST(floor(epoch(ts)) AS BIGINT)
              - lag(CAST(floor(epoch(ts)) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events)
        SELECT user_id, event_id,
               CAST(sum(CASE WHEN gap IS NULL OR gap <= 1800 THEN 0 ELSE 1 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_idx
        FROM g
    """,
    "p7_list_len_predicate": f"""
        SELECT doc_id, len(list_distinct({_TOKS})) AS n_distinct
        FROM documents WHERE len(list_distinct({_TOKS})) > 25
    """,
    "p8_row_local_membership": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        e AS (SELECT doc_id, toks[1:5] AS head5,
                     unnest(list_distinct(toks)) AS token FROM t)
        SELECT doc_id, count(*) AS n_head_tokens
        FROM e WHERE list_contains(head5, token)
        GROUP BY doc_id
    """,
    "f6_math_round": """
        SELECT s_suppkey, round(s_acctbal / 1000.0, 3) AS bal_k,
               'supplier/' || s_name AS s_path
        FROM supplier
    """,
    "x_pivot_status": """
        SELECT o_orderpriority,
               count(*) FILTER (o_orderstatus = 'O') AS n_open,
               count(*) FILTER (o_orderstatus = 'F') AS n_done,
               count(*) FILTER (o_orderstatus = 'P') AS n_pending
        FROM orders GROUP BY o_orderpriority
    """,
    "u2_union_distinct": """
        SELECT DISTINCT k FROM (
          SELECT c_custkey AS k FROM customer
          UNION ALL SELECT o_custkey AS k FROM orders)
    """,
    "dedup_exact": """
        SELECT md5(text) AS digest, count(*) AS n_dupes, min(doc_id) AS keep_id
        FROM documents GROUP BY 1
    """,
    "dedup_token_jaccard": f"""
        WITH t AS (SELECT doc_id, lang,
                          list_sort(list_distinct({_TOKS})) AS toks
                   FROM documents)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                     len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
    """,
    # prefix-filter cell: the oracle is the FULL quadratic exact
    # Jaccard self-join (no blocking) -- sub-quadratic candidate
    # generation must not change the answer by one pair
    "dedup_prefix_jaccard": f"""
        WITH t AS (SELECT doc_id,
                          list_sort(list_distinct({_TOKS})) AS toks
                   FROM documents)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                     len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
    """,
    "dedup_ngram_jaccard": f"""
        WITH t0 AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
        t AS (SELECT doc_id, lang,
                     list_sort(list_distinct(
                       list_transform(range(1, greatest(len(toks)-1, 1)),
                                      i -> array_to_string(toks[i:i+2], ' ')))) AS sh
              FROM t0),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
          FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.5
    """,
    "dedup_embedding_cosine": f"""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round({_cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.35
    """,
    "ann_topk_bruteforce": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                   FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 {_cosine_sql('q.qvec', 'e.embedding')} AS sim
          FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored) WHERE rank <= 5
    """,
    "text_token_stats": f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id, len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_subtokens,
               round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                   (a, b) -> a + b) AS DOUBLE) / len(toks), 4) AS avg_token_len
        FROM t
    """,
    "text_lang_id": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id,
               {_stop_hits('en')} AS hits_en,
               {_stop_hits('de')} AS hits_de,
               {_stop_hits('fr')} AS hits_fr,
               {_stop_hits('es')} AS hits_es,
               {_stop_hits('zh')} AS hits_zh
              FROM t)
        SELECT doc_id, hits_en, hits_de, hits_fr, hits_es, hits_zh,
          CASE
            WHEN hits_zh > greatest(hits_en, hits_de, hits_fr, hits_es, 0) THEN 'zh'
            WHEN hits_es > greatest(hits_en, hits_de, hits_fr, 0) THEN 'es'
            WHEN hits_fr > greatest(hits_en, hits_de, 0) THEN 'fr'
            WHEN hits_de > greatest(hits_en, 0) THEN 'de'
            WHEN hits_en > 0 THEN 'en'
            ELSE 'und' END AS pred_lang
        FROM s
    """,
    "text_quality_score": f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        f AS (SELECT doc_id,
                len(toks) AS n_tokens,
                CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
                CAST({_stop_hits('en')} AS DOUBLE) / len(toks) AS stopword_ratio,
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / length(text) AS alpha_ratio,
                least(len(toks) / 100.0, 1.0) AS len_score
              FROM t)
        SELECT doc_id, n_tokens,
               round(distinct_ratio, 6) AS distinct_ratio,
               round(stopword_ratio, 6) AS stopword_ratio,
               round(alpha_ratio, 6) AS alpha_ratio,
               round(0.25*len_score + 0.25*distinct_ratio + 0.25*stopword_ratio
                     + 0.25*alpha_ratio, 6) AS quality
        FROM f
    """,
    "text_fingerprint": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                 (h, x) -> (h * 31 + x) % 2147483647) AS fingerprint
        FROM t
    """,
    "cc_components": """
        SELECT 'Q' || CAST(c_custkey AS VARCHAR) AS entity_id,
               'Q' || CAST((c_custkey // 10) * 10 AS VARCHAR) AS canonical_id
        FROM customer
    """,
    "graph_degrees": """
        WITH e AS (SELECT 'Q'||CAST(c_custkey AS VARCHAR) AS s,
                          'Q'||CAST(c_custkey+1 AS VARCHAR) AS d
                   FROM customer WHERE c_custkey % 10 != 9),
        o AS (SELECT s AS node_id, count(*) AS out_deg FROM e GROUP BY s),
        i AS (SELECT d AS node_id, count(*) AS in_deg FROM e GROUP BY d)
        SELECT coalesce(o.node_id, i.node_id) AS node_id,
               coalesce(out_deg, 0) AS out_deg,
               coalesce(in_deg, 0) AS in_deg,
               coalesce(out_deg, 0) + coalesce(in_deg, 0) AS deg
        FROM o FULL OUTER JOIN i ON o.node_id = i.node_id
    """,
    "graph_khop": """
        WITH e AS (SELECT 'Q'||CAST(c_custkey AS VARCHAR) AS s,
                          'Q'||CAST(c_custkey+1 AS VARCHAR) AS d
                   FROM customer WHERE c_custkey % 10 != 9),
        seeds AS (SELECT 'Q'||CAST(c_custkey AS VARCHAR) AS node
                  FROM customer WHERE c_custkey % 100 = 0),
        h1 AS (SELECT DISTINCT e.d AS node_id
               FROM seeds JOIN e ON e.s = seeds.node),
        h2 AS (SELECT DISTINCT e2.d AS node_id
               FROM h1 JOIN e e2 ON e2.s = h1.node_id),
        r AS (SELECT node_id, 1 AS hop FROM h1
              UNION ALL SELECT node_id, 2 FROM h2)
        -- seeds are hop 0 and excluded from the reachable set: encode
        -- the operator's seed-exclusion semantics explicitly rather
        -- than relying on seeds having no in-edges under this edge rule
        SELECT node_id, CAST(min(hop) AS INTEGER) AS hop
        FROM r
        WHERE node_id NOT IN (SELECT node FROM seeds)
        GROUP BY node_id
    """,
    # -- LSH -> exact-verify compositions: the oracle re-verifies the
    # exported candidate set with DuckDB's own tokenizer / vector math
    "dedup_near_dup": f"""
        WITH c AS (SELECT a_id, b_id
                   FROM read_parquet('{_export_path("dedup_near_dup_cands")}')),
        t AS (SELECT doc_id, list_sort(list_distinct({_TOKS})) AS toks
              FROM documents),
        j AS (
          SELECT c.a_id AS a_id, c.b_id AS b_id,
                 round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
          FROM c JOIN t a ON a.doc_id = c.a_id JOIN t b ON b.doc_id = c.b_id)
        SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.8
    """,
    "embedding_near_pairs": f"""
        WITH c AS (SELECT a_id, b_id
                   FROM read_parquet('{_export_path("embedding_near_cands")}')),
        j AS (
          SELECT c.a_id AS a_id, c.b_id AS b_id,
                 round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
          FROM c JOIN embeddings a ON a.vec_id = c.a_id
                 JOIN embeddings b ON b.vec_id = c.b_id)
        SELECT a_id, b_id, cos_sim FROM j WHERE cos_sim >= 0.35
    """,
    "dedup_minhash_lsh": f"""
        WITH s AS (SELECT id, sig
                   FROM read_parquet('{_export_path("minhash_sigs")}')),
        b AS (SELECT id, t.bi AS bi,
                     array_to_string(sig[t.bi*4+1 : t.bi*4+4], ',') AS key
              FROM s, range(0, 8) t(bi))
        SELECT DISTINCT a.id AS a_id, b2.id AS b_id
        FROM b a JOIN b b2
          ON a.bi = b2.bi AND a.key = b2.key AND a.id < b2.id
    """,
    "dedup_simhash": f"""
        WITH s AS (SELECT doc_id, simhash
                   FROM read_parquet('{_export_path("simhash_sigs")}')),
        c AS (SELECT doc_id, simhash,
                     t.ci AS ci, (simhash >> (t.ci*16)) & 65535 AS cv
              FROM s, range(0, 4) t(ci))
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM c a JOIN c b
          ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "mm_decode_features": """
        WITH bmp AS (
          SELECT doc_id,
                 CAST(8 + doc_id % 113 AS INTEGER) AS width,
                 CAST(8 + (31 * doc_id) % 97 AS INTEGER) AS height
          FROM documents WHERE doc_id % 2 = 0),
        real AS (
          -- parsed header values recomputed from the BMP container
          -- spec: 54-byte header + height rows of 4-byte-padded BGR
          SELECT doc_id, 'image/bmp' AS media_type,
                 CAST(54 + ((3 * width + 3) // 4) * 4 * height AS BIGINT)
                   AS n_bytes,
                 CAST(NULL AS VARCHAR) AS checksum,
                 width, height,
                 CAST(24 AS INTEGER) AS bpp,
                 CAST(doc_id % 256 AS INTEGER) AS first_px
          FROM bmp),
        f AS (
          SELECT doc_id,
                 'audio/fake' AS media_type,
                 octet_length(encode(text)) AS n_bytes,
                 md5(text) AS checksum
          FROM documents WHERE doc_id % 2 = 1),
        h AS (SELECT *,
                CAST(list_sum(list_transform(
                    regexp_extract_all(substr(checksum, 1, 8), '.'),
                    (ch, i) -> (strpos('0123456789abcdef', ch) - 1)
                               * (16 ** (8 - i)))) AS BIGINT) AS hv
              FROM f),
        fake AS (
          SELECT doc_id, media_type, n_bytes, checksum,
                 CAST(16 + (hv % 1024) AS INTEGER) AS width,
                 CAST(16 + ((hv // 1024) % 1024) AS INTEGER) AS height,
                 CAST(NULL AS INTEGER) AS bpp,
                 CAST(NULL AS INTEGER) AS first_px
          FROM h)
        SELECT * FROM real UNION ALL SELECT * FROM fake
    """,
    "mm_resize_plan": """
        WITH f AS (SELECT doc_id, md5(text) AS checksum FROM documents),
        h AS (SELECT doc_id,
                CAST(list_sum(list_transform(
                    regexp_extract_all(substr(checksum, 1, 8), '.'),
                    (ch, i) -> (strpos('0123456789abcdef', ch) - 1)
                               * (16 ** (8 - i)))) AS BIGINT) AS hv
              FROM f),
        d AS (SELECT doc_id,
                CAST(16 + (hv % 1024) AS INTEGER) AS orig_w,
                CAST(16 + ((hv // 1024) % 1024) AS INTEGER) AS orig_h
              FROM h)
        SELECT doc_id, orig_w, orig_h,
               CAST(CASE WHEN orig_w >= orig_h THEN 224
                    ELSE greatest((orig_w * 224) // orig_h, 1) END
                    AS INTEGER) AS new_w,
               CAST(CASE WHEN orig_w >= orig_h
                    THEN greatest((orig_h * 224) // orig_w, 1)
                    ELSE 224 END AS INTEGER) AS new_h
        FROM d
    """,
    "mm_frame_sample": """
        WITH g AS (SELECT doc_id,
                          octet_length(encode(text)) // 32 + 1 AS n_frames
                   FROM documents),
        s AS (SELECT doc_id, (t.j * n_frames) // 4 AS frame_idx
              FROM g, range(0, 4) t(j))
        SELECT DISTINCT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(frame_idx * 32 AS BIGINT) AS byte_offset
        FROM s
    """,
    "ann_lsh_bucketed": f"""
        WITH bk AS (SELECT vec_id, bucket
                    FROM read_parquet('{_export_path("ann_lsh_buckets")}')),
        q AS (SELECT e.vec_id AS query_id, e.embedding AS qvec, bk.bucket
              FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id
              WHERE e.vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 {_cosine_sql('q.qvec', 'e.embedding')} AS sim
          FROM q JOIN bk ON q.bucket = bk.bucket
                 JOIN embeddings e ON e.vec_id = bk.vec_id
          WHERE e.vec_id != q.query_id)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored) WHERE rank <= 5
    """,
    "ann_lsh_multiprobe": f"""
        WITH bk AS (SELECT vec_id, bucket
                    FROM read_parquet('{_export_path("ann_lsh_buckets_mp")}')),
        masks(m) AS (VALUES (0), (1), (2), (4), (8)),
        q AS (SELECT e.vec_id AS query_id, e.embedding AS qvec,
                     xor(bk.bucket, masks.m) AS bucket
              FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id, masks
              WHERE e.vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 {_cosine_sql('q.qvec', 'e.embedding')} AS sim
          FROM q JOIN bk ON q.bucket = bk.bucket
                 JOIN embeddings e ON e.vec_id = bk.vec_id
          WHERE e.vec_id != q.query_id)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored) WHERE rank <= 5
    """,
    "ann_ivf": f"""
        WITH cells AS (SELECT vec_id, cell
                       FROM read_parquet('{_export_path("ivf_cells")}')),
        probes AS (SELECT query_id, cell
                   FROM read_parquet('{_export_path("ivf_probes")}')),
        q AS (SELECT p.query_id, p.cell, e.embedding AS qvec
              FROM probes p JOIN embeddings e ON e.vec_id = p.query_id),
        scored AS (
          SELECT q.query_id, c.vec_id AS neighbor_id,
                 {_cosine_sql('q.qvec', 'e.embedding')} AS sim
          FROM q JOIN cells c ON q.cell = c.cell
                 JOIN embeddings e ON e.vec_id = c.vec_id
          WHERE c.vec_id != q.query_id)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored) WHERE rank <= 5
    """,
    # -- golden-parquet oracles: goldens computed by INDEPENDENT
    # driver-side implementations (pandas oracle pipeline / python
    # golden flattener), exported at the gate sf; the SQL re-reads them
    "kg_extract_mentions": f"""
        SELECT conv_id, turn_idx, pred, subj_mention, obj_mention,
               obj_kind, rule_idx, match_idx, ts
        FROM read_parquet('{_export_path("kg_extract_mentions_golden")}')
    """,
    "kg_triples": f"""
        SELECT subj, pred, obj, conv_id, turn_idx
        FROM read_parquet('{_export_path("kg_triples_golden")}')
    """,
    "kg_triples_arrow": f"""
        SELECT subj, pred, obj, conv_id, turn_idx
        FROM read_parquet('{_export_path("kg_triples_golden")}')
    """,
    "flatten_claims_fourbranch": f"""
        SELECT * FROM read_parquet('{_export_path("flatten_claims_golden")}')
    """,
    "partition_stage_audit": f"""
        SELECT 'contract' AS source, language, count(*) AS rows,
               min(id) AS min_id, max(id) AS max_id
        FROM read_parquet('{_export_path("flatten_claims_golden")}')
        GROUP BY language
    """,
    # -- passage dedup / decontamination / repetition: full SQL
    #    recomputations (chunking, shingling, joins all re-derived)
    "dedup_chunk_spans": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        c AS (SELECT doc_id,
                     unnest(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT))) AS chunk_idx,
                     unnest(list_transform(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT)),
                            i -> array_to_string(toks[i*16+1 : i*16+16], ' '))) AS chunk_text
              FROM t WHERE len(toks) > 0),
        g AS (SELECT md5(chunk_text) AS digest,
                     count(*) AS n_occurrences,
                     count(DISTINCT doc_id) AS n_docs
              FROM c GROUP BY 1 HAVING count(*) > 1),
        k AS (SELECT md5(chunk_text) AS digest, doc_id AS keep_doc_id,
                     CAST(chunk_idx AS INTEGER) AS keep_chunk_idx,
                     row_number() OVER (PARTITION BY md5(chunk_text)
                         ORDER BY doc_id, chunk_idx) AS r
              FROM c)
        SELECT g.digest, g.n_occurrences, g.n_docs,
               k.keep_doc_id, k.keep_chunk_idx
        FROM g JOIN k ON g.digest = k.digest AND k.r = 1
    """,
    "x_decontaminate_ngrams": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)),
                            i -> array_to_string(toks[i:i+2], ' ')))) AS g
              FROM t),
        ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        corpus AS (SELECT * FROM g WHERE doc_id % 97 != 0)
        SELECT corpus.doc_id AS doc_id, count(DISTINCT corpus.g) AS n_hits
        FROM corpus JOIN ev USING (g) GROUP BY 1
    """,
    "text_repetition_ratio": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1,1)),
                    i -> array_to_string(toks[i:i+2], ' ')) AS sh FROM t)
        SELECT doc_id, len(sh) AS n_ngrams, len(list_distinct(sh)) AS n_distinct,
               CASE WHEN len(sh) > 0
                    THEN round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)/len(sh), 6)
                    ELSE 0.0 END AS rep_ratio
        FROM s
    """,
    # -- composed curation flow: every stage recomposed in SQL
    "x_curate_corpus": f"""
        WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
        surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        q AS (SELECT doc_id,
                round(0.25*least(len(toks)/100.0, 1.0)
                    + 0.25*(CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks))
                    + 0.25*(CAST({_stop_hits('en')} AS DOUBLE)/len(toks))
                    + 0.25*(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                            / length(text)), 6) AS quality
              FROM t),
        sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1,1)),
                    i -> array_to_string(toks[i:i+2], ' ')) AS g FROM t),
        r AS (SELECT doc_id,
                CASE WHEN len(g) > 0
                     THEN round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)/len(g), 6)
                     ELSE 0.0 END AS rep_ratio
              FROM sh),
        s AS (SELECT doc_id, lang,
                CASE WHEN substr(md5(text),1,1) IN
                         ('0','1','2','3','4','5','6','7','8','9','a','b')
                     THEN 'train'
                     WHEN substr(md5(text),1,1) IN ('c','d') THEN 'val'
                     ELSE 'test' END AS split
              FROM documents)
        SELECT s.doc_id, s.lang, s.split, q.quality, r.rep_ratio
        FROM s
        JOIN surv USING (doc_id)
        JOIN q ON q.doc_id = s.doc_id
        JOIN r ON r.doc_id = s.doc_id
        WHERE q.quality >= 0.45 AND r.rep_ratio <= 0.5
    """,
    # -- provenance rollup re-derived in SQL over the independent
    #    golden triples (counts + window argmin for first sighting)
    "kg_triple_support": f"""
        WITH t AS (SELECT subj, pred, obj, conv_id, turn_idx
                   FROM read_parquet('{_export_path("kg_triples_golden")}')),
        c AS (SELECT subj, pred, obj, count(*) AS n_support,
                     count(DISTINCT conv_id) AS n_convs
              FROM t GROUP BY 1, 2, 3),
        f AS (SELECT subj, pred, obj, conv_id AS first_conv,
                     turn_idx AS first_turn,
                     row_number() OVER (PARTITION BY subj, pred, obj
                         ORDER BY conv_id, turn_idx) AS r
              FROM t)
        SELECT c.subj, c.pred, c.obj, c.n_support, c.n_convs,
               f.first_conv, f.first_turn
        FROM c JOIN f ON c.subj = f.subj AND c.pred = f.pred AND c.obj = f.obj
        WHERE f.r = 1
    """,
    # -- fuzzy ER linking: full SQL recomputation over the exported
    #    alias-dict INPUT (perturbation, trigram blocking, argmax)
    "kg_fuzzy_link": f"""
        WITH al0 AS (SELECT DISTINCT alias, entity_id
                     FROM read_parquet('{_export_path("alias_dict_input")}')),
        men0 AS (SELECT DISTINCT substr(alias, 2) AS mention
                 FROM al0 WHERE length(alias) >= 6),
        m AS (SELECT mention, lower(mention) AS s FROM men0),
        mset AS (SELECT mention,
                        CASE WHEN length(s) < 3 THEN [s]
                             ELSE list_distinct(list_transform(range(1, length(s)-1),
                                                i -> substr(s, i, 3))) END AS grams
                 FROM m),
        mg AS (SELECT mention, len(grams) AS n_m, unnest(grams) AS g FROM mset),
        a0 AS (SELECT alias, entity_id, lower(alias) AS s FROM al0),
        aset AS (SELECT alias, entity_id,
                        CASE WHEN length(s) < 3 THEN [s]
                             ELSE list_distinct(list_transform(range(1, length(s)-1),
                                                i -> substr(s, i, 3))) END AS grams
                 FROM a0),
        ag AS (SELECT alias, entity_id, len(grams) AS n_a, unnest(grams) AS g FROM aset),
        sh AS (SELECT mention, alias, entity_id, count(*) AS shared,
                      min(n_m) AS n_m, min(n_a) AS n_a
               FROM mg JOIN ag USING (g) GROUP BY 1, 2, 3),
        sc AS (SELECT mention, entity_id, alias,
                      round(CAST(shared AS DOUBLE) / (n_m + n_a - shared), 6) AS sim
               FROM sh
               WHERE round(CAST(shared AS DOUBLE) / (n_m + n_a - shared), 6) >= 0.4),
        rk AS (SELECT *, row_number() OVER (PARTITION BY mention
                      ORDER BY sim DESC, entity_id ASC, alias ASC) AS r
               FROM sc)
        SELECT mention, entity_id, alias, sim FROM rk WHERE r = 1
    """,
    # -- a genuine SQL recomputation of the labels map normalisation
    "flatten_labels_map": f"""
        WITH kx AS (
          SELECT id, labels, unnest(json_keys(labels)) AS key
          FROM read_parquet('{_export_path("entity_rows_labels")}'))
        SELECT id,
               json_extract_string(labels, '$.' || key || '.language') AS language,
               json_extract_string(labels, '$.' || key || '.value') AS value
        FROM kx
    """,
    # -- concat-and-chunk packing: the same per-shard running-sum
    #    window + integer chunk arithmetic, reproduced exactly
    "x_pack_chunks": f"""
        WITH t AS (
          SELECT lang, doc_id, len({_TOKS}) AS n_tokens FROM documents),
        c AS (
          SELECT lang, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS end_off
          FROM t)
        SELECT lang, doc_id, n_tokens,
               CAST(end_off - n_tokens AS BIGINT) AS start_off,
               CAST((end_off - n_tokens) // 64 AS BIGINT) AS first_chunk,
               CAST(CASE WHEN n_tokens > 0 THEN (end_off - 1) // 64
                         ELSE (end_off - n_tokens) // 64 END AS BIGINT)
                 AS last_chunk,
               CAST(CASE WHEN n_tokens > 0 THEN (end_off - 1) // 64
                         ELSE (end_off - n_tokens) // 64 END
                    - (end_off - n_tokens) // 64 + 1 AS BIGINT) AS n_chunks
        FROM c
    """,
    # -- PII spike + redaction chain replayed verbatim (RE2 == Java
    #    regex on this pattern subset; 'g' flag = Spark's replace-all)
    "x_redact_pii": """
        WITH spiked AS (
          SELECT doc_id,
                 text || CASE
                   WHEN doc_id % 3 = 0
                     THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
                   WHEN doc_id % 3 = 1
                     THEN ' call 555-123-4567 or ping 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                   ELSE '' END AS t
          FROM documents),
        -- PROGRESSIVE counts (each class counted on the text the
        -- replacement chain actually sees), matching redact_pii: every
        -- n_* equals the placeholders that step inserted
        s1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
          FROM spiked),
        s2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t1, '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}')) AS BIGINT) AS n_phone,
                 regexp_replace(t1, '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '<PHONE>', 'g') AS t2
          FROM s1),
        s3 AS (
          SELECT doc_id, n_email, n_phone,
                 CAST(len(regexp_extract_all(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
                 regexp_replace(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS red_text
          FROM s2)
        SELECT doc_id, red_text, n_email, n_phone, n_ipv4,
               (n_email + n_phone + n_ipv4) > 0 AS had_pii
        FROM s3
    """,
    # -- co-mention pairs recomposed from the independent pandas
    #    oracle's mention set (exported fresh by the query itself)
    "kg_comention_edges": f"""
        WITH m AS (SELECT conv_id, subj_mention, obj_mention
                   FROM read_parquet('{_export_path("comention_mentions_golden")}')),
        e AS (
          SELECT DISTINCT conv_id, e FROM (
            SELECT conv_id, subj_mention AS e FROM m
            UNION ALL SELECT conv_id, obj_mention AS e FROM m)),
        p AS (
          SELECT x.e AS a, y.e AS b
          FROM e x JOIN e y ON x.conv_id = y.conv_id AND x.e < y.e)
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_convs
        FROM p GROUP BY a, b HAVING count(*) >= 2
    """,
    # -- the fan-out gate's drop audit: distinct entities per conv,
    #    conversations above the cap surfaced with their counts
    "kg_comention_audit": f"""
        WITH m AS (SELECT conv_id, subj_mention, obj_mention
                   FROM read_parquet('{_export_path("comention_mentions_golden")}')),
        e AS (
          SELECT DISTINCT conv_id, e FROM (
            SELECT conv_id, subj_mention AS e FROM m
            UNION ALL SELECT conv_id, obj_mention AS e FROM m)),
        c AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_entities
              FROM e GROUP BY conv_id)
        SELECT conv_id, n_entities FROM c WHERE n_entities > 20
    """,
    # -- negative sampling: md5 hex-fold draw + ranked-vocab join,
    #    all re-derived in SQL over the exported golden triples/vocab
    "kg_negative_samples": f"""
        WITH t AS (SELECT DISTINCT subj, pred, obj
                   FROM read_parquet('{_export_path("negsamp_triples_golden")}')),
        v AS (SELECT DISTINCT entity_id AS neg_obj
              FROM read_parquet('{_export_path("negsamp_vocab")}')),
        vi AS (SELECT neg_obj,
                      row_number() OVER (ORDER BY neg_obj) - 1 AS vidx
               FROM v),
        n AS (SELECT count(*) AS n FROM v),
        d AS (SELECT subj, pred, obj,
                CAST(list_sum(list_transform(
                    regexp_extract_all(substr(md5(subj || '|' || pred || '|' || obj), 1, 8), '.'),
                    (ch, i) -> (strpos('0123456789abcdef', ch) - 1)
                               * (16 ** (8 - i)))) AS BIGINT) % (SELECT n FROM n) AS vidx
              FROM t)
        SELECT subj, pred, obj, neg_obj, (neg_obj = obj) AS degenerate
        FROM d JOIN vi USING (vidx)
    """,
    # -- latest-assertion-wins view: the same window argmax over the
    #    exported golden triples, ordered by WALL-CLOCK ts (threaded
    #    through the golden pipeline identically) with (conv_id,
    #    turn_idx) as the deterministic same-instant tiebreak
    "kg_current_beliefs": f"""
        WITH t AS (SELECT DISTINCT subj, pred, obj, conv_id, turn_idx, ts
                   FROM read_parquet('{_export_path("kg_triples_golden")}')),
        r AS (SELECT subj, pred, obj, ts, conv_id, turn_idx,
                     row_number() OVER (PARTITION BY subj, pred
                         ORDER BY ts DESC, conv_id DESC, turn_idx DESC, obj DESC) AS rn
              FROM t)
        SELECT subj, pred, obj,
               ts AS last_ts,
               conv_id AS last_conv_id,
               CAST(turn_idx AS BIGINT) AS last_turn_idx
        FROM r WHERE rn = 1
    """,
    # -- time-travel beliefs: identical argmax with the inclusive
    #    cutoff applied BEFORE the window (keys first asserted later
    #    must be absent, not filtered winners)
    "kg_beliefs_asof": f"""
        WITH t AS (SELECT DISTINCT subj, pred, obj, conv_id, turn_idx, ts
                   FROM read_parquet('{_export_path("kg_triples_golden")}')
                   WHERE ts <= TIMESTAMP '2026-01-03 00:00:00'),
        r AS (SELECT subj, pred, obj, ts, conv_id, turn_idx,
                     row_number() OVER (PARTITION BY subj, pred
                         ORDER BY ts DESC, conv_id DESC, turn_idx DESC, obj DESC) AS rn
              FROM t)
        SELECT subj, pred, obj,
               ts AS last_ts,
               conv_id AS last_conv_id,
               CAST(turn_idx AS BIGINT) AS last_turn_idx
        FROM r WHERE rn = 1
    """,
    # -- triangles: three-way self-join over the canonical (string-
    #    sorted) undirected edge set; (a,b),(b,c),(a,c) with a<b<c
    #    enumerates each triangle exactly once
    "graph_triangles": """
        WITH raw AS (
          SELECT 'Q' || CAST(c_custkey AS VARCHAR) AS s,
                 'Q' || CAST(c_custkey + 1 AS VARCHAR) AS d
          FROM customer WHERE c_custkey % 10 != 9
          UNION ALL
          SELECT 'Q' || CAST(c_custkey AS VARCHAR),
                 'Q' || CAST(c_custkey + 2 AS VARCHAR)
          FROM customer WHERE c_custkey % 10 < 8),
        und AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
                FROM raw WHERE s != d)
        SELECT t1.u AS a, t1.v AS b, t2.v AS c
        FROM und t1
        JOIN und t2 ON t2.u = t1.v
        JOIN und t3 ON t3.u = t1.u AND t3.v = t2.v
    """,
    # -- conflict gate: distinct-object count + sorted string-agg
    "kg_conflicts": f"""
        WITH t AS (SELECT DISTINCT subj, pred, obj
                   FROM read_parquet('{_export_path("kg_triples_golden")}'))
        SELECT subj, pred,
               CAST(count(*) AS BIGINT) AS n_objs,
               array_to_string(list_sort(list(obj)), '|') AS objs
        FROM t GROUP BY subj, pred HAVING count(*) >= 2
    """,
    # -- exact grouped quantiles: quantile_cont matches Spark
    #    percentile's linear-interpolation definition
    "a_exact_quantiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    # -- PageRank cells: the query already scored Spark ranks against
    #    the independently-derived python power-iteration golden and
    #    returned (node_id, within_tol); the oracle asserts the
    #    expected verdict -- every golden node within tolerance. A rank
    #    off by > 1e-6, a missing node, or an extra node all
    #    hash-mismatch (within_tol=false / row-count drift).
    "kg_pagerank": f"""
        SELECT node_id, TRUE AS within_tol
        FROM read_parquet('{_export_path("kg_pagerank_golden")}')
    """,
    "kg_ppr": f"""
        SELECT node_id, TRUE AS within_tol
        FROM read_parquet('{_export_path("kg_ppr_golden")}')
    """,
    "kg_ppr_multiseed": f"""
        SELECT seed_set_id, node_id, TRUE AS within_tol
        FROM read_parquet('{_export_path("kg_ppr_multiseed_golden")}')
    """,
    # -- deterministic sampling: DuckDB md5 hex == Spark md5 hex, so
    #    membership replays exactly (no export needed)
    "samp_stratified": """
        SELECT doc_id, lang, source FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'r6'), 1, 6) <
              CASE lang WHEN 'en' THEN '800000'
                        WHEN 'de' THEN '400000'
                        WHEN 'zh' THEN '199999'
                        ELSE '' END
    """,
    # samp_weighted cutoff: every operand is CAST to DOUBLE because
    # DuckDB otherwise types the literals as DECIMAL and evaluates the
    # whole product EXACTLY -- diverging from Spark's IEEE doubles on
    # lengths where (f*len)*space rounds (72 of the first 2000 lengths,
    # r7 review). With doubles on both sides the multiply/min/floor
    # chain is IEEE-correctly-rounded and engine-identical.
    "samp_weighted": """
        SELECT doc_id, lang, length(text) AS text_len FROM documents
        WHERE length(text) > 0
          AND CAST(('0x' || substring(
                md5(CAST(doc_id AS VARCHAR) || 'r7'), 1, 15)) AS BIGINT)
            < CAST(floor(least(CAST(1152921504606846976 AS DOUBLE),
                (CAST(0.002 AS DOUBLE) * length(text))
                  * CAST(1152921504606846976 AS DOUBLE))) AS BIGINT)
    """,
    "samp_reservoir": """
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        WHERE rn <= 25
    """,
    # -- Misra-Gries contract: exact token counts + the total are
    #    re-derived from documents in SQL; the export supplies the
    #    sketch's estimates; the verdict predicate is replayed verbatim
    "sk_heavy_hitters": f"""
        WITH tok AS (
          SELECT unnest({_TOKS}) AS key FROM documents),
        t AS (SELECT key FROM tok WHERE key != ''),
        exact AS (SELECT key, count(*) AS cnt FROM t GROUP BY key),
        tot AS (SELECT count(*) AS n_tot FROM t),
        exp AS (SELECT key, est, max_undercount
                FROM read_parquet('{_export_path("heavy_hitters_mg")}')),
        j AS (SELECT coalesce(exp.key, exact.key) AS key,
                     est, max_undercount, cnt
              FROM exp FULL OUTER JOIN exact ON exp.key = exact.key)
        SELECT key,
               (est IS NOT NULL AND est <= cnt
                AND cnt <= est + max_undercount) AS ok
        FROM j, tot
        WHERE est IS NOT NULL OR cnt >= 0.005 * n_tot
    """,
    # -- HLL distinct check: exact per-language vocabulary re-derived
    #    in SQL, approx side from the export, same 6-sigma + slack
    #    tolerance (tol_mult=6 * rsd=0.05 => 0.3, abs_slack=8)
    "sk_approx_distinct": f"""
        WITH tok AS (
          SELECT lang, unnest({_TOKS}) AS tok FROM documents),
        t AS (SELECT lang, tok FROM tok WHERE tok != ''),
        exact AS (SELECT lang, count(DISTINCT tok) AS exact_nd
                  FROM t GROUP BY lang),
        exp AS (SELECT lang, approx_nd
                FROM read_parquet('{_export_path("approx_distinct_hll")}'))
        SELECT exp.lang,
               CAST(exp.approx_nd AS BIGINT) AS approx_nd,
               CAST(exact.exact_nd AS BIGINT) AS exact_nd,
               (abs(exp.approx_nd - exact.exact_nd)
                <= 0.3 * exact.exact_nd + 8) AS within_tol
        FROM exp JOIN exact ON exp.lang = exact.lang
    """,
    # -- LPA: exact discrete labels from the independent python replay
    "graph_lpa": f"""
        SELECT node_id, label
        FROM read_parquet('{_export_path("graph_lpa_golden")}')
    """,
    # -- GK quantile rank contract: the rank interval of each exported
    #    approx value is recomputed from lineitem in SQL and tested
    #    against the promised band |rank - q*n| <= n/1000 (+1)
    "sk_approx_quantiles": f"""
        WITH exp AS (SELECT l_returnflag, q, approx_val
                     FROM read_parquet('{_export_path("approx_quantiles_gk")}')),
        r AS (
          SELECT exp.l_returnflag, exp.q, exp.approx_val,
                 sum(CASE WHEN li.l_extendedprice < exp.approx_val
                          THEN 1 ELSE 0 END) AS r_low,
                 sum(CASE WHEN li.l_extendedprice <= exp.approx_val
                          THEN 1 ELSE 0 END) AS r_high,
                 count(li.l_extendedprice) AS n
          FROM exp JOIN lineitem li ON li.l_returnflag = exp.l_returnflag
          GROUP BY exp.l_returnflag, exp.q, exp.approx_val)
        SELECT l_returnflag, q, approx_val,
               (r_high >= q * n - (n / 1000.0 + 1)
                AND r_low <= q * n + (n / 1000.0 + 1)) AS within_tol
        FROM r
    """,
}
