"""Graph queries over the materialized KG (nodes/edges).

Beyond canonicalization (connected components, canonicalize.py), a KG
consumer needs neighborhood, degree and ranking queries:

- degrees: one groupBy per direction (map-side combined).
- iterate: the one round loop of k_hop, PageRank, label propagation
  and distributed CC.
- k_hop: k bounded equi-joins from a seed frontier -- the standard
  distributed BFS expansion. The frontier is deduplicated per hop
  (distinct), so fan-out is bounded by |reachable set| per hop, and k
  is a small constant (2-4 in practice). Edges written with
  ``tableio.write_bucketed_table`` on src make every hop a co-located
  join; the pipeline's chunk-partitioned ``edges`` do not.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def degrees(edges: DataFrame, src: str = "src_id", dst: str = "dst_id") -> DataFrame:
    """(node_id, out_deg, in_deg, deg) -- full outer of the two
    direction counts, nulls coalesced to 0."""
    out_d = edges.groupBy(F.col(src).alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col(dst).alias("node_id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "node_id", "full_outer")
        .select(
            "node_id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0))).alias(
                "deg"
            ),
        )
    )


def iterate(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iter: int,
    key: str | None = None,
) -> DataFrame:
    """The one fixpoint loop: ``step`` over a state frame for at most
    ``max_iter`` rounds. Keyed mode runs Spark jobs, one per round.

    Fixed-round mode (``key=None``) runs exactly ``max_iter`` rounds and
    no job; a lazy ``localCheckpoint`` per round keeps the plan tree
    from doubling when a round reads its input twice.

    Keyed mode: ``init`` has one row per ``key``, and keys never
    disappear between rounds (the joins are inner). A round is one
    eager ``localCheckpoint`` of the new state joined on ``key`` with
    the two previous ones; an ``Observation`` on it counts the rows
    that differ from each. It stops at a fixed point, or at a period-2
    cycle (state(t) == state(t-2)): ``step`` is pure, so the states
    alternate and the one round ``max_iter`` reaches is chosen by
    parity. A monotone step (min-label CC) hits its fixed point first,
    so the rule is exact for it too. Returns (key, *state columns).
    """
    if key is None:
        state = init
        for _ in range(max_iter):
            state = step(state).localCheckpoint(eager=False)
        return state
    cols = [c for c in init.columns if c != key]
    state = init
    # the previous state (_v1) and the one before it (_v2)
    hist = init.select(key, F.struct(*cols).alias("_v1"), F.lit(None).alias("_v2"))
    diff = [
        F.count(F.when(~F.col("_v0").eqNullSafe(F.col(v)), 1)).alias(v)
        for v in ("_v1", "_v2")
    ]
    for i in range(1, max_iter + 1):
        obs = Observation()
        cur = (
            step(state).select(key, F.struct(*cols).alias("_v0"))
            .join(hist, key)
            .observe(obs, *diff)
            .localCheckpoint()
        )
        state, changed = cur.select(key, "_v0.*"), obs.get
        if changed["_v1"] == 0:
            return state
        if changed["_v2"] == 0:
            return state if (max_iter - i) % 2 == 0 else cur.select(key, "_v1.*")
        hist = cur.select(key, F.col("_v0").alias("_v1"), F.col("_v1").alias("_v2"))
    return state


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src: str = "src_id",
    dst: str = "dst_id",
    directed: bool = True,
) -> DataFrame:
    """All nodes reachable from ``seeds(node_id)`` in 1..k hops, with
    the minimum hop count: (node_id, hop).

    Frontier expansion: each hop joins the frontier with the edge table
    once; the reached set accumulates each node at its first hop. Seeds
    are hop 0 and excluded from the output (reachability, not closure).
    Exactly ``k`` fixed rounds of :func:`iterate`.
    """
    e = _khop_edges(edges, src, dst, directed)
    reached = iterate(_khop_init(seeds), partial(_khop_round, e), k)
    return reached.filter(F.col("hop") > 0).select("node_id", "hop")


def _khop_edges(edges: DataFrame, src: str, dst: str, directed: bool) -> DataFrame:
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
    return e.distinct()


def _khop_init(seeds: DataFrame) -> DataFrame:
    """Round-0 state (node_id, hop, _front): the seeds, as frontier."""
    return (
        seeds.select("node_id")
        .distinct()
        .select("node_id", F.lit(0).alias("hop"), F.lit(True).alias("_front"))
    )


def _khop_round(e: DataFrame, reached: DataFrame) -> DataFrame:
    """One BFS hop: the frontier (``_front``) joins the edges, and the
    nodes not reached before become the next frontier."""
    nxt = (
        reached.filter(F.col("_front"))
        .select(F.col("node_id").alias("_s"), "hop")
        .join(e, "_s")
        .select(F.col("_d").alias("node_id"), (F.col("hop") + 1).alias("hop"))
        .distinct()
    )
    # prune: a node whose min-hop is already final must not re-seed
    # the next frontier -- on cyclic graphs the unpruned frontier
    # re-joins the same nodes every hop, and the wasted edge-join
    # volume grows with cycle density at scale. The anti-join keeps
    # each node in exactly one frontier (its min-hop frontier),
    # which is the textbook distributed-BFS invariant.
    fresh = nxt.join(reached.select("node_id"), "node_id", "left_anti")
    return reached.select("node_id", "hop", F.lit(False).alias("_front")).union(
        fresh.select("node_id", "hop", F.lit(True).alias("_front"))
    )


def triple_support(triples: DataFrame) -> DataFrame:
    """Evidence aggregation over the materialized triple stream:
    one row per distinct (subj, pred, obj) with its support count,
    number of distinct source conversations, and the first sighting
    (lexicographic min (conv_id, turn_idx) -- deterministic).

    The provenance rollup a KG consumer ranks assertions by (the
    reference's per-table audit counts, reference: core.py:25-35,
    lifted from storage partitions to semantic triples). One hash
    aggregate on the triple key; min(struct) keeps first-sighting
    selection inside the same pass."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_support"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min(F.struct("conv_id", "turn_idx")).alias("_first"),
        )
        .select(
            "subj", "pred", "obj", "n_support", "n_convs",
            F.col("_first.conv_id").alias("first_conv"),
            F.col("_first.turn_idx").alias("first_turn"),
        )
    )


def comention_edges(
    mentions: DataFrame,
    min_count: int = 1,
    truncate_lineage: bool = True,
    max_entities_per_conv: int = 10_000,
    return_audit: bool = False,
):
    """Entity co-mention edge list: (a, b, n_convs) for entities that
    appear in the same conversation, a < b lexicographically.

    Input: mention rows with (conv_id, subj_mention, obj_mention).
    Shape: distinct (conv_id, entity) -> self equi-join ON conv_id ->
    pair counts. Quadratic only WITHIN a conversation's distinct-entity
    set; the join key is conv_id so skewed conversations are
    AQE-splittable. This is the standard co-occurrence-graph builder
    for entity-embedding training data.

    ``max_entities_per_conv`` bounds the per-conversation fan-out: a
    pathological conversation with 1e5 distinct entities would emit
    1e10 pairs, so conversations above the cap are DROPPED WHOLE (not
    truncated -- a truncated entity set would bias pair counts).
    Auditing the drop is OPT-IN: this builder is lazy (no action runs
    here, so it cannot count-and-warn without forcing a job), and the
    default return is the edge frame alone. Callers that must not lose
    conversations silently pass ``return_audit=True`` and materialize
    the audit frame (conv_id, n_entities) alongside the edges -- the
    driver-checked ``kg_comention_audit`` contract cell does exactly
    this, and any production sink should write both frames. The gate
    is one windowed count over the same conv_id shuffle the self-join
    needs anyway.
    """
    ents = (
        mentions.select(F.col("conv_id"), F.col("subj_mention").alias("e"))
        .unionByName(mentions.select("conv_id", F.col("obj_mention").alias("e")))
        .distinct()
    )
    from pyspark.sql import Window

    ents = ents.withColumn(
        "_n_ents", F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
    )
    # the gated entity frame feeds BOTH self-join legs (and the audit);
    # without truncation the (possibly expensive) upstream mention plan
    # PLUS the windowed count is evaluated once per consumer -- 4x+.
    # Lazy checkpoint AFTER the window pays both exactly once
    # (truncate_lineage=False exists for plan inspection).
    if truncate_lineage:
        ents = ents.localCheckpoint(eager=False)
    audit = (
        ents.filter(F.col("_n_ents") > max_entities_per_conv)
        .groupBy("conv_id")
        .agg(F.first("_n_ents").cast("long").alias("n_entities"))
    )
    kept = ents.filter(F.col("_n_ents") <= max_entities_per_conv)
    a = kept.select("conv_id", F.col("e").alias("a"))
    b = kept.select("conv_id", F.col("e").alias("b"))
    edges = (
        a.join(b, "conv_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_convs"))
        .filter(F.col("n_convs") >= min_count)
    )
    return (edges, audit) if return_audit else edges


def rank_index(
    df: DataFrame, col: str, out_col: str = "vidx", n_parts: int | None = None
) -> DataFrame:
    """Distributed dense 0-based rank of the (distinct) values of
    ``col`` -- the scalable replacement for a global
    ``row_number().over(Window.orderBy(col))``, whose single-partition
    sort serializes the frame through one task.

    Two-pass shape (the textbook distributed ranking):

    1. range-repartition on ``col`` (partition p holds a contiguous,
       ascending value range), lazily checkpointed so both passes see
       the SAME partitioning;
    2. per-partition counts -> cumulative offsets (one tiny driver
       collect, n_parts rows -- metadata, not data);
    3. partition-local rank (window keyed by the partition id, so every
       window partition is ~|df|/n_parts rows) + the broadcast offset.

    global_rank = offset[pid] + local_rank holds for ANY range
    boundaries, so the sampling inside repartitionByRange cannot affect
    correctness -- only balance.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_parts, col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    local = Window.partitionBy("_pid").orderBy(col)
    return ranged.withColumn(
        out_col,
        (F.row_number().over(local) - 1 + F.element_at(off_map, F.col("_pid"))).cast(
            "long"
        ),
    ).drop("_pid")


def negative_samples(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training: each
    (subj, pred, obj) gets a corrupted object drawn by content hash
    from the entity vocabulary.

    The draw index is md5-derived (dual-engine recomputable, unlike
    xxhash64) over the triple key, mod vocabulary size; the vocabulary
    is rank-indexed DISTRIBUTED (``rank_index``: range partitions +
    per-partition offsets -- no single-partition global window, because
    a 100-TB KG's entity vocabulary grows with the data) and broadcast
    for the index equi-join. Degenerate draws (neg == true object) are
    marked, not silently dropped -- the training pipeline decides
    whether to resample or skip.
    """
    vocab = entities.select(F.col("entity_id").alias("neg_obj")).distinct()
    n = vocab.count()  # dimension-table size: driver scalar by design
    if n == 0:
        # Spark `% 0` yields NULL (silently dropping every triple at
        # the index join) where the SQL oracle errors -- fail loudly
        # instead of disagreeing with the contract
        raise ValueError("negative_samples: empty entity vocabulary")
    vocab_idx = rank_index(vocab, "neg_obj")
    # size-gated broadcast (n is already a driver scalar): a hard hint
    # on a growing KG vocabulary would OOM executors at the scale the
    # rank_index rewrite exists for -- AQE never demotes a hard hint,
    # so past the gate the join shuffles on vidx and AQE picks the strategy
    hint = F.broadcast if n <= 5_000_000 else (lambda df: df)
    key = F.concat_ws("|", "subj", "pred", "obj")
    draw = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % n
    ).alias("vidx")
    return (
        triples.select("subj", "pred", "obj", draw)
        .join(hint(vocab_idx), "vidx")
        .select(
            "subj", "pred", "obj", "neg_obj",
            (F.col("neg_obj") == F.col("obj")).alias("degenerate"),
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src_id",
    dst: str = "dst_id",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Iterative PageRank over the entity graph: (node_id, rank).

    The one-seed-set case of :func:`multi_seed_ppr`'s power iteration,
    with a RESTART VECTOR over the seed set:

    - ``seeds is None`` (global PageRank): every node is a seed, so the
      restart is uniform, 1/n per node.
    - ``seeds`` given (personalized PageRank): uniform over the seeds
      PRESENT IN THE GRAPH (absent seeds are excluded from the
      normalizer -- otherwise their share of restart mass would leak
      and ranks stop summing to 1), zero elsewhere. Raises when no
      seed overlaps the graph (an all-zero "ranking" is a bug, not a
      result).

    Dangling nodes (no out-edges) return their mass through the same
    restart vector. Runs exactly ``iters`` rounds: a convergence check
    would add a global aggregate per round.
    """
    e, nodes = _edges_and_nodes(edges, src, dst, "pagerank")
    if seeds is None:
        present = nodes
    else:
        present = seeds.select("node_id").distinct().join(nodes, "node_id", "semi")
        if present.count() == 0:
            raise ValueError(
                "pagerank: empty seed set (no seed node appears in the graph)"
            )
    ranks = _power_iteration(
        e, nodes, present.select(F.lit(0).alias("_set"), "node_id"), damping, iters
    )
    return ranks.select("node_id", "rank")


def multi_seed_ppr(
    edges: DataFrame,
    seed_sets: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src_id",
    dst: str = "dst_id",
    set_col: str = "seed_set_id",
) -> DataFrame:
    """Personalized PageRank for MANY seed sets in one pass:
    (seed_set_id, node_id, rank) -- a production relevance pipeline
    scores hundreds of query sets, and running :func:`pagerank` once
    per set repeats the edge scan, the degree aggregate, and the
    per-iteration edge join S times (r6, VERDICT item 5).

    ``seed_sets`` is (seed_set_id, node_id). Per-set restart vectors
    follow the single-set contract exactly: uniform over the seeds
    PRESENT in the graph, zero elsewhere, and a set with no graph
    overlap raises (an all-zero "ranking" is a bug, not a result).
    """
    e, nodes = _edges_and_nodes(edges, src, dst, "multi_seed_ppr")
    ss = seed_sets.select(F.col(set_col).alias("_set"), "node_id").distinct()
    present = ss.join(nodes, "node_id", "semi").localCheckpoint(eager=False)
    # bounded collects: S rows of set metadata, not data
    in_sets = {r[0] for r in ss.select("_set").distinct().collect()}
    if not in_sets:
        raise ValueError("multi_seed_ppr: empty seed_sets frame")
    ok_sets = {r[0] for r in present.select("_set").distinct().collect()}
    missing = sorted(in_sets - ok_sets)
    if missing:
        raise ValueError(
            "multi_seed_ppr: seed set(s) with no node in the graph: "
            f"{missing[:5]}"
        )
    ranks = _power_iteration(e, nodes, present, damping, iters)
    return ranks.select(F.col("_set").alias(set_col), "node_id", "rank")


def _edges_and_nodes(edges: DataFrame, src: str, dst: str, who: str):
    """(distinct edges (_s, _d), node set (node_id)), both lazily
    checkpointed: every iteration joins the edges, so without it each
    round re-executes the upstream edge plan and its distinct shuffle.
    Raises on an edge frame with no nodes."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("_s").alias("node_id"))
        .union(e.select(F.col("_d").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if nodes.count() == 0:
        raise ValueError(f"{who}: empty edge frame (no nodes)")
    return e, nodes


def _power_iteration(
    e: DataFrame, nodes: DataFrame, present: DataFrame, damping: float, iters: int
) -> DataFrame:
    """The power iteration behind every PageRank variant:
    (_set, node_id, rank rounded to 8 dp).

    ``present`` is (_set, node_id): each set's seeds, all in the graph.
    The rank frame carries the ``_set`` dimension -- O(S x nodes) rows
    -- so each round is ONE edge equi-join on the source node (the edge
    table is scanned once per round, not once per set) plus one
    (set, node) aggregate. Contribution = rank / out_degree shipped
    along each edge, summed per target, then the damping update
    against the set's restart vector ``_r``. Each set's dangling mass
    is a groupBy(_set) aggregate -- S rows, broadcast back into the
    update -- so no round collects to the driver. Exactly ``iters``
    fixed rounds of :func:`iterate`.
    """
    sizes = present.groupBy("_set").agg(F.count(F.lit(1)).alias("_ns"))
    # restart matrix: (set, node) with 1/|seeds_in_graph(set)| on seeds,
    # 0 elsewhere. nodes x sets is the rank frame's own cardinality, so
    # building it via a broadcast cross join adds no new scale class.
    noder = (
        nodes.crossJoin(F.broadcast(sizes))
        .join(
            present.withColumn("_seed", F.lit(True)), ["_set", "node_id"], "left"
        )
        .select(
            "_set",
            "node_id",
            F.when(F.col("_seed"), F.lit(1.0) / F.col("_ns"))
            .otherwise(F.lit(0.0))
            .alias("_r"),
        )
        .localCheckpoint(eager=False)
    )
    # consumed every round: checkpoint so the degree aggregate runs once
    out_deg = (
        e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg")).localCheckpoint(eager=False)
    )
    ranks = iterate(
        noder.select("_set", "node_id", F.col("_r").alias("rank")),
        partial(_pagerank_round, e, out_deg, noder, damping),
        iters,
    )
    return ranks.select("_set", "node_id", F.round("rank", 8).alias("rank"))


def _pagerank_round(
    e: DataFrame, out_deg: DataFrame, noder: DataFrame, damping: float, ranks: DataFrame
) -> DataFrame:
    """One power-iteration round: (_set, node_id, rank) -> the same."""
    with_deg = ranks.join(out_deg, ranks.node_id == out_deg._s, "left")
    dangling = (
        with_deg.filter(F.col("_deg").isNull())
        .groupBy("_set")
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
    )
    contribs = (
        with_deg.filter(F.col("_deg").isNotNull())
        .select(
            "_set",
            F.col("node_id").alias("_s"),
            (F.col("rank") / F.col("_deg")).alias("_c"),
        )
        .join(e, "_s")
        .groupBy("_set", F.col("_d").alias("node_id"))
        .agg(F.sum("_c").alias("_in"))
    )
    # restart + dangling mass both land on the restart vector
    return (
        noder.join(contribs, ["_set", "node_id"], "left")
        .join(F.broadcast(dangling), "_set", "left")
        .select(
            "_set",
            "node_id",
            (
                F.lit(1.0 - damping) * F.col("_r")
                + (F.lit(damping) * F.coalesce(F.col("_dm"), F.lit(0.0)))
                * F.col("_r")
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
    )


def current_beliefs(
    triples: DataFrame,
    order_cols: tuple = ("ts", "conv_id", "turn_idx"),
    as_of=None,
) -> DataFrame:
    """Latest-assertion-wins view of the KG: one row per (subj, pred)
    keeping the assertion that ranks highest under ``order_cols``
    descending (object string as the final deterministic tiebreak).

    The default ordering is WALL-CLOCK recency: triples carry the
    assertion timestamp ``ts`` through the pipeline (extract threads the
    turn's ts), with (conv_id, turn_idx) breaking same-instant ties
    deterministically. Pass ``order_cols=("conv_id", "turn_idx")``
    to opt in to the old lexicographic ordering for ts-less frames
    (truly temporal only when conversation ids sort chronologically).

    Provenance columns are DERIVED from ``order_cols``: the winning
    row's value of each order column is returned as ``last_<col>`` --
    so the output shape always matches the ordering actually used, and
    a ts-ordered frame without conv_id/turn_idx still works.

    The belief-revision / upsert semantics of a living KG -- at scale
    this is the MERGE-INTO read shape: one window per (subj, pred),
    co-located only in a table bucketed on subj
    (``tableio.write_bucketed_table``), not in the pipeline's
    chunk-partitioned ``edges``.

    ``as_of`` (r6) is TIME TRAVEL: restrict to assertions with
    ``ts <= as_of`` before the argmax, answering "what did the KG
    believe at time T" -- the audit query behind belief provenance and
    training-cutoff reproducibility. Accepts anything Spark casts to
    timestamp (datetime or ISO string). Requires a ts column
    regardless of ``order_cols`` (a wall-clock cutoff over a ts-less
    frame is meaningless). The filter lands BEFORE the window, so at
    scale it prunes ts-partitioned storage instead of post-filtering
    winners -- and a (subj, pred) whose every assertion is later than
    ``as_of`` correctly has NO belief yet, which a post-filter would
    get wrong.
    """
    from pyspark.sql import Window

    if as_of is not None:
        if "ts" not in triples.columns:
            raise ValueError(
                "current_beliefs: as_of requires a ts column; got "
                f"{triples.columns}"
            )
        triples = triples.filter(
            F.col("ts") <= F.lit(as_of).cast("timestamp")
        )
    missing = [c for c in order_cols if c not in triples.columns]
    if missing:
        raise ValueError(
            f"current_beliefs: order_cols {missing} not in triples columns "
            f"{triples.columns}; pass order_cols matching your frame "
            "(e.g. ('conv_id', 'turn_idx') for ts-less triples)"
        )
    w = Window.partitionBy("subj", "pred").orderBy(
        *[F.desc(c) for c in order_cols], F.desc("obj")
    )
    return (
        triples.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "subj", "pred", "obj",
            *[F.col(c).alias(f"last_{c}") for c in order_cols],
        )
    )


def conflicting_assertions(triples: DataFrame) -> DataFrame:
    """KG quality gate: (subj, pred) keys asserted with MORE than one
    distinct object, with the conflicting objects joined into one
    deterministic string (sorted, '|'-separated -- a scalar so exact
    oracles can hash it; at scale the list stays distributed).

    One hash aggregate on (subj, pred); map-side combine keeps the
    shuffle proportional to distinct keys, not assertions.
    """
    return (
        triples.groupBy("subj", "pred")
        .agg(
            F.countDistinct("obj").cast("long").alias("n_objs"),
            F.array_join(F.sort_array(F.collect_set("obj")), "|").alias("objs"),
        )
        .filter(F.col("n_objs") >= 2)
    )


def triangles(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Exact triangle enumeration over the undirected graph, via
    DEGREE-ORDERED ORIENTATION (the compact-forward algorithm): each
    undirected edge is oriented from its lower-(degree, id) endpoint
    to its higher one, wedges are built only between a node's
    out-neighbors, and a wedge closes iff its endpoints' oriented edge
    exists. Every triangle is emitted exactly once.

    Why this shape at 100 TB: the naive wedge join fans out
    quadratically in the HOTTEST node's degree (a celebrity entity in
    the co-mention graph = one task materializing deg^2 wedges). Under
    degree orientation no node's OUT-degree exceeds O(sqrt(m)), so the
    wedge count is bounded by sum(out_deg^2) = O(m^1.5) regardless of
    skew -- the hot node's edges all point INTO it and form no wedges
    there. Three hash joins, no window, no driver state; direction of
    the input edges is ignored (self-loops dropped, duplicates
    collapsed).

    Returns (a, b, c) node-id triples, lexicographically sorted within
    each row.

    ``und`` feeds the degree aggregate AND the orientation join, and
    the oriented frame ``o`` feeds BOTH wedge legs plus the closing
    join -- without lineage truncation each consumer would recompute
    the whole upstream derivation (the branch-union recompute trap;
    the plan golden showed the edge scan 6x). ``truncate_lineage=
    False`` exists for plan inspection.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if truncate_lineage:
        und = und.localCheckpoint(eager=False)
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): rank(u) < rank(v) <=> deg(u) < deg(v), ties
    # broken by id -- a strict total order, so orientation is acyclic
    ranked = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"),
            "v",
        )
    )
    fwd = F.struct(F.col("du").alias("d"), F.col("u").alias("n")) < F.struct(
        F.col("dv").alias("d"), F.col("v").alias("n")
    )
    o = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("hi_deg"),
    )
    if truncate_lineage:
        o = o.localCheckpoint(eager=False)
    # wedges lo -> {x, y} with rank(x) < rank(y); the closing edge, if
    # present, is oriented x -> y by rank transitivity
    e1 = o.select(
        F.col("lo"), F.col("hi").alias("x"), F.col("hi_deg").alias("xd")
    )
    e2 = o.select(
        F.col("lo"), F.col("hi").alias("y"), F.col("hi_deg").alias("yd")
    )
    wedges = e1.join(e2, "lo").filter(
        F.struct(F.col("xd").alias("d"), F.col("x").alias("n"))
        < F.struct(F.col("yd").alias("d"), F.col("y").alias("n"))
    )
    closing = o.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    srt = F.array_sort(F.array("lo", "x", "y"))
    return tri.select(
        srt[0].alias("a"), srt[1].alias("b"), srt[2].alias("c")
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 10,
    src: str = "src_id",
    dst: str = "dst_id",
) -> DataFrame:
    """Runs Spark jobs before it returns, one per round: deterministic
    synchronous label propagation, (node_id, label) community
    assignments over the undirected graph.

    Classic LPA is run-order dependent; this variant is a pure
    function of the graph so it is oracle-checkable and stable across
    partitionings: every node starts labeled with its own id, and each
    SYNCHRONOUS round relabels every node with its neighbors' majority
    label, ties broken by MINIMUM label (so the winner is unique and
    engine-independent). The result is exactly the round-``iters``
    labels: :func:`iterate`'s keyed mode stops at a fixed point or a
    period-2 cycle (synchronous LPA oscillates on bipartite-ish graphs)
    and picks the round-``iters`` state by parity. Every node has a
    neighbor, so it keeps a row every round, as keyed mode needs.

    Scale shape per round: one equi-join of the label frame (O(nodes))
    against the undirected edge frame on the neighbor key, one
    (node, label) count aggregate, one per-node argmax via
    min(struct(-count, label)) -- map-side combinable, never a window
    over whole partitions. The edge frame is checkpointed once.
    """
    und = _lpa_edges(edges, src, dst).localCheckpoint(eager=False)
    return iterate(_lpa_init(und), partial(_lpa_round, und), iters, key="node_id")


def _lpa_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edges (_u, _v), both directions, self-loops dropped."""
    fwd = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    rev = edges.select(F.col(dst).alias("_u"), F.col(src).alias("_v"))
    return fwd.union(rev).where(F.col("_u") != F.col("_v")).distinct()


def _lpa_init(und: DataFrame) -> DataFrame:
    """Round-0 labels (node_id, label): every node labeled with its id."""
    return (
        und.select(F.col("_u").alias("node_id"))
        .distinct()
        .select("node_id", F.col("node_id").alias("label"))
    )


def _lpa_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous round: each node takes its neighbors' majority
    label, ties to the minimum label."""
    votes = und.join(
        labels.select(F.col("node_id").alias("_v"), "label"), "_v"
    ).select(F.col("_u").alias("node_id"), "label")
    counts = votes.groupBy("node_id", "label").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        counts.groupBy("node_id")
        .agg(F.min(F.struct((-F.col("_cnt")).alias("_neg"), F.col("label"))).alias("_w"))
        .select("node_id", F.col("_w.label").alias("label"))
    )
