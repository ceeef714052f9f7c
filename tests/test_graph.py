"""Graph queries over the materialized KG (degrees, k-hop BFS)."""

from __future__ import annotations

import pandas as pd
import pytest

from wikidata_pq_spark.operators import graph

#      A -> B -> C -> D
#      A -> C          (shortcut)
#      E  isolated-ish: E -> A
EDGES = [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C"), ("E", "A")]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(pd.DataFrame(EDGES, columns=["src_id", "dst_id"]))


def test_degrees(edges):
    d = graph.degrees(edges).toPandas().set_index("node_id")
    assert d.loc["A", "out_deg"] == 2 and d.loc["A", "in_deg"] == 1
    assert d.loc["D", "out_deg"] == 0 and d.loc["D", "in_deg"] == 1
    assert d.loc["E", "in_deg"] == 0 and d.loc["E", "out_deg"] == 1
    assert (d["deg"] == d["out_deg"] + d["in_deg"]).all()


def test_k_hop_min_hop_and_exclusion(edges, spark):
    seeds = spark.createDataFrame(pd.DataFrame({"node_id": ["A"]}))
    got = dict(
        graph.k_hop(edges, seeds, k=2).toPandas()[["node_id", "hop"]].values
    )
    # C is reachable at hop 1 via the shortcut (min-hop, not hop 2 via B)
    assert got == {"B": 1, "C": 1, "D": 2}
    # seed itself excluded; k=1 truncates
    got1 = dict(
        graph.k_hop(edges, seeds, k=1).toPandas()[["node_id", "hop"]].values
    )
    assert got1 == {"B": 1, "C": 1}


def test_k_hop_undirected(edges, spark):
    seeds = spark.createDataFrame(pd.DataFrame({"node_id": ["D"]}))
    got = dict(
        graph.k_hop(edges, seeds, k=2, directed=False).toPandas()[
            ["node_id", "hop"]
        ].values
    )
    assert got == {"C": 1, "B": 2, "A": 2}


def test_k_hop_cyclic_ring_chords_frontier_pruned(spark):
    """Ring 0->1->...->7->0 plus chords 0->4, 2->6: results equal true
    BFS min-hops, and every node is reached exactly once (no
    re-expansion of finalized nodes on a cyclic graph)."""
    ring = [(f"N{i}", f"N{(i + 1) % 8}") for i in range(8)]
    chords = [("N0", "N4"), ("N2", "N6")]
    edges = spark.createDataFrame(
        pd.DataFrame(ring + chords, columns=["src_id", "dst_id"])
    )
    seeds = spark.createDataFrame(pd.DataFrame({"node_id": ["N0"]}))
    out = graph.k_hop(edges, seeds, k=8).toPandas()
    # without the anti-join prune the cycle re-expands old nodes: they
    # come back at later hops (the seed too), as duplicate node_ids
    assert out["node_id"].is_unique
    # true BFS distances from N0 with the chords
    assert dict(out[["node_id", "hop"]].values) == {
        "N1": 1, "N4": 1, "N2": 2, "N5": 2, "N3": 3, "N6": 3, "N7": 4
    }
    # frontiers {N1,N4},{N2,N5},{N3,N6},{N7}, then empty
    assert out["hop"].value_counts().to_dict() == {1: 2, 2: 2, 3: 2, 4: 1}


def test_k_hop_cycle_terminates(spark):
    cyc = spark.createDataFrame(
        pd.DataFrame([("X", "Y"), ("Y", "X")], columns=["src_id", "dst_id"])
    )
    seeds = spark.createDataFrame(pd.DataFrame({"node_id": ["X"]}))
    got = dict(graph.k_hop(cyc, seeds, k=3).toPandas()[["node_id", "hop"]].values)
    # X re-reached at hop 2 but seeds are hop 0 -> min-hop keeps 0, excluded
    assert got == {"Y": 1}


def test_triple_support(spark):
    rows = [
        ("Q1", "likes", "Q2", "c1", 3),
        ("Q1", "likes", "Q2", "c1", 7),
        ("Q1", "likes", "Q2", "c0", 9),
        ("Q3", "knows", "Q4", "c2", 1),
    ]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx"])
    )
    out = graph.triple_support(t).toPandas().set_index("subj")
    assert out.loc["Q1", "n_support"] == 3 and out.loc["Q1", "n_convs"] == 2
    # first sighting = lexicographic (conv_id, turn_idx) min
    assert out.loc["Q1", "first_conv"] == "c0" and out.loc["Q1", "first_turn"] == 9
    assert out.loc["Q3", "n_support"] == 1 and out.loc["Q3", "first_turn"] == 1


def test_comention_edges_pairs(spark):
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    rows = [
        ("c1", "alice", "bob"),
        ("c1", "bob", "carol"),     # c1 entities: alice, bob, carol
        ("c2", "alice", "bob"),     # c2 entities: alice, bob
        ("c3", "dave", "dave"),     # single entity: no pair
    ]
    m = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "subj_mention", "obj_mention"])
    )
    out = graph.comention_edges(m).toPandas()
    got = {(r["a"], r["b"]): r["n_convs"] for _, r in out.iterrows()}
    assert got == {
        ("alice", "bob"): 2,       # c1 and c2
        ("alice", "carol"): 1,     # c1
        ("bob", "carol"): 1,       # c1
    }
    assert graph.comention_edges(m, min_count=2).count() == 1


def test_comention_edges_pathological_conv_capped(spark):
    """A conversation above max_entities_per_conv is dropped WHOLE and
    surfaced in the audit frame -- never silently truncated, never
    allowed to emit its quadratic pair set."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    # c_big: 6 distinct entities (15 pairs); c_ok: 3 entities (3 pairs)
    rows = [("c_big", f"e{i}", f"e{i+1}") for i in range(5)] + [
        ("c_ok", "x", "y"),
        ("c_ok", "y", "z"),
    ]
    m = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "subj_mention", "obj_mention"])
    )
    edges, audit = graph.comention_edges(
        m, max_entities_per_conv=5, return_audit=True
    )
    epd = edges.toPandas()
    # only c_ok's 3 pairs survive; none of c_big's entities appear
    assert len(epd) == 3
    assert not epd["a"].str.startswith("e").any()
    apd = audit.toPandas()
    assert len(apd) == 1
    assert apd.iloc[0]["conv_id"] == "c_big"
    assert apd.iloc[0]["n_entities"] == 6
    # cap high enough: identical to the ungated result, empty audit
    all_edges, empty_audit = graph.comention_edges(
        m, max_entities_per_conv=100, return_audit=True
    )
    assert all_edges.count() == 15 + 3
    assert empty_audit.count() == 0


def test_rank_index_matches_global_window(spark):
    """Distributed two-pass rank == the single-partition global
    row_number it replaces, for any range-partition balance."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wikidata_pq_spark.operators import graph

    vals = [f"v{i:03d}" for i in range(97)]  # prime count: uneven ranges
    df = spark.createDataFrame(pd.DataFrame({"k": vals}).sample(frac=1.0, random_state=7))
    got = graph.rank_index(df, "k", n_parts=8).toPandas()
    old = (
        df.withColumn("vidx", F.row_number().over(Window.orderBy("k")) - 1)
        .toPandas()
    )
    merged = got.merge(old, on="k", suffixes=("_new", "_old"))
    assert len(merged) == 97
    assert (merged["vidx_new"] == merged["vidx_old"]).all()
    # degenerate: fewer rows than partitions still yields dense 0-based
    tiny = spark.createDataFrame(pd.DataFrame({"k": ["b", "a"]}))
    tpd = graph.rank_index(tiny, "k", n_parts=16).toPandas().set_index("k")
    assert tpd.loc["a", "vidx"] == 0 and tpd.loc["b", "vidx"] == 1


def test_negative_samples_deterministic(spark):
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    t = spark.createDataFrame(pd.DataFrame(
        [("Q1", "likes", "Q2"), ("Q3", "knows", "Q4")],
        columns=["subj", "pred", "obj"]))
    ents = spark.createDataFrame(pd.DataFrame(
        {"entity_id": ["Q1", "Q2", "Q3", "Q4", "Q5"]}))
    a = graph.negative_samples(t, ents).toPandas().sort_values("subj").reset_index(drop=True)
    b = graph.negative_samples(t, ents).toPandas().sort_values("subj").reset_index(drop=True)
    assert a.equals(b)  # same draw every run (content-hashed, no rand())
    assert set(a["neg_obj"]) <= {"Q1", "Q2", "Q3", "Q4", "Q5"}
    # degenerate flag is consistent with the draw
    assert ((a["neg_obj"] == a["obj"]) == a["degenerate"]).all()


def test_pagerank_matches_numpy_power_iteration(spark):
    """Spark PageRank == dense numpy power iteration (same damping,
    same uniform dangling redistribution) on a graph WITH a dangling
    node and a cycle, to 1e-9."""
    import numpy as np
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    #   0 -> 1, 0 -> 2, 1 -> 2, 2 -> 0, 3 -> 2, and node 4... absent:
    #   dangling = node with no out-edges: 4 via 2 -> 4
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    edf = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src_id", "dst_id"])
    )
    got = (
        graph.pagerank(edf, damping=0.85, iters=20)
        .toPandas().set_index("node_id")["rank"].sort_index()
    )

    n, d = 5, 0.85
    out = {0: [1, 2], 1: [2], 2: [0, 4], 3: [2], 4: []}
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        nxt = np.zeros(n)
        dangling = sum(r[u] for u in out if not out[u])
        for u, vs in out.items():
            for v in vs:
                nxt[v] += r[u] / len(vs)
        r = (1 - d) / n + d * dangling / n + d * nxt
    for i in range(n):
        assert abs(got[i] - round(r[i], 8)) < 1e-9
    # ranks form a distribution (dangling mass conserved)
    assert abs(got.sum() - 1.0) < 1e-6


def test_pagerank_uniform_on_symmetric_cycle(spark):
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    ring = [(i, (i + 1) % 6) for i in range(6)]
    edf = spark.createDataFrame(pd.DataFrame(ring, columns=["src_id", "dst_id"]))
    out = graph.pagerank(edf, iters=15).toPandas()
    # ranks are rounded to 8 dp on output; 1/6 rounds with 3.3e-9 error
    assert (abs(out["rank"] - 1.0 / 6) < 1e-8).all()


def test_negative_samples_empty_vocab_raises(spark):
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    t = spark.createDataFrame(pd.DataFrame(
        [("Q1", "likes", "Q2")], columns=["subj", "pred", "obj"]))
    empty = spark.createDataFrame([], schema="entity_id string")
    import pytest
    with pytest.raises(ValueError, match="empty entity vocabulary"):
        graph.negative_samples(t, empty)


def test_pagerank_empty_graph_raises(spark):
    import pandas as pd
    import pytest

    from wikidata_pq_spark.operators import graph

    empty = spark.createDataFrame([], schema="src_id string, dst_id string")
    with pytest.raises(ValueError, match="empty edge frame"):
        graph.pagerank(empty)


def test_personalized_pagerank_matches_numpy(spark):
    """Seed-restart PageRank == numpy reference (restart AND dangling
    mass return to the seed set) to 1e-9; mass concentrates near seeds."""
    import numpy as np
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (5, 0)]  # 4 dangles
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src_id", "dst_id"]))
    seeds = spark.createDataFrame(pd.DataFrame({"node_id": [0]}))
    got = (
        graph.pagerank(edf, damping=0.85, iters=20, seeds=seeds)
        .toPandas().set_index("node_id")["rank"].sort_index()
    )

    n, d = 6, 0.85
    out = {0: [1], 1: [2], 2: [3, 4], 3: [0], 4: [], 5: [0]}
    restart = np.zeros(n); restart[0] = 1.0
    r = restart.copy()
    for _ in range(20):
        nxt = np.zeros(n)
        dangling = sum(r[u] for u in out if not out[u])
        for u, vs in out.items():
            for v in vs:
                nxt[v] += r[u] / len(vs)
        r = (1 - d) * restart + d * dangling * restart + d * nxt
    for i in range(n):
        assert abs(got[i] - round(r[i], 8)) < 1e-9
    assert abs(got.sum() - 1.0) < 1e-6
    # seed-biased: node 0 outranks the far node 5 (which only feeds in)
    assert got[0] > got[5]


def test_personalized_pagerank_empty_seeds_raises(spark):
    import pandas as pd
    import pytest

    from wikidata_pq_spark.operators import graph

    edf = spark.createDataFrame(
        pd.DataFrame([(0, 1)], columns=["src_id", "dst_id"]))
    empty = spark.createDataFrame([], schema="node_id long")
    with pytest.raises(ValueError, match="empty seed set"):
        graph.pagerank(edf, seeds=empty)


def test_current_beliefs_latest_wins_wall_clock(spark):
    """Default ordering is wall-clock ts: a LEXICOGRAPHICALLY-earlier
    conversation with a LATER timestamp wins (the exact case the old
    (conv_id, turn_idx) default got wrong)."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    rows = [
        ("Q1", "lives_in", "paris", "c1", 2, "2024-01-02 10:00:00"),
        ("Q1", "lives_in", "berlin", "c1", 9, "2024-01-02 18:00:00"),
        # lexicographically-earlier conv, wall-clock LATEST assertion
        ("Q1", "lives_in", "tokyo", "c0", 5, "2024-03-01 09:00:00"),
        ("Q2", "works_at", "acme", "c3", 1, "2024-01-01 08:00:00"),
    ]
    t = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx", "ts"]
        ).assign(ts=lambda d: pd.to_datetime(d["ts"]))
    )
    out = graph.current_beliefs(t).toPandas().set_index(["subj", "pred"])
    assert out.loc[("Q1", "lives_in"), "obj"] == "tokyo"
    assert out.loc[("Q1", "lives_in"), "last_conv_id"] == "c0"
    assert out.loc[("Q1", "lives_in"), "last_turn_idx"] == 5
    assert str(out.loc[("Q1", "lives_in"), "last_ts"]).startswith("2024-03-01")
    assert out.loc[("Q2", "works_at"), "obj"] == "acme"
    assert len(out) == 2  # one belief per (subj, pred)


def test_current_beliefs_lexicographic_opt_in_and_guard(spark):
    """ts-less frames: the old (conv_id, turn_idx) ordering is an
    explicit opt-in; the default loudly refuses rather than silently
    mis-ordering. Provenance columns derive from order_cols."""
    import pandas as pd
    import pytest

    from wikidata_pq_spark.operators import graph

    rows = [
        ("Q1", "lives_in", "paris", "c1", 2),
        ("Q1", "lives_in", "berlin", "c1", 9),   # later turn, same conv
        ("Q1", "lives_in", "tokyo", "c0", 5),    # earlier conv
        ("Q2", "works_at", "acme", "c3", 1),
    ]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx"])
    )
    with pytest.raises(ValueError, match="order_cols \\['ts'\\] not in"):
        graph.current_beliefs(t)
    out = (
        graph.current_beliefs(t, order_cols=("conv_id", "turn_idx"))
        .toPandas()
        .set_index(["subj", "pred"])
    )
    assert out.loc[("Q1", "lives_in"), "obj"] == "berlin"
    assert out.loc[("Q1", "lives_in"), "last_conv_id"] == "c1"
    assert out.loc[("Q1", "lives_in"), "last_turn_idx"] == 9
    assert len(out) == 2


def test_conflicting_assertions(spark):
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    rows = [
        ("Q1", "lives_in", "paris", "c1", 2),
        ("Q1", "lives_in", "berlin", "c2", 1),
        ("Q1", "lives_in", "paris", "c3", 4),    # repeat, not a new conflict
        ("Q2", "works_at", "acme", "c3", 1),     # unconflicted
    ]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx"])
    )
    out = graph.conflicting_assertions(t).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["subj"], r["pred"], r["n_objs"], r["objs"]) == (
        "Q1", "lives_in", 2, "berlin|paris"
    )


def test_personalized_pagerank_absent_seed_mass_conserved(spark):
    """A seed absent from the graph is excluded from the restart
    normalizer -- mass still sums to 1 (the leak the unified restart
    vector guards against); seeds fully disjoint from the graph raise."""
    import pandas as pd
    import pytest

    from wikidata_pq_spark.operators import graph

    edf = spark.createDataFrame(
        pd.DataFrame([(0, 1), (1, 0)], columns=["src_id", "dst_id"]))
    seeds = spark.createDataFrame(pd.DataFrame({"node_id": [0, 99]}))  # 99 absent
    out = graph.pagerank(edf, iters=10, seeds=seeds).toPandas()
    assert abs(out["rank"].sum() - 1.0) < 1e-6
    disjoint = spark.createDataFrame(pd.DataFrame({"node_id": [99]}))
    with pytest.raises(ValueError, match="no seed node appears"):
        graph.pagerank(edf, seeds=disjoint)


def test_multi_seed_ppr_matches_sequential(spark):
    """One-pass multi-seed PPR == the independent python power
    iteration run per set (oracle.pagerank_reference), to the 8-dp
    output rounding of both sides; the shared-edge-join formulation
    must not leak mass between sets."""
    import pandas as pd

    from wikidata_pq_spark import oracle
    from wikidata_pq_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (5, 0), (4, 5), (1, 5)]
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src_id", "dst_id"]))
    sets = {"sA": [0], "sB": [2, 4], "sC": [5, 1, 3]}
    ssdf = spark.createDataFrame(
        pd.DataFrame(
            [(k, v) for k, vs in sets.items() for v in vs],
            columns=["seed_set_id", "node_id"],
        )
    )
    multi = (
        graph.multi_seed_ppr(edf, ssdf, damping=0.85, iters=15)
        .toPandas()
        .set_index(["seed_set_id", "node_id"])["rank"]
    )
    assert len(multi) == 3 * 6
    edges_pd = pd.DataFrame(edges, columns=["subj", "obj"])
    for k, vs in sets.items():
        ref = oracle.pagerank_reference(
            edges_pd, damping=0.85, iters=15, seeds=vs
        ).set_index("node_id")["ref_rank"]
        assert len(ref) == 6
        for node in ref.index:
            assert abs(multi[(k, node)] - ref[node]) < 1.1e-8, (k, node)
        assert abs(multi[k].sum() - 1.0) < 1e-6


def test_multi_seed_ppr_guards(spark):
    """A seed set with no graph overlap raises (naming the set); an
    empty seed frame raises."""
    import pandas as pd
    import pytest as _pt

    from wikidata_pq_spark.operators import graph

    edf = spark.createDataFrame(
        pd.DataFrame([(0, 1), (1, 0)], columns=["src_id", "dst_id"])
    )
    ss = spark.createDataFrame(
        pd.DataFrame(
            {"seed_set_id": ["ok", "ghost"], "node_id": [0, 99]}
        )
    )
    with _pt.raises(ValueError, match="ghost"):
        graph.multi_seed_ppr(edf, ss)
    with _pt.raises(ValueError, match="empty seed_sets"):
        graph.multi_seed_ppr(edf, ss.filter("node_id < 0"))


def test_current_beliefs_as_of_time_travel(spark):
    """r6: as_of answers "what did the KG believe at T" -- later
    assertions are invisible, a key FIRST asserted after T has no
    belief yet (the filter precedes the argmax), and the cutoff is
    inclusive. as_of without a ts column refuses loudly."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    rows = [
        ("Q1", "lives_in", "paris", "c1", 2, "2024-01-02 10:00:00"),
        ("Q1", "lives_in", "tokyo", "c0", 5, "2024-03-01 09:00:00"),
        # Q2's only assertion is AFTER the cutoff
        ("Q2", "works_at", "acme", "c3", 1, "2024-02-01 08:00:00"),
        # exactly AT the cutoff: inclusive
        ("Q3", "ceo_of", "initech", "c4", 0, "2024-01-15 00:00:00"),
    ]
    t = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx", "ts"]
        ).assign(ts=lambda d: pd.to_datetime(d["ts"]))
    )
    out = (
        graph.current_beliefs(t, as_of="2024-01-15 00:00:00")
        .toPandas()
        .set_index(["subj", "pred"])
    )
    assert out.loc[("Q1", "lives_in"), "obj"] == "paris"  # tokyo is future
    assert ("Q2", "works_at") not in out.index  # no belief yet at T
    assert out.loc[("Q3", "ceo_of"), "obj"] == "initech"  # inclusive
    assert len(out) == 2
    # full-corpus view unchanged by the feature
    full = graph.current_beliefs(t).toPandas()
    assert len(full) == 3
    with pytest.raises(ValueError, match="as_of requires a ts"):
        graph.current_beliefs(
            t.drop("ts"),
            order_cols=("conv_id", "turn_idx"),
            as_of="2024-01-15",
        )


def _brute_triangles(pairs):
    """Independent reference: brute-force triangle enumeration."""
    from itertools import combinations

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in und for n in e})
    return {
        (a, b, c)
        for a, b, c in combinations(nodes, 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    }


def test_triangles_exact_vs_bruteforce(spark):
    """Degree-ordered triangle enumeration == brute force on a messy
    graph: duplicate edges, both orientations of the same edge,
    self-loops, and a hub node (skew) all handled; each triangle
    emitted exactly once, sorted (a, b, c)."""
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    pairs = [
        ("A", "B"), ("B", "C"), ("C", "A"),          # triangle ABC
        ("C", "B"),                                   # reversed dup
        ("A", "A"),                                   # self-loop
        ("C", "D"), ("D", "E"), ("E", "C"),          # triangle CDE
        ("H", "A"), ("H", "B"), ("H", "C"), ("H", "D"),  # hub
        ("H", "E"), ("H", "F"), ("F", "G"),          # hub + tail
        ("A", "B"),                                   # exact dup
    ]
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src_id", "dst_id"])
    )
    got = {
        tuple(r) for r in graph.triangles(df).toPandas().itertuples(index=False)
    }
    exp = _brute_triangles(pairs)
    assert got == exp
    assert ("A", "B", "C") in got and ("C", "D", "E") in got
    # hub closes a triangle with every adjacent edge among its neighbors
    assert ("A", "B", "H") in got


def test_triangles_random_graph_property(spark):
    """Erdos-Renyi spot check: 60 nodes, p=0.12 -- implementation
    matches the independent brute force on a graph with hundreds of
    wedges and no structure to hide behind."""
    import numpy as np
    import pandas as pd

    from wikidata_pq_spark.operators import graph

    rng = np.random.default_rng(7)
    n = 60
    pairs = [
        (f"n{i:02d}", f"n{j:02d}")
        for i in range(n)
        for j in range(i + 1, n)
        if rng.random() < 0.12
    ]
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src_id", "dst_id"])
    )
    got = {
        tuple(r) for r in graph.triangles(df).toPandas().itertuples(index=False)
    }
    exp = _brute_triangles(pairs)
    assert got == exp and len(exp) > 20


# ---------------------------------------------------------------------------
# label propagation (r6)
# ---------------------------------------------------------------------------


def test_lpa_matches_python_reference_messy_graph(spark):
    """Spark LPA == the independent python replay on a messy graph:
    two dense blobs bridged by one edge, a chain, self-loops and
    duplicate/reversed edges."""
    import pandas as pd

    from wikidata_pq_spark import oracle as kg_oracle
    from wikidata_pq_spark.operators import graph

    pairs = set()
    blob1 = [f"A{i}" for i in range(6)]
    blob2 = [f"B{i}" for i in range(5)]
    for blob in (blob1, blob2):
        for i, u in enumerate(blob):
            for v in blob[i + 1 :]:
                pairs.add((u, v))
    pairs.add(("A0", "B0"))                      # bridge
    pairs |= {("C0", "C1"), ("C1", "C2"), ("C2", "C3")}  # chain
    edges = list(pairs) + [("A1", "A0"), ("A0", "A0"), ("A0", "A1")]
    sdf = spark.createDataFrame(edges, "src_id string, dst_id string")
    got = {
        (r.node_id, r.label)
        for r in graph.label_propagation(sdf, iters=8).collect()
    }
    ref = kg_oracle.lpa_reference(
        pd.DataFrame(edges, columns=["subj", "obj"]), iters=8
    )
    want = set(zip(ref["node_id"], ref["label"]))
    assert got == want


def test_lpa_two_cliques_form_two_communities(spark):
    """Two 5-cliques joined by a single bridge keep distinct labels,
    and each clique is internally uniform."""
    from wikidata_pq_spark.operators import graph

    edges = []
    for prefix in ("X", "Y"):
        ns = [f"{prefix}{i}" for i in range(5)]
        for i, u in enumerate(ns):
            for v in ns[i + 1 :]:
                edges.append((u, v))
    edges.append(("X0", "Y0"))
    sdf = spark.createDataFrame(edges, "src_id string, dst_id string")
    out = graph.label_propagation(sdf, iters=10).collect()
    labels = {r.node_id: r.label for r in out}
    x_labels = {labels[f"X{i}"] for i in range(5)}
    y_labels = {labels[f"Y{i}"] for i in range(5)}
    assert len(x_labels) == 1 and len(y_labels) == 1
    assert x_labels != y_labels


def test_lpa_early_exit_equals_fixed_rounds(spark):
    """Stopping early returns EXACTLY the fixed-round labels of the
    independent python replay, on an oscillating (bipartite path:
    period-2 cycle, both remaining-round parities) and a converging
    (clique: fixed point) graph."""
    from wikidata_pq_spark import oracle as kg_oracle

    # bipartite-ish path graph oscillates under synchronous LPA
    path = [(f"P{i}", f"P{i+1}") for i in range(8)]
    # clique converges to a fixed point quickly
    clique = [
        (f"K{i}", f"K{j}") for i in range(5) for j in range(i + 1, 5)
    ]
    for edges in (path, clique, path + clique):
        sdf = spark.createDataFrame(edges, "src_id string, dst_id string")
        for iters in (7, 10):  # odd and even remaining-round parity
            ref = kg_oracle.lpa_reference(
                pd.DataFrame(edges, columns=["subj", "obj"]), iters=iters
            )
            got = {
                (r.node_id, r.label)
                for r in graph.label_propagation(sdf, iters=iters).collect()
            }
            assert got == set(zip(ref["node_id"], ref["label"])), (iters, len(edges))


def _ring_with_chords(n: int = 64) -> list[tuple[str, str]]:
    """An n-node ring plus a chord i -> i+7 from every 4th node."""
    ring = [(f"R{i}", f"R{(i + 1) % n}") for i in range(n)]
    return ring + [(f"R{i}", f"R{(i + 7) % n}") for i in range(0, n, 4)]


@pytest.mark.classic_session_only
@pytest.mark.parametrize("case", ["cc_chain40", "lpa_ring10"])
def test_keyed_iterate_build_jobs(spark, case):
    """Bounds the Spark jobs a keyed fixpoint launches while its frame
    is built: one eager checkpoint per round, with the change count
    observed on that same job. Before the rounds moved onto
    ``graph.iterate``, which ran a separate convergence action per
    round, distributed CC on the 40-chain launched 74 jobs and LPA
    (iters=10) on the 80-edge ring 120; on ``iterate`` they launch 47
    and 79 (local[4], 4 shuffle partitions)."""
    from wikidata_pq_spark.operators import canonicalize

    if case == "cc_chain40":
        chain = [(f"Q{i}", f"Q{i + 1}") for i in range(1, 41)]
        sdf = spark.createDataFrame(chain, "src_id string, dst_id string")
        build, bound = lambda: canonicalize._distributed_components(sdf), 60
    else:
        sdf = spark.createDataFrame(_ring_with_chords(), "src_id string, dst_id string")
        build, bound = lambda: graph.label_propagation(sdf, iters=10), 100
    sc = spark.sparkContext
    group = f"build_{case}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= bound
