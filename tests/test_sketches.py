"""Frequency sketches: Misra-Gries guarantees (undercount bound,
threshold completeness, exact at full capacity) and the HLL distinct
check's tolerance verdict."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from wikidata_pq_spark.operators import sketches


@pytest.fixture(scope="module")
def skewed(spark):
    """Zipf-ish token stream: token_0 dominates, long tail of singletons."""
    rows = []
    for i in range(3000):
        if i % 2 == 0:
            rows.append((i, "hot"))
        elif i % 3 == 0:
            rows.append((i, f"warm_{i % 5}"))
        else:
            rows.append((i, f"rare_{i}"))
    return spark.createDataFrame(rows, "row_id long, tok string"), Counter(
        t for _, t in rows
    )


def test_mg_exact_when_capacity_covers_vocab(skewed):
    df, truth = skewed
    out = sketches.heavy_hitters(df, "tok", capacity=10_000, min_share=0.0).collect()
    got = {r.key: r.est for r in out}
    assert got == dict(truth)
    assert all(r.max_undercount == 0 for r in out)
    assert all(r.n_total == sum(truth.values()) for r in out)


def test_mg_bounds_and_completeness_small_capacity(skewed):
    df, truth = skewed
    n = sum(truth.values())
    out = sketches.heavy_hitters(
        df, "tok", capacity=8, min_share=0.01, require_complete=False
    ).collect()
    got = {r.key: (r.est, r.max_undercount) for r in out}
    # undercount bound: est <= true <= est + max_undercount
    for k, (est, mu) in got.items():
        assert est <= truth[k] <= est + mu, (k, est, mu, truth[k])
    # completeness: every key at/above the share threshold is present
    for k, c in truth.items():
        if c >= 0.01 * n:
            assert k in got, (k, c)
    # and the dominant key's estimate is near-exact
    assert got["hot"][0] >= truth["hot"] - got["hot"][1]


def test_mg_null_keys_excluded(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)], "row_id long, tok string"
    )
    out = sketches.heavy_hitters(df, "tok", capacity=10, min_share=0.0).collect()
    assert {r.key: r.est for r in out} == {"a": 2}
    assert all(r.n_total == 2 for r in out)


def test_mg_compact_unit():
    c = Counter({"a": 10, "b": 5, "c": 3, "d": 1})
    d = sketches._mg_compact(c, capacity=2)
    assert d == 3
    assert c == Counter({"a": 7, "b": 2})
    assert sketches._mg_compact(c, capacity=2) == 0


def test_approx_quantile_check_verdicts_and_ranks(spark):
    import numpy as np

    vals = [(("g1", float(v))) for v in range(1000)] + [
        ("g2", float(v % 37)) for v in range(500)
    ]
    df = spark.createDataFrame(vals, "grp string, val double")
    out = sketches.approx_quantile_check(
        df, "grp", "val", qs=(0.5, 0.95), accuracy=1000
    ).collect()
    assert len(out) == 4
    assert all(r.within_tol for r in out)
    # at accuracy >= n the GK sketch is near-exact: the q=0.5 value for
    # the uniform 0..999 group must be the true median neighborhood
    med = [r.approx_val for r in out if r.grp == "g1" and abs(r.q - 0.5) < 1e-9][0]
    assert abs(med - 499.5) <= 2


GATE_SF = "/root/testdata/sf0.01"


@pytest.mark.skipif(not __import__("os").path.exists(GATE_SF), reason="no testdata")
def test_contract_cells_verdicts_all_true(spark):
    """The sk_* contract cells replay the verdict predicate on both
    engines, so a hash match alone would not catch an all-false
    verdict; pin all-true here (the pagerank-cell discipline)."""
    from wikidata_pq_spark import contracts

    hh = contracts.q_sk_heavy_hitters(spark, GATE_SF).collect()
    assert hh and all(r.ok for r in hh)
    ad = contracts.q_sk_approx_distinct(spark, GATE_SF).collect()
    assert ad and all(r.within_tol for r in ad)
    aq = contracts.q_sk_approx_quantiles(spark, GATE_SF).collect()
    assert aq and all(r.within_tol for r in aq)


def test_approx_distinct_check_all_within_tol(spark):
    rows = [(f"g{i % 4}", f"v{i % (50 + i % 3)}") for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = sketches.approx_distinct_check(df, "grp", "val").collect()
    assert len(out) == 4
    assert all(r.within_tol for r in out)
    # exact side really is exact
    truth = {}
    for g, v in rows:
        truth.setdefault(g, set()).add(v)
    for r in out:
        assert r.exact_nd == len(truth[r.grp])


def test_mg_refuses_statically_unsound_capacity(spark):
    df = spark.createDataFrame([(1, "a")], "row_id long, tok string")
    with pytest.raises(ValueError, match="require_complete"):
        sketches.heavy_hitters(df, "tok", capacity=8, min_share=0.01)


def test_approx_quantile_check_ignores_null_values(spark):
    """percentile_approx skips NULL values; the rank contract must
    compute its target rank over non-null values too (r6 review:
    count(*) over a null-heavy column tested the sketch against a
    rank it never promised)."""
    rows = [("g", float(v)) for v in range(1000)] + [("g", None)] * 1000
    df = spark.createDataFrame(rows, "grp string, val double")
    out = sketches.approx_quantile_check(df, "grp", "val", qs=(0.5,)).collect()
    assert len(out) == 1 and out[0].within_tol


def test_mg_partition_invariant_at_full_capacity(skewed):
    """r8: heavy_hitters no longer repartitions its input (the sketch
    pass is transfer-bound, so the exchange cost more than the bought
    parallelism). Pin the property that justifies it: at capacity >=
    vocabulary the output is bit-identical under ANY partitioning, so
    dropping the repartition cannot change results for exact-regime
    callers (the contract cell runs capacity 256 over a 31-word
    vocabulary)."""
    df, truth = skewed
    outs = []
    for n_parts in (1, 3, 16):
        rows = sorted(
            map(
                tuple,
                sketches.heavy_hitters(
                    df.repartition(n_parts), "tok", capacity=10_000, min_share=0.0
                ).collect(),
            )
        )
        outs.append(rows)
    assert outs[0] == outs[1] == outs[2]
    # and the invariant sums behind the window-based merge: undercount
    # 0, n_total == corpus size, estimates exact
    assert all(mu == 0 and nt == sum(truth.values()) for _, _, mu, nt in outs[0])
    assert {k: est for k, est, _, _ in outs[0]} == dict(truth)
