"""Dedup operator family: exact, Jaccard, MinHash-LSH, SimHash."""

from __future__ import annotations

import pandas as pd
import pytest

from wikidata_pq_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en"),  # near dup
        (3, "completely different text about spark engines", "en"),
        (4, "der schnelle braune fuchs springt", "de"),
        (5, "the quick brown fox jumps over the lazy dog", "de"),  # dup, other block
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def test_exact_dedup(docs):
    out = dedup.exact_dup_groups(docs).toPandas()
    dup_group = out[out["n_dupes"] == 3]
    assert len(dup_group) == 1
    assert dup_group["keep_id"].iloc[0] == 0
    assert out["n_dupes"].sum() == 6


def test_token_jaccard_pairs(docs):
    out = dedup.token_jaccard_pairs(docs, threshold=0.7, block_col="lang").toPandas()
    pairs = set(zip(out["a_id"], out["b_id"]))
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs and (1, 2) in pairs  # one-token swap
    assert all(a < b for a, b in pairs)
    # cross-block pair (0,5) must NOT appear (blocked)
    assert (0, 5) not in pairs
    ident = out[(out["a_id"] == 0) & (out["b_id"] == 1)]
    assert ident["jaccard"].iloc[0] == 1.0


def test_minhash_signatures_shape(docs):
    sig = dedup.minhash_signatures(docs, n_hashes=16).toPandas()
    assert all(len(s) == 16 for s in sig["sig"])
    # identical docs -> identical signatures
    s = {i: list(v) for i, v in zip(sig["id"], sig["sig"])}
    assert s[0] == s[1] == s[5]
    assert s[0] != s[3]


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    cand = dedup.minhash_lsh_candidates(docs, n_hashes=32, n_bands=8).toPandas()
    pairs = set(zip(cand["a_id"], cand["b_id"]))
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 5) in pairs  # LSH is not blocked by lang
    assert (3, 4) not in pairs  # unrelated docs shouldn't collide in all bands


def test_simhash_identical_and_near(docs):
    sigs = dedup.simhash64(docs).toPandas()
    s = dict(zip(sigs["doc_id"], sigs["simhash"]))
    assert s[0] == s[1] == s[5]
    pairs_df = dedup.simhash_near_pairs(docs, max_hamming=6)
    pairs = set(zip(*(lambda p: (p["a_id"], p["b_id"]))(pairs_df.toPandas())))
    assert (0, 1) in pairs
    ham = pairs_df.toPandas()
    z = ham[(ham["a_id"] == 0) & (ham["b_id"] == 1)]
    assert z["hamming"].iloc[0] == 0


def test_ngram_jaccard_order_sensitivity(spark):
    """Shingle Jaccard separates reorderings that token Jaccard cannot:
    identical token BAGS in a different order share few 3-gram shingles."""
    rows = [
        (0, "one two three four five six", "en"),
        (1, "one two three four five six", "en"),     # identical
        (2, "six five four three two one", "en"),     # same bag, reversed
        (3, "one two three four five seven", "en"),   # one-token change
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    ng = dedup.ngram_jaccard_pairs(df, threshold=0.3, n=3).toPandas()
    ngp = {(a, b): j for a, b, j in zip(ng["a_id"], ng["b_id"], ng["jaccard"])}
    assert ngp[(0, 1)] == 1.0
    assert (0, 2) not in ngp  # reversed order: zero shared shingles
    assert 0.3 <= ngp[(0, 3)] < 1.0
    # token-level Jaccard scores the reversal 1.0 -- the contrast
    tk = dedup.token_jaccard_pairs(df, threshold=0.9).toPandas()
    tkp = set(zip(tk["a_id"], tk["b_id"]))
    assert (0, 2) in tkp


def test_ngram_jaccard_short_docs_dropped(spark):
    rows = [(0, "only two", "en"), (1, "only two", "en")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    out = dedup.ngram_jaccard_pairs(df, threshold=0.1, n=3).toPandas()
    assert len(out) == 0  # < n tokens -> no shingles -> no pairs


def test_near_dup_pairs_composition(docs):
    """LSH candidates -> exact-Jaccard verify: result is exactly the
    LSH-recalled subset of the unblocked exact operator, with identical
    jaccard values -- the verify stage adds no false positives."""
    out = dedup.near_dup_pairs(docs, threshold=0.7).toPandas()
    pairs = {(a, b): j for a, b, j in zip(out["a_id"], out["b_id"], out["jaccard"])}
    assert pairs[(0, 1)] == 1.0  # identical pair survives with exact score
    assert pairs[(0, 5)] == 1.0  # NOT blocked by lang (unlike the blocked helper)
    exact = dedup.token_jaccard_pairs(docs, threshold=0.7, block_col=None).toPandas()
    exact_pairs = {
        (a, b): j for a, b, j in zip(exact["a_id"], exact["b_id"], exact["jaccard"])
    }
    # soundness: every verified pair is a true exact-threshold pair
    for k, j in pairs.items():
        assert exact_pairs[k] == j
    # recall on this corpus: identical docs always collide in every band
    assert {(0, 1), (0, 5), (1, 5)} <= set(pairs)


def test_verify_jaccard_on_given_candidates(docs, spark):
    """The verify stage is deterministic given candidates: feeding it a
    hand-built candidate set returns exactly the qualifying subset."""
    cands = spark.createDataFrame(
        pd.DataFrame({"a_id": [0, 0, 3], "b_id": [1, 3, 4]})
    )
    out = dedup.verify_jaccard_pairs(docs, cands, threshold=0.7).toPandas()
    assert set(zip(out["a_id"], out["b_id"])) == {(0, 1)}


def test_simhash_deterministic(docs):
    a = dedup.simhash64(docs).toPandas().sort_values("doc_id")["simhash"].tolist()
    b = dedup.simhash64(docs).toPandas().sort_values("doc_id")["simhash"].tolist()
    assert a == b


def test_chunk_dup_spans(spark):
    rows = [
        (0, "a b c d e f g h i j"),   # chunk(4): "a b c d","e f g h","i j"
        (1, "a b c d x y z w i j"),   # shares chunk 0 text "a b c d"
        (2, "q r s t u v"),           # unique chunks
        (3, "a b c d e f g h i j"),   # exact dup of 0 -> all 3 chunks dup
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = dedup.chunk_dup_spans(df, width=4).toPandas()
    # "a b c d" in docs 0,1,3 (chunk 0); "i j" in 0,1,3 (chunk 2);
    # "e f g h" in 0,3 only
    by_occ = sorted(out["n_occurrences"])
    assert by_occ == [2, 3, 3]
    assert sorted(out["n_docs"]) == [2, 3, 3]
    # survivor = lexicographic (doc_id, chunk_idx) min -> always doc 0
    assert set(out["keep_doc_id"]) == {0}
    assert sorted(out["keep_chunk_idx"]) == [0, 1, 2]


def test_ngram_contamination(spark):
    corpus = spark.createDataFrame(pd.DataFrame(
        [(1, "alpha beta gamma delta"),      # shares "alpha beta gamma" x2 grams
         (2, "unrelated words entirely here"),
         (3, "beta gamma delta epsilon")],
        columns=["doc_id", "text"]))
    eval_df = spark.createDataFrame(pd.DataFrame(
        [(100, "alpha beta gamma delta epsilon")], columns=["doc_id", "text"]))
    out = dedup.ngram_contamination(corpus, eval_df, n=3).toPandas()
    got = dict(zip(out["doc_id"], out["n_hits"]))
    # doc1 grams: {a b g, b g d} both in eval; doc3: {b g d, g d e} both in eval
    assert got == {1: 2, 3: 2}


def test_curate_corpus_composition(spark):
    """Composed curation: dup drops non-survivors, gates drop
    low-quality/repetitive docs, split labels are deterministic."""
    from wikidata_pq_spark.operators import curation

    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en"),
        (1, "the quick brown fox jumps over the lazy dog today", "en"),  # dup of 0
        (2, "x y x y x y x y x y x y x y x y x y x y", "en"),            # repetitive
        (3, "a clean and quite different piece of text for the corpus", "en"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    out = curation.curate_corpus(df, quality_min=0.0, rep_max=0.5).toPandas()
    ids = set(out["doc_id"])
    assert 1 not in ids          # dedup survivor is doc 0
    assert 0 in ids and 3 in ids
    assert 2 not in ids          # repetition gate
    # determinism: identical text -> identical split
    again = curation.curate_corpus(df, quality_min=0.0, rep_max=0.5).toPandas()
    assert out.sort_values("doc_id").values.tolist() == \
        again.sort_values("doc_id").values.tolist()
    assert set(out["split"]) <= {"train", "val", "test"}


def test_pack_chunks_straddle_and_shards(spark):
    """Hand-computed packing: shard A streams 5+3+4=12 tokens into
    4-token chunks (doc 0 fills chunk 0 and straddles into 1; doc 2
    starts mid-chunk 1 and ends in chunk 1; doc 4 fills chunk 2
    exactly); shard B packs independently from offset 0; an empty doc
    occupies no tokens and pins to its start chunk."""
    import pandas as pd

    from wikidata_pq_spark.operators import curation

    rows = [
        (0, "A", "a b c d e"),        # 5 toks: off 0-4  -> chunks 0..1
        (2, "A", "f g h"),            # 3 toks: off 5-7  -> chunk 1
        (4, "A", "i j k l"),          # 4 toks: off 8-11 -> chunks 2..2
        (1, "B", "x y z"),            # 3 toks: off 0-2  -> chunk 0
        (3, "B", ""),                 # '' -> [''] = 1 token, off 3
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    out = (
        curation.pack_chunks(df, max_len=4)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "start_off"] == 0 and out.loc[0, "n_tokens"] == 5
    assert (out.loc[0, "first_chunk"], out.loc[0, "last_chunk"]) == (0, 1)
    assert (out.loc[2, "first_chunk"], out.loc[2, "last_chunk"]) == (1, 1)
    assert (out.loc[4, "first_chunk"], out.loc[4, "last_chunk"]) == (2, 2)
    assert out.loc[4, "n_chunks"] == 1
    # shard B independent of A
    assert out.loc[1, "start_off"] == 0
    # '' tokenizes to one empty token under the shared tokenizer mirror
    assert out.loc[3, "n_tokens"] == 1 and out.loc[3, "start_off"] == 3


def test_redact_pii_patterns(spark):
    import pandas as pd

    from wikidata_pq_spark.operators import curation

    rows = [
        (0, "mail me at a.b+c@test.org or x@y.io thanks"),
        (1, "call 555-123-4567 and 555 987 6543 today"),
        (2, "server at 192.168.0.1 responded"),
        (3, "nothing sensitive here"),
        # IPv4 embedded in an email's domain: progressive counting
        # attributes it to email ONLY (the class that actually redacted
        # it), so counts reconcile with placeholder occurrences
        (4, "ping a@10.0.0.12.example.com ok"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = curation.redact_pii(df).toPandas().set_index("doc_id")
    assert out.loc[0, "n_email"] == 2 and "<EMAIL>" in out.loc[0, "red_text"]
    assert "@" not in out.loc[0, "red_text"]
    assert out.loc[1, "n_phone"] == 2 and out.loc[1, "red_text"].count("<PHONE>") == 2
    assert out.loc[2, "n_ipv4"] == 1 and "<IP>" in out.loc[2, "red_text"]
    assert not out.loc[3, "had_pii"]
    assert out.loc[3, "red_text"] == "nothing sensitive here"
    assert out.loc[4, "n_email"] == 1 and out.loc[4, "n_ipv4"] == 0
    assert out.loc[4, "red_text"] == "ping <EMAIL> ok"
    # counts == placeholders, every row
    for did in out.index:
        for cls, tok in (("n_email", "<EMAIL>"), ("n_phone", "<PHONE>"), ("n_ipv4", "<IP>")):
            assert out.loc[did, cls] == out.loc[did, "red_text"].count(tok)


def test_pack_chunks_invariants_random_corpus(spark):
    """Structural invariants on a seeded random corpus: per-shard
    offsets are gapless and ordered, chunk ids derive exactly from the
    offset arithmetic, and shard token totals reconcile."""
    import numpy as np
    import pandas as pd

    from wikidata_pq_spark.operators import curation

    rng = np.random.RandomState(7)
    rows = []
    for did in range(120):
        lang = ["en", "de", "fr"][did % 3]
        n = int(rng.randint(0, 9))
        rows.append((did, lang, " ".join(f"w{i}" for i in range(n))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    L = 7
    out = curation.pack_chunks(df, max_len=L).toPandas()
    for lang, grp in out.groupby("lang"):
        g = grp.sort_values("doc_id").reset_index(drop=True)
        assert g.loc[0, "start_off"] == 0
        for i in range(1, len(g)):
            assert g.loc[i, "start_off"] == g.loc[i - 1, "start_off"] + g.loc[i - 1, "n_tokens"]
        for _, r in g.iterrows():
            assert r["first_chunk"] == r["start_off"] // L
            last = (r["start_off"] + r["n_tokens"] - 1) // L if r["n_tokens"] else r["start_off"] // L
            assert r["last_chunk"] == last
            assert r["n_chunks"] == last - r["first_chunk"] + 1


def test_simhash_vectorized_matches_scalar_reference(spark):
    """The r6 vectorized simhash (np.unique vocab + bulk md5 + gather +
    reduceat segment votes) must be bit-identical to the r5 scalar
    definition: per-token md5[:8] bit votes weighted by frequency,
    sign -> bit, signed int64. Covers empty docs, single-token docs,
    a doc long enough to take the within-doc chunk fallback, and
    unicode tokens."""
    import hashlib

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(50)] + ["café", "über", "42", "!?"]
    texts = [
        " ".join(rng.choice(vocab, size=int(s)))
        for s in rng.integers(1, 40, size=20)
    ]
    texts += ["", None, "one", " ".join(rng.choice(vocab, size=70000))]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf, schema="doc_id long, text string")
    got = dict(
        zip(
            *(lambda d: (d["doc_id"], d["simhash"]))(
                dedup.simhash64(df).toPandas()
            )
        )
    )

    def scalar_sim(txt):
        toks = str(txt or "").lower().split()
        if not toks:
            return 0
        votes = [0] * 64
        for t in toks:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        val = sum(1 << b for b in range(64) if votes[b] > 0)
        return val - (1 << 64) if val >= 1 << 63 else val

    for i, txt in enumerate(texts):
        assert got[i] == scalar_sim(txt), i


def test_minhash_lsh_bucket_cap(spark):
    """max_bucket_size (r6): a boilerplate family larger than the cap
    is excluded from pairwise candidate generation (it belongs to the
    exact-dup operator) and surfaces in the opt-in audit frame; the
    rest of the corpus pairs normally."""
    import pandas as pd

    fam = [f"the same viral boilerplate text everywhere copy {i%2}" for i in range(30)]
    # 30 docs, two exact-texts -> one near-dup family in shared buckets
    other = [
        "completely different first document about spark shuffles",
        "completely different first document about spark shuffles!",
        "an unrelated third text with its own vocabulary entirely",
    ]
    pdf = pd.DataFrame({
        "doc_id": range(len(fam) + len(other)),
        "text": fam + other,
    })
    df = spark.createDataFrame(pdf, schema="doc_id long, text string")

    uncapped = dedup.minhash_lsh_candidates(df, max_bucket_size=10_000)
    pairs_all = {tuple(r) for r in uncapped.collect()}
    capped, audit = dedup.minhash_lsh_candidates(
        df, max_bucket_size=10, return_audit=True
    )
    pairs_capped = {tuple(r) for r in capped.collect()}
    audit_pd = audit.toPandas()
    # the 30-doc family exceeded the cap in at least one band bucket
    assert (audit_pd["n_members"] > 10).all() and len(audit_pd) > 0
    # family pairs are gone; any surviving pairs involve only non-family
    # docs (the near-identical `other` pair may still band together)
    fam_ids = set(range(len(fam)))
    assert all(
        a not in fam_ids and b not in fam_ids for a, b in pairs_capped
    )
    assert pairs_capped <= pairs_all


def test_token_frame_cache_keeps_live_concurrent_session(docs):
    """r6: _LAST_TOKEN_FRAME is keyed per application id so a live
    concurrent session's persisted frame is NOT evicted by this one;
    only slots whose SparkContext is stopped (or unprobeable) drop.
    Only one real SparkContext can exist per process, so the foreign
    sessions are stand-ins exposing exactly the probed attribute chain.
    """
    from types import SimpleNamespace

    def fake_frame(stopped, raises=False):
        def sc():
            if raises:
                raise RuntimeError("dead jvm")
            return SimpleNamespace(isStopped=lambda: stopped)

        return SimpleNamespace(
            sparkSession=SimpleNamespace(
                sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=sc))
            ),
            unpersist=lambda blocking=False: None,
        )

    dedup._LAST_TOKEN_FRAME.clear()
    dedup._LAST_TOKEN_FRAME["app-live"] = fake_frame(stopped=False)
    dedup._LAST_TOKEN_FRAME["app-dead"] = fake_frame(stopped=True)
    dedup._LAST_TOKEN_FRAME["app-gone"] = fake_frame(False, raises=True)
    try:
        dedup.near_dup_pairs(docs, threshold=0.7).count()
        app = docs.sparkSession.sparkContext.applicationId
        assert "app-live" in dedup._LAST_TOKEN_FRAME
        assert "app-dead" not in dedup._LAST_TOKEN_FRAME
        assert "app-gone" not in dedup._LAST_TOKEN_FRAME
        assert app in dedup._LAST_TOKEN_FRAME
    finally:
        dedup._LAST_TOKEN_FRAME.pop("app-live", None)


def test_broadcast_cache_keeps_live_concurrent_session(spark):
    """Same liveness-probe eviction contract for similarity's
    per-(app, matrix) broadcast cache."""
    from types import SimpleNamespace

    import numpy as np

    from wikidata_pq_spark.operators import similarity

    def fake_sc(stopped):
        return SimpleNamespace(
            _jsc=SimpleNamespace(
                sc=lambda: SimpleNamespace(isStopped=lambda: stopped)
            )
        )

    similarity._BROADCAST_CACHE.clear()
    similarity._BROADCAST_CACHE[("other-live", (1,), "x")] = (
        object(), fake_sc(False),
    )
    similarity._BROADCAST_CACHE[("other-dead", (1,), "y")] = (
        object(), fake_sc(True),
    )
    try:
        mat = np.arange(6, dtype=np.float64).reshape(2, 3)
        bc1 = similarity._broadcast_matrix(mat)
        bc2 = similarity._broadcast_matrix(mat)
        assert bc1 is bc2  # same content -> same broadcast, no leak
        keys = set(similarity._BROADCAST_CACHE)
        assert ("other-live", (1,), "x") in keys
        assert ("other-dead", (1,), "y") not in keys
    finally:
        similarity._BROADCAST_CACHE.pop(("other-live", (1,), "x"), None)


@pytest.mark.classic_session_only
def test_spread_small_scan_runs_no_job_and_sets_no_conf(spark, tmp_path, monkeypatch):
    """contracts.spread_small_scan: a one-file parquet scan comes back
    with defaultParallelism partitions, deciding from the file splits
    alone (no Spark job, no session conf write); a scan that is already
    as wide comes back as the same object."""
    from wikidata_pq_spark.contracts import spread_small_scan

    sc = spark.sparkContext
    target = sc.defaultParallelism
    one, wide = str(tmp_path / "one.parquet"), str(tmp_path / "wide.parquet")
    rows = spark.range(100).selectExpr("id AS doc_id", "cast(id AS string) AS text")
    rows.coalesce(1).write.parquet(one)
    rows.repartition(2 * target).write.parquet(wide)
    one_df, wide_df = spark.read.parquet(one), spark.read.parquet(wide)
    assert wide_df.rdd.getNumPartitions() >= target

    conf_writes = []
    real_set = type(spark.conf).set

    def spy_set(self, key, value):
        conf_writes.append(key)
        real_set(self, key, value)

    monkeypatch.setattr(type(spark.conf), "set", spy_set)
    sc.setJobGroup("spread_small_scan", "spread_small_scan")
    try:
        out = spread_small_scan(one_df)
        same = spread_small_scan(wide_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
    # the status tracker is fed by the asynchronous listener bus: drain
    # it so a job that already ran is counted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("spread_small_scan")) == 0
    assert conf_writes == []
    assert out.rdd.getNumPartitions() == target
    assert same is wide_df
    assert sorted(out.toPandas()["doc_id"]) == list(range(100))


def test_prefix_filter_jaccard_equals_quadratic_baseline(docs, spark):
    """EXACT sub-quadratic similarity join (r7, SSJoin/PPJoin family):
    the prefix-filtered result must EQUAL the quadratic unblocked
    baseline pair-for-pair, score-for-score -- at several thresholds
    and on an adversarial corpus (exact dups, near dups, subsets,
    heavy stop-word docs, singleton-token docs)."""
    for t in (0.5, 0.7, 0.9):
        got = {
            (r.a_id, r.b_id, r.jaccard)
            for r in dedup.prefix_filter_jaccard_pairs(docs, t).collect()
        }
        want = {
            (r.a_id, r.b_id, r.jaccard)
            for r in dedup.token_jaccard_pairs(docs, t, block_col=None).collect()
        }
        assert got == want, t

    # adversarial: shared stop-word mass, subset relations, tiny docs
    common = "the of and a to in is it"
    rows = [
        (0, f"{common} alpha beta gamma"),
        (1, f"{common} alpha beta delta"),
        (2, f"{common} alpha beta gamma"),          # exact dup of 0
        (3, common),                                 # all stop words
        (4, f"{common} extra"),                      # superset of 3
        (5, "zeta"),                                 # singleton token
        (6, "zeta"),                                 # identical singleton
        (7, "eta theta iota kappa lambda mu nu xi"),
        (8, f"{common} {common} alpha beta gamma"),  # dup tokens of 0
    ]
    adv = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    for t in (0.3, 0.6, 0.8, 1.0):
        got = {
            (r.a_id, r.b_id, r.jaccard)
            for r in dedup.prefix_filter_jaccard_pairs(adv, t).collect()
        }
        want = {
            (r.a_id, r.b_id, r.jaccard)
            for r in dedup.token_jaccard_pairs(adv, t, block_col=None).collect()
        }
        assert got == want, t
    # sanity anchors at t=0.8: the exact-dup families survive
    got08 = {
        (r.a_id, r.b_id)
        for r in dedup.prefix_filter_jaccard_pairs(adv, 0.8).collect()
    }
    assert {(0, 2), (5, 6), (0, 8), (2, 8)} <= got08


def test_prefix_filter_jaccard_random_corpus_equality(spark):
    """Seeded random corpus (overlapping vocab, varied lengths):
    equality with the quadratic baseline at a mid threshold."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.sample(vocab, rng.randint(3, 20))))
        for i in range(80)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        (r.a_id, r.b_id, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(df, 0.5).collect()
    }
    want = {
        (r.a_id, r.b_id, r.jaccard)
        for r in dedup.token_jaccard_pairs(df, 0.5, block_col=None).collect()
    }
    assert got == want and len(want) > 0


def test_prefix_filter_threshold_validation(docs):
    import pytest as _pt

    with _pt.raises(ValueError, match="threshold"):
        dedup.prefix_filter_jaccard_pairs(docs, 0.0)
    with _pt.raises(ValueError, match="threshold"):
        dedup.prefix_filter_jaccard_pairs(docs, 1.2)


def test_prefix_filter_float_ceil_boundary(spark):
    """r7 fourth review: double(0.55)*100 = 55.000...01, so a naive
    float ceil computes 56 and SHORTENS the prefix by one -- dropping a
    true J=0.55 pair whose only shared prefix token sits exactly at
    position 46. Constructed corpus: A = 45 unique tokens + 55 shared,
    B = the 55 shared tokens (J = 55/100 = 0.55); frequency-ascending
    order puts A's unique (freq-1) tokens first, so A's prefix must
    reach position 46 to touch the first shared token."""
    uniq = " ".join(f"u{i:02d}" for i in range(45))
    shared = " ".join(f"s{i:02d}" for i in range(55))
    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, f"{uniq} {shared}"), (1, shared)],
            columns=["doc_id", "text"],
        )
    )
    got = {
        (r.a_id, r.b_id, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(df, 0.55).collect()
    }
    want = {
        (r.a_id, r.b_id, r.jaccard)
        for r in dedup.token_jaccard_pairs(df, 0.55, block_col=None).collect()
    }
    assert got == want == {(0, 1, 0.55)}
