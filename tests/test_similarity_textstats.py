"""Similarity search, text stats, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wikidata_pq_spark.operators import multimodal, similarity, textstats


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    vecs[1] = vecs[0] * 2.0  # same direction as 0 -> cosine 1
    pdf = pd.DataFrame(
        {
            "vec_id": range(50),
            "embedding": [v.tolist() for v in vecs],
            "label": [i % 3 for i in range(50)],
        }
    )
    return spark.createDataFrame(pdf), vecs


def test_brute_force_topk_matches_numpy(emb):
    df, vecs = emb
    got = similarity.brute_force_topk(df, n_queries=3, k=4).toPandas()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf
        order = np.lexsort((np.arange(50), -s))[:4]
        mine = got[got["query_id"] == q].sort_values("rank")["neighbor_id"].tolist()
        assert mine == list(order)


def test_brute_force_finds_codirectional(emb):
    df, _ = emb
    got = similarity.brute_force_topk(df, n_queries=1, k=1).toPandas()
    assert got.iloc[0]["neighbor_id"] == 1  # vec 1 is colinear with vec 0


def test_lsh_topk_subset_semantics(emb):
    df, _ = emb
    got = similarity.lsh_topk(df, n_queries=3, k=4, n_planes=2, dim=8).toPandas()
    # ranks are dense starting at 1 per query
    for q, grp in got.groupby("query_id"):
        assert grp["rank"].tolist() == list(range(1, len(grp) + 1))
    # colinear vectors always share every hyperplane bucket
    q0 = got[got["query_id"] == 0]
    assert 1 in set(q0["neighbor_id"])


def test_embedding_dup_pairs(emb):
    df, _ = emb
    # label blocks: 0 and 1 differ in label (0%3=0, 1%3=1) -> block them together
    out = similarity.embedding_dup_pairs(df, threshold=0.999, block_col=None).toPandas()
    assert (0, 1) in set(zip(out["a_id"], out["b_id"]))


def test_embedding_near_pairs_composition(emb):
    """LSH bucket candidates -> exact cosine verify: sound (subset of
    the exact unblocked operator, same scores) and recalls colinear
    pairs (which share every hyperplane bucket by construction)."""
    df, _ = emb
    cands = similarity.lsh_candidate_pairs(df, n_planes=3, dim=8)
    out = similarity.verify_cosine_pairs(df, cands, threshold=0.999).toPandas()
    got = {(a, b): c for a, b, c in zip(out["a_id"], out["b_id"], out["cos_sim"])}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    exact = similarity.embedding_dup_pairs(df, threshold=0.999, block_col=None).toPandas()
    exact_pairs = {
        (a, b): c for a, b, c in zip(exact["a_id"], exact["b_id"], exact["cos_sim"])
    }
    for k, c in got.items():
        assert exact_pairs[k] == c


def test_ivf_topk_recall_and_determinism(emb):
    """IVF probes its n_probe nearest cells: colinear vectors share the
    nearest centroid so the codirectional pair is always recalled; at
    n_probe = n_cells the result EQUALS brute force (full scan)."""
    df, _ = emb
    got = similarity.ivf_topk(df, n_queries=3, k=4, n_cells=4, n_probe=2, sample_rows=50).toPandas()
    for q, grp in got.groupby("query_id"):
        assert grp["rank"].tolist() == list(range(1, len(grp) + 1))
    q0 = got[got["query_id"] == 0]
    assert 1 in set(q0["neighbor_id"])
    # determinism (fixed seed + lowest-id sample)
    again = similarity.ivf_topk(df, n_queries=3, k=4, n_cells=4, n_probe=2, sample_rows=50).toPandas()
    assert got.sort_values(["query_id", "rank"]).values.tolist() == \
        again.sort_values(["query_id", "rank"]).values.tolist()
    # full-probe == brute force
    full = similarity.ivf_topk(df, n_queries=3, k=4, n_cells=4, n_probe=4, sample_rows=50).toPandas()
    brute = similarity.brute_force_topk(df, n_queries=3, k=4).toPandas()
    assert full.sort_values(["query_id", "rank"]).values.tolist() == \
        brute.sort_values(["query_id", "rank"]).values.tolist()


def test_verify_cosine_on_given_candidates(emb, spark):
    df, vecs = emb
    cands = spark.createDataFrame(pd.DataFrame({"a_id": [0, 2], "b_id": [1, 3]}))
    out = similarity.verify_cosine_pairs(df, cands, threshold=0.999).toPandas()
    assert set(zip(out["a_id"], out["b_id"])) == {(0, 1)}


def test_quantizer_arrow_path_matches_literal_path(emb, monkeypatch):
    """The two assignment paths (inlined Catalyst literals vs
    broadcast-matrix Arrow UDF) must agree bucket-for-bucket and
    cell-for-cell on the same input (fixed seed -> deterministic)."""
    df, vecs = emb
    import pyspark.sql.functions as F

    planes = similarity._planes(8, 4, seed=42)
    cents = similarity._spherical_kmeans(vecs.astype(np.float64), n_cells=4)

    def run():
        b = df.select(
            "vec_id", similarity.lsh_bucket_col(F.col("embedding"), planes).alias("b")
        ).toPandas().set_index("vec_id")["b"]
        c = df.select(
            "vec_id",
            similarity._nearest_cells_col(F.col("embedding"), cents, 2).alias("c"),
        ).toPandas().set_index("vec_id")["c"].map(tuple)
        return b, c

    lit_b, lit_c = run()
    monkeypatch.setattr(similarity, "LITERAL_ASSIGN_BUDGET", 0)
    udf_b, udf_c = run()
    assert (lit_b == udf_b).all()
    assert (lit_c == udf_c).all()


def test_quantizer_large_plan_builds_bounded(emb):
    """A production-sized quantizer (256 cells x 300 dims > the literal
    budget) must route to the Arrow path: plan construction stays
    bounded (literals would inline ~77k floats) and the query runs."""
    import time

    df, _ = emb
    import pyspark.sql.functions as F

    rng = np.random.default_rng(3)
    cents = rng.standard_normal((256, 300))
    # pad the 8-dim fixture vectors to 300 dims JVM-side
    wide = df.select(
        "vec_id",
        F.concat(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(0.0)] * 292),
        ).alias("embedding"),
    )
    t0 = time.time()
    out = wide.select(
        "vec_id",
        similarity._nearest_cells_col(F.col("embedding"), cents, 3).alias("cells"),
    )
    build_sec = time.time() - t0
    assert build_sec < 5.0, f"plan construction took {build_sec:.1f}s"
    pdf = out.toPandas()
    assert pdf["cells"].map(len).eq(3).all()
    # verify one row against numpy
    v = np.array(pdf.merge(wide.toPandas(), on="vec_id").iloc[0]["embedding"])
    sims = v @ cents.T
    exp = list(np.argsort(-sims, kind="stable")[:3])
    assert list(pdf.iloc[0]["cells"]) == exp


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox and the lazy dog", "en"),
        (1, "der schnelle fuchs und die katze ist da", "de"),
        (2, "", "en"),
        (3, "le chat est dans la maison et le chien", "fr"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def test_token_stats(docs):
    out = textstats.token_stats(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "n_tokens"] == 8
    assert out.loc[0, "n_distinct_tokens"] == 7  # 'the' twice


def test_lang_id(docs):
    out = textstats.lang_id(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "pred_lang"] == "en"
    assert out.loc[1, "pred_lang"] == "de"
    assert out.loc[3, "pred_lang"] == "fr"
    assert out.loc[2, "pred_lang"] == "und"


def test_fingerprint_matches_python(docs):
    out = textstats.fingerprint(docs).toPandas().set_index("doc_id")

    def fp(text):
        h = 0
        for t in text.lower().split():
            h = (h * 31 + len(t)) % 2147483647
        return h

    assert out.loc[0, "fingerprint"] == fp("The quick brown fox and the lazy dog")
    assert out.loc[1, "fingerprint"] == fp("der schnelle fuchs und die katze ist da")


def test_quality_score_bounds(docs):
    out = textstats.quality_score(docs.filter("doc_id != 2")).toPandas()
    assert ((out["quality"] >= 0) & (out["quality"] <= 1)).all()


def test_multimodal_plumbing(docs):
    media = multimodal.attach_fake_media(docs)
    feats = multimodal.decode_features(media).toPandas().set_index("doc_id")
    assert feats.loc[0, "n_bytes"] == len("The quick brown fox and the lazy dog")
    assert set(feats["media_type"]) == {"image/fake", "audio/fake"}
    # deterministic
    again = multimodal.decode_features(media).toPandas().set_index("doc_id")
    assert feats["checksum"].equals(again["checksum"])
    assert (feats["fake_width"] >= 16).all() and (feats["fake_width"] < 1040).all()


def test_decode_real_parses_bmp(docs):
    """decode_real ACTUALLY parses the BMP container: header dims, bpp,
    declared data offset, and the bottom-left blue byte all line up with
    the generator's closed-form values."""
    media = multimodal.attach_media(docs)
    out = (
        multimodal.decode_real(media.filter("media_type = 'image/bmp'"))
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) > 0
    for did, r in out.iterrows():
        w, h = 8 + did % 113, 8 + (31 * did) % 97
        assert (r["width"], r["height"], r["bpp"]) == (w, h, 24)
        assert r["n_bytes"] == 54 + ((3 * w + 3) // 4) * 4 * h
        assert r["first_px"] == did % 256


def test_bmp_bytes_round_trip():
    import struct as st

    b = multimodal.bmp_bytes(7, 10, 5)
    assert b[:2] == b"BM"
    assert st.unpack_from("<I", b, 2)[0] == len(b)
    off = st.unpack_from("<I", b, 10)[0]
    assert st.unpack_from("<ii", b, 18) == (10, 5)
    # pixel (x=3, y=2 from bottom): blue = (3 + 2 + 7) % 256
    stride = ((3 * 10 + 3) // 4) * 4
    assert b[off + 2 * stride + 3 * 3] == (3 + 2 + 7) % 256


def test_decode_real_gates_non_bmp(docs):
    """Codec-dependent formats still raise behind the import-try (now at
    ACTION time -- the decode body runs in the Arrow batch)."""
    media = multimodal.attach_media(docs)
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        multimodal.decode_real(media.filter("media_type = 'audio/fake'")).count()


def test_resize_plan_box_fit(spark, docs):
    from wikidata_pq_spark.operators import multimodal as mm

    media = mm.attach_fake_media(docs)
    out = mm.resize_plan(media).toPandas()
    assert len(out) == docs.count()
    # box fit: long edge == 224, aspect preserved under integer floor
    for _, r in out.iterrows():
        assert max(r["new_w"], r["new_h"]) == 224
        if r["orig_w"] >= r["orig_h"]:
            assert r["new_w"] == 224
            assert r["new_h"] == max(1, (r["orig_h"] * 224) // r["orig_w"])
        else:
            assert r["new_h"] == 224


def test_frame_sample_one_to_many(spark, docs):
    from wikidata_pq_spark.operators import multimodal as mm

    media = mm.attach_fake_media(docs)
    out = mm.frame_sample(media, k=4, frame_bytes=8).toPandas()
    # one-to-many fan-out, distinct frames, offsets consistent
    per_doc = out.groupby("doc_id").size()
    assert (per_doc >= 1).all() and (per_doc <= 4).all()
    assert (out["byte_offset"] == out["frame_idx"] * 8).all()
    dup = out.duplicated(subset=["doc_id", "frame_idx"]).any()
    assert not dup
    # long docs get the full k samples
    long_doc = out[out["doc_id"] == 0]
    assert len(long_doc) == 4


def test_repetition_stats(spark):
    df = spark.createDataFrame(pd.DataFrame(
        [(0, "x y z x y z x y z"),   # 7 3-grams, 3 distinct -> ratio 1-3/7
         (1, "a b c d"),             # 2 3-grams, both distinct -> 0.0
         (2, "a b")],                # too short -> 0 grams, ratio 0.0
        columns=["doc_id", "text"]))
    out = textstats.repetition_stats(df, n=3).toPandas().set_index("doc_id")
    assert out.loc[0, "n_ngrams"] == 7 and out.loc[0, "n_distinct"] == 3
    assert abs(out.loc[0, "rep_ratio"] - round(1 - 3 / 7, 6)) < 1e-9
    assert out.loc[1, "rep_ratio"] == 0.0
    assert out.loc[2, "n_ngrams"] == 0 and out.loc[2, "rep_ratio"] == 0.0


def test_quantizer_null_embedding_parity(spark, monkeypatch):
    """NULL embeddings must not diverge between the literal and Arrow
    assignment paths: literal yields bucket 0 (every when() falls
    through) and probe cells [0..n_probe-1] (comparator falls to cell
    order); the Arrow path must match instead of crashing on None."""
    import pyspark.sql.functions as F

    pdf = pd.DataFrame({
        "vec_id": [0, 1, 2],
        "embedding": [[1.0, -2.0, 0.5, 3.0], None, [-1.0, 1.0, -1.0, 1.0]],
    })
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    planes = similarity._planes(4, 3, seed=5)
    cents = np.random.default_rng(6).standard_normal((4, 4))

    def run():
        b = df.select("vec_id", similarity.lsh_bucket_col(
            F.col("embedding"), planes).alias("b")).toPandas().set_index("vec_id")["b"]
        c = df.select("vec_id", similarity._nearest_cells_col(
            F.col("embedding"), cents, 2).alias("c")).toPandas().set_index("vec_id")["c"].map(tuple)
        return b, c

    lit_b, lit_c = run()
    assert lit_b.loc[1] == 0 and lit_c.loc[1] == (0, 1)
    monkeypatch.setattr(similarity, "LITERAL_ASSIGN_BUDGET", 0)
    udf_b, udf_c = run()
    assert (lit_b == udf_b).all()
    assert (lit_c == udf_c).all()


def test_brute_force_matmul_path_equivalent(emb):
    """The BLAS scale path (auto-dispatched above LITERAL_ASSIGN_BUDGET
    of per-row scoring work) returns the same (query, neighbor, rank)
    set as the bit-exact fold path on tie-free data, with the same
    schema."""
    df, _ = emb
    fold = (
        similarity.brute_force_topk(df, n_queries=3, k=4)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    qpd = (
        df.filter(df.vec_id < 3)
        .selectExpr("vec_id as query_id", "embedding as qvec")
        .orderBy("query_id").toPandas()
    )
    blas = (
        similarity._brute_force_topk_matmul(df, qpd, 4, "vec_id", "embedding")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(fold.columns) == list(blas.columns)
    assert fold.equals(blas.astype(fold.dtypes.to_dict()))
    # and the auto dispatch actually flips past the budget
    old = similarity.LITERAL_ASSIGN_BUDGET
    try:
        similarity.LITERAL_ASSIGN_BUDGET = 10  # 3 queries x 8 dims > 10
        auto = (
            similarity.brute_force_topk(df, n_queries=3, k=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
    finally:
        similarity.LITERAL_ASSIGN_BUDGET = old
    assert fold.equals(auto.astype(fold.dtypes.to_dict()))


def test_brute_force_null_vectors_both_paths(spark):
    """Null-embedding parity between the fold and BLAS paths: null
    corpus rows rank AFTER real neighbors (padding the top-k when a
    query has too few real ones), and a null QUERY vector forces the
    bit-exact fold path regardless of the budget."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    vecs = [rng.standard_normal(8).tolist() for _ in range(6)]
    pdf = pd.DataFrame({
        "vec_id": range(10),
        "embedding": vecs + [None, None, None, None],
    })
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
    fold = (
        similarity.brute_force_topk(df, n_queries=2, k=8)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    old = similarity.LITERAL_ASSIGN_BUDGET
    try:
        similarity.LITERAL_ASSIGN_BUDGET = 4  # 2 x 8 > 4 -> matmul path
        blas = (
            similarity.brute_force_topk(df, n_queries=2, k=8)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
    finally:
        similarity.LITERAL_ASSIGN_BUDGET = old
    assert fold.equals(blas.astype(fold.dtypes.to_dict()))
    # query 0 has 5 real neighbors (1-5) and 4 null rows (6-9): k=8
    # keeps all reals then nulls 6,7,8 in ascending-id order (9 cut)
    q0 = fold[fold["query_id"] == 0].sort_values("rank")["neighbor_id"].tolist()
    assert len(q0) == 8 and q0[-3:] == [6, 7, 8]
    # null QUERY vector: auto path must not crash (fold fallback)
    pdf2 = pdf.copy()
    pdf2.loc[0, "embedding"] = None
    df2 = spark.createDataFrame(pdf2, schema="vec_id long, embedding array<double>")
    try:
        similarity.LITERAL_ASSIGN_BUDGET = 4
        got = similarity.brute_force_topk(df2, n_queries=2, k=3).toPandas()
    finally:
        similarity.LITERAL_ASSIGN_BUDGET = old
    assert len(got) > 0


def test_brute_force_zero_norm_vectors_both_paths(spark):
    """Zero-norm (all-zero, non-null) embedding parity (r6, ADVICE):
    the fold path scores a zero-norm corpus row as NULL sim (non-ANSI
    div-by-zero), ranked nulls-last; the matmul kernel must route it
    through the same explicit-NULL backfill instead of emitting NaN.
    Both batch regimes are exercised: a batch LARGER than k+1 (where
    the pre-fix lexsort dropped NaN rows) and one smaller (where the
    pre-fix emitted them to rank first)."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    rng = np.random.default_rng(11)
    n = 30
    vecs = [rng.standard_normal(8).tolist() for _ in range(n)]
    vecs[7] = [0.0] * 8   # zero-norm corpus row
    vecs[23] = [0.0] * 8  # second one, in the top-k tail region
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": vecs})

    def run(df, k):
        return (
            similarity.brute_force_topk(df, n_queries=2, k=k)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )

    old = similarity.LITERAL_ASSIGN_BUDGET
    for n_parts, k in ((1, 3), (8, 3), (1, 29)):
        df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
        df = df.repartition(n_parts)
        fold = run(df, k)
        try:
            similarity.LITERAL_ASSIGN_BUDGET = 4  # force matmul path
            blas = run(df, k)
        finally:
            similarity.LITERAL_ASSIGN_BUDGET = old
        assert fold.equals(blas.astype(fold.dtypes.to_dict())), (n_parts, k)
        # zero-norm rows never outrank a real neighbor
        if k == 29:
            q0 = fold[fold["query_id"] == 0].sort_values("rank")
            tail = q0["neighbor_id"].tolist()[-2:]
            assert tail == [7, 23]

    # zero-norm QUERY vector: auto dispatch must fall back to the
    # bit-exact fold path (NULL sims, neighbor-id order), not crash
    pdf2 = pdf.copy()
    df2 = spark.createDataFrame(pdf2, schema="vec_id long, embedding array<double>")
    try:
        similarity.LITERAL_ASSIGN_BUDGET = 4
        got = (
            similarity.brute_force_topk(
                df2.withColumn(
                    "embedding",
                    F.when(F.col("vec_id") == 0, F.array([F.lit(0.0)] * 8)).otherwise(
                        F.col("embedding")
                    ),
                ),
                n_queries=2,
                k=3,
            ).toPandas()
        )
    finally:
        similarity.LITERAL_ASSIGN_BUDGET = old
    q0 = got[got["query_id"] == 0].sort_values("rank")["neighbor_id"].tolist()
    assert q0 == [1, 2, 3]  # all-NULL sims -> ascending neighbor id


def test_ivf_recall_floor(spark):
    """Recall floor (r6, VERDICT item 4): the full-probe==bruteforce
    equivalence tests prove the IVF machinery, but quality at REALISTIC
    probe counts was unmeasured. Pin recall@10 >= 0.9 for n_probe=4 of
    16 cells on a deterministic CLUSTERED corpus, so a quantizer
    regression (bad centroid init, broken cell assignment) fails
    loudly instead of silently degrading the index.

    The corpus is clustered by construction (16 well-separated
    directions + small noise) because that is IVF's operating
    assumption: on isotropic random vectors (the sf0.01 embeddings
    table) cosine neighbors are spread across all cells and NO
    coarse quantizer can reach 0.9 at quarter-probe -- measured 0.56
    there, documented in tools/ann_recall.py's curve. A floor on
    unclusterable data would pin noise, not the operator."""
    from wikidata_pq_spark import datagen

    emb = spark.createDataFrame(
        datagen.gen_clustered_embeddings(n=512),
        schema="vec_id long, embedding array<double>",
    )
    gt = (
        similarity.brute_force_topk(emb, n_queries=50, k=10)
        .toPandas().groupby("query_id")["neighbor_id"].apply(set)
    )
    approx = (
        similarity.ivf_topk(
            emb, n_queries=50, k=10, n_cells=16, n_probe=4, sample_rows=512
        )
        .toPandas().groupby("query_id")["neighbor_id"].apply(set)
    )
    hits = sum(len(gt[q] & approx.get(q, set())) for q in gt.index)
    total = sum(len(gt[q]) for q in gt.index)
    recall = hits / total
    assert recall >= 0.9, f"IVF n_probe=4 recall@10 = {recall:.3f} < 0.9"


def test_lsh_multiprobe_recall_and_full_probe_equivalence(emb):
    """Multi-probe LSH (r6): probing more Hamming-adjacent buckets can
    only ADD candidates (result at b bits is a superset-or-equal
    ranking source of b-1), and probing ALL n_planes bits equals brute
    force -- the same full-cover equivalence the IVF cell pins."""
    df, _ = emb

    def pairs(res):
        return {
            (q, n)
            for q, n in zip(res["query_id"], res["neighbor_id"])
        }

    brute = similarity.brute_force_topk(df, n_queries=3, k=4).toPandas()
    full = similarity.lsh_topk(
        df, n_queries=3, k=4, n_planes=3, dim=8, n_probe_bits=3
    ).toPandas()
    assert full.sort_values(["query_id", "rank"]).values.tolist() == \
        brute.sort_values(["query_id", "rank"]).values.tolist()

    # candidate sets grow monotonically with probe bits
    sizes = []
    for b in (0, 1, 2, 3):
        res = similarity.lsh_topk(
            df, n_queries=3, k=50, n_planes=3, dim=8, n_probe_bits=b
        ).toPandas()
        sizes.append(len(res))
    assert sizes == sorted(sizes)
    # colinear pair always recalled even at 0 probes (same bucket)
    res0 = similarity.lsh_topk(
        df, n_queries=1, k=4, n_planes=3, dim=8, n_probe_bits=1
    ).toPandas()
    assert 1 in set(res0["neighbor_id"])
