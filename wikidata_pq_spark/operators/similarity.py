"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k. The query side is tiny and
  broadcast; the corpus side streams -- one pass, no shuffle of the
  corpus. The correctness baseline.
- ``lsh_topk``: random-hyperplane LSH bucketing -- the scale path: the
  corpus is bucketed by sign-bit signature, candidates only meet within
  a bucket (plus multi-probe neighbors), turning O(Q x N) into
  O(Q x bucket).
- ``ivf_topk``: inverted-file ANN -- deterministic spherical-k-means
  coarse quantizer (driver-side on a bounded sample; the centroid
  table is index metadata), corpus bucketed by nearest centroid,
  queries probe their n_probe nearest cells.
- ``lsh_candidate_pairs`` -> ``verify_cosine_pairs`` (headline
  near-dup, composed by the ``embedding_near_pairs`` contract cell):
  hyperplane-bucket candidates -> exact cosine verify;
  ``embedding_dup_pairs`` is the exact blocked baseline it demotes.

All dot products are JVM-side zip_with/aggregate folds in double --
no Python, and bitwise-reproducible for the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as VX


def brute_force_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank), rank 1..k.

    Queries = the n_queries lowest ids (deterministic). Ties broken by
    neighbor id so ranks are hash-stable across engines.

    Two scoring paths, same auto-dispatch design as the quantizer
    assignment (r5): per-corpus-row scoring work is n_queries x dim
    multiplies, and above ``LITERAL_ASSIGN_BUDGET`` of it the
    interpreted per-element HOF fold loses badly to one BLAS matmul per
    Arrow batch against the broadcast query matrix (measured 11 s vs
    ~2 s on 100 queries x 20k x 64-dim). The query matrix is bounded
    driver metadata (n_queries rows -- the same class as the IVF
    training sample), so collecting it is not a data collect. Below the
    budget the join+fold path is kept: bit-exact left-fold sims, which
    is what the sf0.01 gate (10 x 64 = 640 floats) pins. The two paths
    agree exactly away from float ties (equivalence-tested); at a tie
    the deterministic neighbor-id break applies within each path.
    """
    qpd = (
        emb.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .orderBy("query_id")
        .toPandas()  # bounded: n_queries rows of metadata
    )
    if len(qpd) == 0:
        raise ValueError("brute_force_topk: no query rows under n_queries")
    # a NULL or zero-norm query vector is a degenerate case the
    # bit-exact fold path already defines (try_divide by a zero norm =>
    # NULL sims, ranked nulls-last, neighbor-id order; under Spark 4's
    # default ANSI mode a bare `/` would THROW instead) -- keep it
    # there rather than teach the matmul path a special case
    q_ok = qpd["qvec"].notna()
    if q_ok.all():
        qmat = np.array(qpd["qvec"].tolist(), dtype=np.float64)
        if (np.linalg.norm(qmat, axis=1) > 0).all():
            # dispatch on TOTAL scoring work, not just the query-matrix
            # size (r8): the fold path pays an interpreted
            # n_queries x dim HOF fold PER CORPUS ROW, so a small query
            # set over a large corpus is exactly the regime the BLAS
            # path exists for (measured at 20k x 64: fold 2.2s vs
            # matmul 0.8s, outputs set-identical on every testdata sf).
            # The corpus count is one parquet metadata-count job, only
            # paid when the query-matrix check alone doesn't decide.
            # Dictionary-sized corpora (the value-gate sfs) stay on the
            # bit-exact fold path.
            if (
                qmat.size > LITERAL_ASSIGN_BUDGET
                or qmat.size * emb.count() > SCORING_WORK_BUDGET
            ):
                return _brute_force_topk_matmul(emb, qpd, k, id_col, vec_col)
    # norms are computed ONCE per row BEFORE the pair join (r5): the
    # per-pair expression is then a single array fold (the dot) instead
    # of three -- same arithmetic per element, so sim values (and the
    # oracle hash) are bit-identical, but 3x less HOF work on the
    # |corpus| x n_queries scored frame
    queries = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        VX.norm(F.col(vec_col)).alias("qnorm"),
    )
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.try_divide(
                VX.dot(F.col("qvec"), F.col("cvec")),
                F.col("qnorm") * F.col("cnorm"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _brute_force_topk_matmul(
    emb: DataFrame, qpd: "pd.DataFrame", k: int, id_col: str, vec_col: str
) -> DataFrame:
    """BLAS scale path for brute-force top-k, as a distributed top-k:
    each Arrow batch computes one cosine matrix (|batch| x dim @
    dim x n_queries against the broadcast query matrix) and emits only
    its batch-local top-(k+1) per query, selected under the SAME total
    order the final ranking uses ((-sim, neighbor_id) -- selection by a
    total order commutes with partitioning, so the global top-k is
    exactly contained in the union of batch top-(k+1)s; +1 survives the
    self-pair removal). The global merge then windows over
    O(batches x queries x k) rows instead of |corpus| x n_queries --
    the shuffle is candidate-sized, not cross-product-sized."""
    Q = np.array(qpd["qvec"].tolist(), dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    qids = np.array([int(q) for q in qpd["query_id"]], dtype=np.int64)
    bc = _broadcast_matrix(Qn)

    def batches(it):
        mat = bc.value if bc is not None else Qn
        for pdf in it:
            v = pdf[vec_col]
            all_ids = pdf[id_col].to_numpy().astype(np.int64)
            notna = v.notna().to_numpy()
            out_q, out_n, out_s = [], [], []
            zero_ids = np.empty(0, dtype=np.int64)
            if notna.any():
                ids0 = all_ids[notna]
                x = np.array(v[notna].tolist(), dtype=np.float64)
                xnorm = np.linalg.norm(x, axis=1)
                # zero-norm corpus rows CANNOT enter the matmul: 0/0
                # normalization yields NaN sims, and NaN diverges from
                # the fold path's semantics (try_divide by zero =>
                # NULL, ranked nulls-last) -- Spark sorts NaN ABOVE
                # every double desc, while np.lexsort sorts NaN keys
                # last, so large batches would even drop the rows the
                # small batches rank first. Mask them out and route
                # them through the explicit-NULL backfill below, the
                # same treatment as null vectors.
                pos = xnorm > 0
                ids = ids0[pos]
                zero_ids = ids0[~pos]
                if ids.size:
                    xn = x[pos] / xnorm[pos, None]
                    sims = xn @ mat.T  # (batch, n_queries)
                    kk = min(k + 1, sims.shape[0])
                    for qi in range(sims.shape[1]):
                        col = sims[:, qi]
                        sel = np.lexsort((ids, -col))[:kk]
                        out_q.append(np.full(kk, qids[qi]))
                        out_n.append(ids[sel])
                        out_s.append(col[sel])
            # null-vector AND zero-norm corpus rows: the fold path
            # scores both as NULL sims, which desc-nulls-last ranks
            # AFTER every real sim but still inside the top-k when a
            # query has < k real neighbors. Emit the batch's k+1
            # lowest-id such rows as null-sim candidates so both paths
            # select under the SAME total order.
            null_ids = np.sort(np.concatenate([all_ids[~notna], zero_ids]))[: k + 1]
            n_null = 0
            if null_ids.size:
                n_null = null_ids.size * len(qids)
                for q in qids:
                    out_q.append(np.full(null_ids.size, q))
                    out_n.append(null_ids)
                    out_s.append(np.full(null_ids.size, np.nan))
            if not out_q:
                continue
            # explicit-mask FloatingArray: the backfill rows become
            # true NULLs (ranked last, like the fold path); every
            # value row is a real finite sim -- no NaN can reach Spark
            vals = np.concatenate(out_s)
            na_mask = np.zeros(len(vals), dtype=bool)
            if n_null:
                na_mask[-n_null:] = True
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": pd.arrays.FloatingArray(vals, na_mask),
                }
            )

    cands = emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        batches, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cands.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


# Above this many floats (rows x dim), quantizer assignment switches
# from inlined Catalyst literals to a broadcast-matrix Arrow UDF: a
# production quantizer (4096 cells x 768 dims ~ 3M floats) inlined as
# expression literals explodes plan construction / codegen, while the
# Arrow path ships the matrix once per executor and does one BLAS
# matmul per batch. Budget LOWERED 65536 -> 2048 in r5 on measurement:
# the literal path's per-cell dot is a higher-order `aggregate` lambda,
# which is interpreted per element (HOFs don't join whole-stage
# codegen), so a 64-cell x 64-dim quantizer cost ~0.5 ms/row -- the
# Arrow matmul did the same 10x corpus ~20x faster. 2048 keeps the
# bit-exact literal path for dictionary-sized tables (the sf0.01 gate's
# 16x64 quantizer and every lsh_bucket_col plane set) and routes
# anything bigger to BLAS.
LITERAL_ASSIGN_BUDGET = 2048

# Above this much total pair-scoring work (query floats x corpus rows),
# brute_force_topk routes to the BLAS batch path even when the query
# matrix itself is literal-sized: per-pair cost is an interpreted HOF
# fold either way, so total work -- not matrix size -- is what the
# boundary must bound. 512k keeps every dictionary-sized gate corpus
# (<= a few hundred rows) on the bit-exact fold path.
SCORING_WORK_BUDGET = 512_000


# one broadcast per distinct matrix content per SparkContext: repeated
# plan builds against the same quantizer reuse the broadcast instead of
# leaking a new (never-destroyed) one per call.
_BROADCAST_CACHE: dict = {}


def _broadcast_matrix(mat: "np.ndarray"):
    import hashlib

    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is None:
        return None
    # applicationId (not id(sc)) as the context key: python id()s are
    # reused after GC, so a restarted session could collide with a dead
    # context's entry and hand back a broadcast whose JVM is gone.
    # Each entry carries its owning SparkContext so eviction can probe
    # LIVENESS rather than identity -- a live concurrent session's
    # broadcasts are kept (r6: two sessions in one process no longer
    # evict each other); probe errors count as dead.
    app = sess.sparkContext.applicationId
    for k in list(_BROADCAST_CACHE):
        if k[0] == app:
            continue
        try:
            stopped = _BROADCAST_CACHE[k][1]._jsc.sc().isStopped()
        except Exception:
            stopped = True
        if stopped:  # entries of stopped contexts: broadcast died
            del _BROADCAST_CACHE[k]  # with its JVM; just drop the ref
    key = (app, mat.shape, hashlib.md5(mat.tobytes()).hexdigest())
    entry = _BROADCAST_CACHE.get(key)
    if entry is None:
        entry = (sess.sparkContext.broadcast(mat), sess.sparkContext)
        _BROADCAST_CACHE[key] = entry
    return entry[0]


def _bucket_batch(v: "pd.Series", mat: "np.ndarray", weights: "np.ndarray") -> "pd.Series":
    """Vectorized sign-bit bucketing with literal-path NULL parity:
    a NULL vector's every dot is NULL, every when() falls through, the
    bucket is 0 -- so null rows get bucket 0 here too."""
    out = np.zeros(len(v), dtype=np.int64)
    mask = v.notna().to_numpy()
    if mask.any():
        x = np.array(v[mask].tolist(), dtype=np.float64)
        bits = x @ mat.T >= 0
        out[mask] = bits @ weights
    return pd.Series(out.astype(np.int32))


def _cells_batch(v: "pd.Series", mat: "np.ndarray", n_probe: int) -> "pd.Series":
    """Vectorized nearest-cell probes with literal-path NULL parity:
    NULL sims make the literal comparator fall through to cell-index
    order, yielding cells [0..n_probe-1] -- matched here."""
    null_cells = np.arange(n_probe, dtype=np.int32)
    out = [null_cells] * len(v)
    mask = v.notna().to_numpy()
    if mask.any():
        x = np.array(v[mask].tolist(), dtype=np.float64)
        sims = x @ mat.T
        # stable argsort on -sim == sim desc, ties -> lower cell first
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        j = 0
        for pos in np.nonzero(mask)[0]:
            out[pos] = idx[j]
            j += 1
    return pd.Series(out)


def lsh_bucket_col(vec_col, planes: list[list[float]]):
    """Signature bucket id = sign bits of dot(vec, plane_j).

    Small plane sets inline as Catalyst literals (whole-stage codegen,
    bit-exact vs the SQL oracle); past LITERAL_ASSIGN_BUDGET floats the
    assignment runs as a vectorized Arrow UDF over a broadcast plane
    matrix -- same sign rule, O(batch x planes) BLAS."""
    P = np.asarray(planes, dtype=np.float64)
    if P.size <= LITERAL_ASSIGN_BUDGET:
        bits = [
            F.when(VX.dot(vec_col, F.array(*[F.lit(x) for x in p])) >= 0, F.lit(1 << j))
            .otherwise(F.lit(0))
            for j, p in enumerate(planes)
        ]
        out = F.lit(0)
        for b in bits:
            out = out + b
        return out.cast("int")

    from pyspark.sql.functions import pandas_udf

    bc = _broadcast_matrix(P)
    weights = 1 << np.arange(P.shape[0], dtype=np.int64)

    # Closure discipline: the broadcast-path UDF captures ONLY the
    # broadcast handle (capturing P too would pickle the full matrix
    # into every task, defeating the broadcast). The matrix-capturing
    # form exists only for the no-active-session fallback.
    if bc is not None:

        @pandas_udf("int")
        def _bucket(v: pd.Series) -> pd.Series:
            return _bucket_batch(v, bc.value, weights)

    else:

        @pandas_udf("int")
        def _bucket(v: pd.Series) -> pd.Series:
            return _bucket_batch(v, P, weights)

    return _bucket(vec_col)


def lsh_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    n_probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s).

    With n_planes sign bits the corpus splits into 2^n_planes buckets;
    recall is traded for a 2^n_planes candidate reduction. At 100 TB
    the bucketed corpus is also how you'd physically cluster the table
    (bucket column = partition key).

    ``n_probe_bits`` (r6) is standard MULTI-PROBE LSH: a true neighbor
    on the wrong side of d hyperplanes lands in a bucket at Hamming
    distance d, so each query additionally probes every bucket within
    ``n_probe_bits`` bit flips of its own -- sum(C(n_planes, j)) probe
    buckets per query, exploded on the (tiny, broadcast) QUERY side
    only; the corpus stays bucketed once. 0 = exact-bucket behavior
    (the contract cell's pinned semantics); at n_probe_bits == n_planes
    every bucket is probed and the result EQUALS brute force
    (equivalence-tested). On the random-corpus recall curve this is
    the difference between collapse (0.0 recall at 16 planes) and a
    tunable recall/cost point -- see BENCH/ann_recall_r06.json.
    """
    from itertools import combinations

    planes = _planes(dim, n_planes, seed)
    bucketed = emb.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes))
    # per-row norms before the join (see brute_force_topk): per-pair
    # work drops to one fold, sim values bit-identical
    queries = bucketed.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        VX.norm(F.col(vec_col)).alias("qnorm"),
        "bucket",
    )
    if n_probe_bits > 0:
        masks = [0] + [
            sum(1 << b for b in bits)
            for j in range(1, min(n_probe_bits, n_planes) + 1)
            for bits in combinations(range(n_planes), j)
        ]
        queries = queries.withColumn(
            "bucket",
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ),
        )
    corpus = bucketed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cnorm"),
        "bucket",
    )
    scored = (
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.try_divide(
                VX.dot(F.col("qvec"), F.col("cvec")),
                F.col("qnorm") * F.col("cnorm"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_candidate_pairs(
    emb: DataFrame,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id): self-join within a
    random-hyperplane sign bucket.

    The scale path for pair generation: with n_planes sign bits the
    corpus splits into 2^n_planes buckets and pairs only form within a
    bucket -- linear in sum(bucket^2), proportional to the true
    near-dup density, never corpus-quadratic. High-cosine pairs land in
    the same bucket with probability (1 - theta/pi)^n_planes.
    """
    planes = _planes(dim, n_planes, seed)
    bucketed = emb.select(
        F.col(id_col).alias("id"),
        lsh_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    a = bucketed.select(F.col("id").alias("a_id"), "bucket")
    b = bucketed.select(F.col("id").alias("b_id"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def verify_cosine_pairs(
    emb: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine verify stage over candidate pairs: two equi-joins
    back to the vectors (linear in |candidates|), keep cosine >=
    threshold. Deterministic given the candidate set."""
    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    pairs = candidates.select("a_id", "b_id").distinct().join(a, "a_id").join(b, "b_id")
    return (
        pairs.withColumn("cos_sim", F.round(VX.cosine(F.col("a_vec"), F.col("b_vec")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("a_id", "b_id", "cos_sim")
    )


def _spherical_kmeans(
    sample: np.ndarray, n_cells: int, n_iter: int = 10, seed: int = 42
) -> np.ndarray:
    """Deterministic spherical k-means (Lloyd on the unit sphere) for
    the IVF coarse quantizer. Pure numpy on a bounded sample -- the
    centroid table is index METADATA (n_cells x dim floats), exactly
    the class of driver-side computation the reference allows itself
    (its cached remote listings, size_verification.py:20-24)."""
    rng = np.random.default_rng(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cents = x[rng.choice(len(x), size=n_cells, replace=False)]
    for _ in range(n_iter):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def _nearest_cells_col(vec_col, cents: np.ndarray, n_probe: int):
    """array<int> of the n_probe nearest centroid indices (by dot on
    the raw vector -- cosine order is norm-invariant per row).

    Same two-path split as lsh_bucket_col: Catalyst literals for small
    centroid tables (bit-exact, codegen'd), broadcast-matrix Arrow UDF
    past LITERAL_ASSIGN_BUDGET floats (ties broken by cell index
    ascending on both paths)."""
    C = np.asarray(cents, dtype=np.float64)
    if C.size <= LITERAL_ASSIGN_BUDGET:
        scored = F.array(
            *[
                F.struct(
                    VX.dot(vec_col, F.array(*[F.lit(float(x)) for x in c])).alias("sim"),
                    F.lit(j).alias("cell"),
                )
                for j, c in enumerate(cents)
            ]
        )
        top = F.slice(F.array_sort(scored, lambda a, b: F.when(a["sim"] > b["sim"], -1).when(a["sim"] < b["sim"], 1).otherwise(a["cell"] - b["cell"])), 1, n_probe)
        return F.transform(top, lambda s: s["cell"])

    from pyspark.sql.functions import pandas_udf

    bc = _broadcast_matrix(C)
    if bc is not None:

        @pandas_udf("array<int>")
        def _cells(v: pd.Series) -> pd.Series:
            return _cells_batch(v, bc.value, n_probe)

    else:

        @pandas_udf("array<int>")
        def _cells(v: pd.Series) -> pd.Series:
            return _cells_batch(v, C, n_probe)

    return _cells(vec_col)


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    sample_rows: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: spherical-k-means coarse quantizer,
    corpus bucketed by nearest centroid, queries probe their n_probe
    nearest cells -- the inverted-file ANN scale path alongside the
    hyperplane-LSH variant.

    100 TB shape: the centroid table is metadata (broadcast into the
    assignment expression); the corpus shuffles ONCE on cell (at rest:
    the cell is the physical partition/cluster key, so probes are
    partition-pruned scans); per-query work is n_probe cells, not the
    corpus. Deterministic: the training sample is the lowest-id rows,
    k-means seeding is fixed-seed.
    """
    sample = np.array(
        emb.orderBy(id_col)
        .limit(sample_rows)
        .select(vec_col)
        .toPandas()[vec_col]
        .tolist()
    )
    cents = _spherical_kmeans(sample, n_cells=n_cells, seed=seed)
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cnorm"),
        F.element_at(_nearest_cells_col(F.col(vec_col), cents, 1), 1).alias("cell"),
    )
    queries = (
        emb.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            VX.norm(F.col(vec_col)).alias("qnorm"),
            F.explode(_nearest_cells_col(F.col(vec_col), cents, n_probe)).alias("cell"),
        )
    )
    # per-row norms before the probe join (see brute_force_topk)
    scored = (
        corpus.join(F.broadcast(queries), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.try_divide(
                VX.dot(F.col("qvec"), F.col("cvec")),
                F.col("qnorm") * F.col("cnorm"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate embedding pairs: cosine >= threshold, a_id < b_id.

    HELPER / exact baseline: quadratic within a block -- demoted in
    favor of :func:`lsh_candidate_pairs` -> :func:`verify_cosine_pairs`
    as the corpus-scale operator; kept for bounded blocks and
    as the oracle-checkable exact form."""
    base = emb.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        F.col(vec_col).alias("vec"),
        VX.norm(F.col(vec_col)).alias("nrm"),
    )
    a = base.select(
        F.col("id").alias("a_id"), "blk",
        F.col("vec").alias("a_vec"), F.col("nrm").alias("a_nrm"),
    )
    b = base.select(
        F.col("id").alias("b_id"), "blk",
        F.col("vec").alias("b_vec"), F.col("nrm").alias("b_nrm"),
    )
    # norms once per row, not per pair (same arithmetic -> same rounded
    # cos_sim; the quadratic-within-block pair loop folds only the dot)
    return (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos_sim",
            F.round(
                F.try_divide(
                    VX.dot(F.col("a_vec"), F.col("b_vec")),
                    F.col("a_nrm") * F.col("b_nrm"),
                ),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("a_id", "b_id", "cos_sim")
    )
