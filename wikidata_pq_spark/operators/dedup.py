"""Deduplication operators for large-scale training-data pipelines.

Families, ordered by cost:

- exact: hash-groupBy (one shuffle on the digest; at 100 TB the digest
  shuffle is ~32 bytes/row -- always do this first).
- token-set / n-gram-shingle Jaccard: blocked self-joins; exact,
  oracle-checkable. Quadratic WITHIN a block -- demoted to bounded-block
  baselines and the verify stage behind LSH.
- MinHash + LSH banding: shingle -> signature -> band buckets ->
  candidate pairs. Sub-quadratic: only rows sharing a band bucket ever
  meet in the join. Signatures are pure Catalyst expressions
  (xxhash64 + universal hashing), no Python.
- **near_dup_pairs (headline)**: LSH candidates -> exact-Jaccard
  verify. Linear candidate generation; exact math confined to the
  candidate set. The corpus-scale composition.
- SimHash: 64-bit near-dup fingerprint via a vectorized pandas UDF
  (bit-level ops aren't expressible as array functions without 64
  nested lambdas -- the sanctioned Arrow slow path); pairing via
  Hamming-chunk banding, never a quadratic join.
- chunk_dup_spans: passage-level exact dedup (non-overlapping token
  chunks -> digest groupBy), the post-document-dedup boilerplate sweep.
- ngram_contamination: benchmark decontamination (corpus n-grams vs a
  broadcast eval n-gram set), the eval-leakage gate before training.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

MERSENNE = 2147483647  # 2^31 - 1: keeps a*h+b within int64 under ANSI mode

# most-recent persisted token frame PER application id (see
# near_dup_pairs): keyed so two concurrent sessions in one python
# process don't evict each other's frame; dead-app slots are dropped
# on the next call from any live session.
_LAST_TOKEN_FRAME: dict = {}


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text digest.

    Returns (digest, n_dupes, keep_id) where keep_id is the minimum id
    (deterministic survivor pick).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_dupes"), F.min(id_col).alias("keep_id"))
    )


def token_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (a_id < b_id).

    HELPER / verify-stage shape, not the headline corpus operator: the
    blocked self-join is quadratic WITHIN a block, and with a skewed
    block key (language distributions put one language at 30%+) one
    block is O(n^2) at corpus scale. The production near-dup operator
    is :func:`near_dup_pairs` (LSH candidates -> this exact verify);
    this standalone form remains for small/bounded blocks and as the
    oracle-checkable exact baseline.
    """
    # token sets as xxhash64 ints: set sizes/intersections are identical
    # to the string form (64-bit collisions are negligible at any corpus
    # vocabulary), and long-array intersects are much cheaper than
    # string-array intersects in the pair loop.
    base = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        F.array_sort(
            F.array_distinct(
                F.transform(TX.distinct_tokens(F.col(text_col)), lambda t: F.xxhash64(t))
            )
        ).alias("toks"),
    ).withColumn("n", F.size("toks"))
    a = base.select(
        F.col("id").alias("a_id"), F.col("blk"), F.col("toks").alias("a_toks"),
        F.col("n").alias("a_n"),
    )
    b = base.select(
        F.col("id").alias("b_id"), F.col("blk"), F.col("toks").alias("b_toks"),
        F.col("n").alias("b_n"),
    )
    # size-ratio prefilter: jaccard >= t implies min/max set size >= t --
    # a scalar predicate that prunes pairs BEFORE any array intersection
    # (no effect on the result set, large effect on the dominant cost).
    # The 5e-7 slack (r7 fifth review) matches the final round(J,6) >= t
    # acceptance, which admits true J down to t - 5e-7: without it a
    # boundary pair (reachable only at multi-million-token set sizes)
    # would pass the rounded verify but be dropped here, diverging from
    # the size-filter-free oracle and the prefix-filter path.
    size_ok = (
        F.least("a_n", "b_n") / F.greatest("a_n", "b_n")
    ) >= F.lit(threshold - 5e-7)
    pairs = a.join(b, "blk").filter((F.col("a_id") < F.col("b_id")) & size_ok)
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    union = F.col("a_n") + F.col("b_n") - inter
    jac = inter / union
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
) -> DataFrame:
    """Exact n-gram (shingle) Jaccard near-dup pairs (a_id < b_id).

    Word-order-sensitive variant of token Jaccard: the sets are
    space-joined n-token shingles (the same shingling MinHash hashes),
    so reordered documents score low where bag-of-tokens scores 1.0.
    Same blocked-self-join shape and the same size-ratio prefilter; at
    corpus scale run it on LSH candidates (near_dup_pairs already uses
    shingle-based signatures, so its verify threshold transfers).
    """
    # two-step projection: tokens land in a real column BEFORE the
    # shingle transform, so the split runs once per row -- shingles'
    # slice lambda references the token array, and an inline
    # composition re-evaluates the split PER SHINGLE (the same
    # nested-lambda recompute trap minhash_signatures avoids; measured
    # ~8x on the documents table). Shingles are hashed to int64 like
    # token_jaccard_pairs hashes tokens: set sizes/intersections are
    # identical (64-bit collisions negligible) and long-array
    # intersects beat string-array intersects ~20x in the pair loop.
    base = df.select(
        F.col(id_col).alias("id"),
        *([F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")]),
        TX.tokens(F.col(text_col)).alias("toks"),
    ).select(
        "id",
        "blk",
        F.array_sort(
            F.array_distinct(
                F.transform(TX.shingles(F.col("toks"), n), lambda s: F.xxhash64(s))
            )
        ).alias("sh"),
    ).withColumn("nsh", F.size("sh"))
    a = base.select(
        F.col("id").alias("a_id"), "blk", F.col("sh").alias("a_sh"),
        F.col("nsh").alias("a_n"),
    )
    b = base.select(
        F.col("id").alias("b_id"), "blk", F.col("sh").alias("b_sh"),
        F.col("nsh").alias("b_n"),
    )
    # same rounding-boundary slack as token_jaccard_pairs (see there)
    size_ok = (
        F.least("a_n", "b_n") / F.greatest("a_n", "b_n")
    ) >= F.lit(threshold - 5e-7)
    pairs = a.join(b, "blk").filter(
        (F.col("a_id") < F.col("b_id")) & size_ok & (F.col("a_n") > 0) & (F.col("b_n") > 0)
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.col("a_n") + F.col("b_n") - inter
    jac = inter / union
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def tokenized(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, toks): whitespace token arrays -- the shared upstream of
    every token-derived dedup stage (shingles for MinHash, distinct
    sets for the exact-Jaccard verify). Compositions that need both
    (near_dup_pairs) compute this ONCE and persist it, so the corpus
    text is scanned and split a single time."""
    return df.select(
        F.col(id_col).alias("id"), TX.tokens(F.col(text_col)).alias("toks")
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>): distributed MinHash, fully JVM-side.

    Explode 3-gram shingle hashes ONCE, apply the n_hashes universal
    hashes h_i(s) = (a_i*xx(s)+b_i) mod (2^31-1) per shingle row, then
    n_hashes column-min aggregates per document. Linear work, map-side
    partial aggregation; docs with < n tokens have no shingles and drop
    out (no signature => no candidates). Avoids the nested-lambda form,
    whose expression tree re-evaluates the shingle array per hash
    function (measured ~30x slower).
    """
    src = tokens_df if tokens_df is not None else tokenized(df, text_col, id_col)
    sh = src.select(
        "id",
        F.explode(TX.shingles(F.col("toks"), n)).alias("shingle"),
    ).select("id", F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE)).alias("h"))
    mins = [
        F.min(
            F.pmod(F.lit(2 * i + 1) * F.col("h") + F.lit(1000003 * (i + 1)), F.lit(MERSENNE))
        ).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    n_hashes: int = 32,
    n_bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
    max_bucket_size: int = 10_000,
    return_audit: bool = False,
):
    """LSH banding candidate pairs (a_id < b_id, with band evidence).

    shingle -> minhash -> split signature into bands -> groupBy
    (band_idx, band hash) -> self-join within bucket. The scale path:
    pair generation is linear in bucket sizes, never corpus-quadratic.

    ``max_bucket_size`` (r6) bounds the within-bucket quadratic: a
    viral boilerplate text duplicated 100k times puts its whole family
    into ONE bucket per band, and 100k^2/2 pairs would sink any
    cluster regardless of partitioning. Buckets above the cap are
    excluded from pairing and surface in the opt-in audit frame
    (band_idx, band_key, n_members) when ``return_audit=True``;
    an audited family is REAL near-dup signal the caller must handle
    out-of-band (exact-dup groups catch its verbatim copies; a
    representative-doc pass covers cross-variant members -- pairwise
    Jaccard over 100k near-identical docs is the one thing that can
    never be the answer)
    -- the same dropped-whole-plus-audit design as
    ``graph.comention_edges``. The gate is one partial aggregate over
    the banded frame (the oversized-bucket set it yields is tiny --
    at most |corpus|/cap keys per band -- so the anti-join against it
    stays broadcast-sized; a windowed count was measured ~1.5x slower
    at 10x because it adds a full sort to the bucket shuffle).
    """
    rows_per_band = n_hashes // n_bands
    sig = minhash_signatures(
        df, n_hashes=n_hashes, text_col=text_col, id_col=id_col, tokens_df=tokens_df
    )
    bands = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band_idx", "band_key"),
    )
    # the banded frame feeds the size aggregate AND both self-join
    # legs: truncate lineage once so the minhash HOF chain isn't
    # re-evaluated per consumer (the comention_edges discipline)
    bands = bands.localCheckpoint(eager=False)
    audit = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
    )
    kept = bands.join(
        audit.select("band_idx", "band_key"), ["band_idx", "band_key"], "left_anti"
    )
    a = kept.select(
        F.col("id").alias("a_id"), "band_idx", "band_key"
    )
    b = kept.select(F.col("id").alias("b_id"), "band_idx", "band_key")
    pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return (pairs, audit) if return_audit else pairs


def _token_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tokens_df: DataFrame | None = None,
    hash_tokens: bool = False,
) -> DataFrame:
    """(id, toks sorted distinct-token array, n) -- shared by the exact
    Jaccard computations. Default keeps STRING tokens (the maximally
    conservative form). ``hash_tokens`` (r8) maps each token through
    xxhash64 first: set sizes and intersection COUNTS -- the only
    thing jaccard reads -- are identical to the string form modulo
    64-bit collisions (negligible at any corpus vocabulary; the
    token_jaccard_pairs discipline), while the verify join ships
    8-byte elements instead of strings and intersects long arrays
    (guide 2.3, shuffle fewer bytes)."""
    if tokens_df is not None:
        src = tokens_df.select("id", F.col("toks").alias("_t"))
    else:
        src = df.select(
            F.col(id_col).alias("id"), TX.tokens(F.col(text_col)).alias("_t")
        )
    arr = F.col("_t")
    if hash_tokens:
        arr = F.transform(arr, lambda t: F.xxhash64(t))
    base = src.select(
        "id", F.array_sort(F.array_distinct(arr)).alias("toks")
    )
    return base.withColumn("n", F.size("toks"))


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    truncate_lineage: bool = True,
) -> DataFrame:
    """EXACT sub-quadratic Jaccard similarity join via PREFIX FILTERING
    (the SSJoin/PPJoin family -- Chaudhuri et al. ICDE'06, Bayardo et
    al. WWW'07): every pair with jaccard >= threshold, corpus-wide, no
    blocking key and NO probabilistic recall loss -- the deterministic
    complement to the MinHash-LSH path when exactness is required
    (contractual dedup, eval decontamination audits).

    How it stays sub-quadratic: order every document's distinct tokens
    by ONE global total order, ascending global frequency with the
    token string as tie-break (rarest first). For a pair with
    J(A,B) >= t, the size filter min/max >= t gives
    |A intersect B| >= t(|A|+|B|)/(1+t) >= ceil(t*|x|) for BOTH sides,
    and the prefix lemma then guarantees the two documents share a
    token inside their first ``|x| - ceil(t*|x|) + 1`` tokens. So only
    those short prefixes are exploded and equi-joined -- per document
    that is ~(1-t)*n + 1 tokens (6 of 50 at t=0.9), and because the
    order is frequency-ASCENDING the join keys are each document's
    RAREST tokens, which is exactly what bounds bucket fan-out (a stop
    word is only ever a prefix token for documents consisting almost
    entirely of stop words). Candidates then flow through the same
    exact verify stage as the LSH path. At 100 TB: one token-frequency
    aggregate, one explode of the prefixes, one equi-join on rare
    tokens, one verify join -- linear scans plus candidate-bounded
    joins, never an all-pairs product (plan-golden pinned).

    Guarantees no false negatives (prefix lemma + size filter) and no
    false positives (exact verify): the result EQUALS the quadratic
    baseline ``token_jaccard_pairs(block_col=None)`` -- pytest-pinned
    on adversarial corpora and DuckDB-oracle-checked at the gate sf.

    Cost is OUTPUT-SENSITIVE, like every exact similarity join: the
    candidate bound comes from token rarity, so on a low-entropy
    corpus (the synthetic gate table draws from a 31-word vocabulary,
    making ~a quarter of ALL pairs true matches) candidates -- and the
    answer itself -- are near-quadratic, and the LSH path's
    recall/cost trade is the right tool instead. On realistic
    vocabularies the prefixes are rare tokens and the join stays
    near-linear: the 10x stress runs a 45k-doc 20k-word Zipf corpus
    with planted families and checks both planted-pair completeness
    and containment of the LSH path's result
    (``BENCH/stress10x_r07.json``, ``dedup_prefix_exact_zipf``).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # candidate-stage threshold slack (r7 fourth review): the verify
    # stage accepts round(J, 6) >= t, i.e. true J down to t - 5e-7, so
    # every candidate-side bound (overlap/prefix and the size-ratio
    # prefilter) must be derived from that EFFECTIVE threshold or a
    # boundary pair the verify (and the quadratic baseline) would keep
    # is never generated. The further 1e-9 guard counters float64
    # round-UP in ceil (double(0.55)*100 = 55.000...01 -> ceil 56
    # would SHORTEN the prefix by one); both slacks can only lengthen
    # the prefix / loosen the prefilter -- the safe direction.
    t_eff = threshold - 5e-7
    # tokenize ONCE: the (id, toks) frame feeds the frequency
    # aggregate, the per-doc ordering, and the verify stage (three
    # consumers -- without the shared frame the corpus was scanned six
    # times; the near_dup_pairs discipline)
    tok_frame = tokenized(df, text_col, id_col)
    if truncate_lineage:
        tok_frame = tok_frame.localCheckpoint(eager=False)
    cands = _prefix_filter_candidates(
        tok_frame, t_eff, truncate_lineage=truncate_lineage
    )
    return verify_jaccard_pairs(
        df, cands, threshold, text_col, id_col, tokens_df=tok_frame,
        assume_distinct=True, hash_tokens=True,
    )


def _prefix_filter_candidates(
    tok_frame: DataFrame, t_eff: float, truncate_lineage: bool = True
) -> DataFrame:
    """Candidate stage of the prefix-filter join: (a_id, b_id) distinct
    pairs surviving the prefix lemma + size filter + POSITIONAL filter.
    Split out (r8) so stress harnesses can measure the candidate/
    verified ratio directly.

    Positional filter (r8, VERDICT item 5 -- the ppjoin refinement,
    Xiao et al. TODS'11): both documents' token arrays are sorted by
    the SAME global (tf, tok) order, so for a shared prefix token at
    1-based positions (i, j), every other common token lies entirely
    before it on both sides (< min(i,j)-ish) or entirely after it, and
    the total overlap is bounded by
        ubound(i, j) = min(i-1, j-1) + 1 + min(a_n - i, b_n - j).
    A qualifying pair needs overlap >= alpha =
    ceil(t/(1+t) * (a_n + b_n)) (the Jaccard<->overlap identity), and
    ubound >= overlap holds for EVERY shared token, so dropping join
    matches with ubound < alpha loses no qualifying pair -- it only
    prunes candidates the verify stage would reject anyway. alpha is
    derived from the EFFECTIVE threshold with the same downward float
    guard as the prefix length (r7 fourth-review discipline: slack may
    only loosen a candidate-stage bound, never tighten it)."""
    toks = tok_frame.select(
        "id", F.explode(F.array_distinct(F.col("toks"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    ordered = (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("tf", "tok"))).alias("arr"))
        .withColumn("n", F.size("arr"))
        .withColumn(
            "p",
            F.col("n")
            - F.ceil(F.lit(t_eff) * F.col("n") - F.lit(1e-9)).cast("int")
            + 1,
        )
    )
    # posexplode: pos is 0-based within the prefix slice, which IS the
    # 0-based position in the full ordered array (the slice starts at
    # element 1), so the 1-based position is pos+1
    prefix = ordered.select(
        "id",
        "n",
        F.posexplode(F.slice("arr", F.lit(1), F.col("p"))).alias("pos", "pt"),
    )
    # the exploded prefix frame feeds BOTH legs of the self-join:
    # truncate its lineage so the tokenize->freq->sort chain is
    # planned (and run) once, not once per leg
    if truncate_lineage:
        prefix = prefix.localCheckpoint(eager=False)
    a = prefix.select(
        F.col("id").alias("a_id"), F.col("n").alias("a_n"),
        (F.col("pos") + 1).alias("a_i"), "pt",
    )
    b = prefix.select(
        F.col("id").alias("b_id"), F.col("n").alias("b_n"),
        (F.col("pos") + 1).alias("b_i"), "pt",
    )
    size_ok = (F.least("a_n", "b_n") / F.greatest("a_n", "b_n")) >= F.lit(t_eff)
    alpha = F.ceil(
        F.lit(t_eff / (1.0 + t_eff)) * (F.col("a_n") + F.col("b_n"))
        - F.lit(1e-9)
    )
    ubound = (
        F.least(F.col("a_i") - 1, F.col("b_i") - 1)
        + 1
        + F.least(F.col("a_n") - F.col("a_i"), F.col("b_n") - F.col("b_i"))
    )
    return (
        a.join(b, "pt")
        .where((F.col("a_id") < F.col("b_id")) & size_ok & (ubound >= alpha))
        .select("a_id", "b_id")
        .distinct()
    )


def verify_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
    assume_distinct: bool = False,
    hash_tokens: bool = False,
) -> DataFrame:
    """Exact-Jaccard verify stage over candidate pairs (a_id, b_id).

    Joins each side of the candidate pair back to its token set (two
    equi-joins on the id -- linear in |candidates|, never quadratic in
    the corpus) and keeps pairs with jaccard >= threshold. Deterministic
    given the candidate set, so it oracle-checks exactly even when the
    candidate generator is probabilistic.

    ``assume_distinct`` (r8): callers whose candidate frame is distinct
    BY CONSTRUCTION (minhash_lsh_candidates and the prefix-filter path
    both end in .distinct()) skip the defensive re-distinct -- one
    exchange + aggregate less on the composed operators; the default
    keeps the dedupe for arbitrary caller input (a duplicated pair
    would otherwise duplicate an output row).
    """
    base = _token_sets(
        df, text_col, id_col, tokens_df=tokens_df, hash_tokens=hash_tokens
    )
    a = base.select(
        F.col("id").alias("a_id"), F.col("toks").alias("a_toks"), F.col("n").alias("a_n")
    )
    b = base.select(
        F.col("id").alias("b_id"), F.col("toks").alias("b_toks"), F.col("n").alias("b_n")
    )
    pairs = candidates.select("a_id", "b_id")
    if not assume_distinct:
        pairs = pairs.distinct()
    pairs = pairs.join(a, "a_id").join(b, "b_id")
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    union = F.col("a_n") + F.col("b_n") - inter
    jac = inter / union
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 32,
    n_bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 10_000,
    return_audit: bool = False,
    candidates_transform=None,
):
    """THE headline near-dup operator: MinHash-LSH candidates -> exact
    Jaccard verify (a_id < b_id, jaccard >= threshold).

    The 100 TB shape: candidate generation is linear (banding -- only
    rows sharing a band bucket ever meet), and the exact quadratic work
    is confined to the candidate set, which LSH keeps proportional to
    the true duplicate count. With 32 hashes / 8 bands the banding
    S-curve puts >99% recall at jaccard 0.8. Never a corpus-quadratic
    self-join.

    The corpus text is tokenized ONCE: the token-array frame is
    persisted and shared by the signature path (shingles) and both
    legs of the verify join -- without it the text is scanned and
    re-split three times. MEMORY_AND_DISK so Spark can evict under
    pressure (the blocks are droppable, lineage recomputes).

    ``max_bucket_size`` / ``return_audit`` pass through to
    :func:`minhash_lsh_candidates` (r6 review): a family larger than
    the cap is excluded from candidate generation, so the HEADLINE
    composition must be able to surface (and tune) that recall
    boundary -- pass ``return_audit=True`` to also get the
    oversized-bucket audit frame, and route audited families to the
    exact-dup / representative-doc path instead of pairwise Jaccard.
    """
    from pyspark import StorageLevel

    tok = tokenized(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    # bounded cache: at most ONE persisted token frame lives at a time
    # -- a loop over corpora would otherwise pin one block set per call
    # for the session lifetime. Unpersisting the previous frame is
    # always safe: consumers recompute through lineage. Session-identity
    # guard: only unpersist a frame belonging to THIS application --
    # after a session restart the old frame's JVM is gone and its
    # blocks with it (the try/except would swallow the error, but not
    # relying on dead-context exceptions is the point).
    app = df.sparkSession.sparkContext.applicationId
    prev = _LAST_TOKEN_FRAME.pop(app, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
    # drop slots whose application is gone (restarted sessions): their
    # JVM -- and blocks -- died with them, only the python ref remains.
    # A live concurrent session's slot is kept (that's the point of
    # keying by app id); liveness probe errors count as dead.
    for k in list(_LAST_TOKEN_FRAME):
        if k == app:
            continue
        try:
            stopped = _LAST_TOKEN_FRAME[
                k
            ].sparkSession.sparkContext._jsc.sc().isStopped()
        except Exception:
            stopped = True
        if stopped:
            del _LAST_TOKEN_FRAME[k]
    _LAST_TOKEN_FRAME[app] = tok
    cands = minhash_lsh_candidates(
        df, n_hashes=n_hashes, n_bands=n_bands, text_col=text_col,
        id_col=id_col, tokens_df=tok, max_bucket_size=max_bucket_size,
        return_audit=return_audit,
    )
    if return_audit:
        cands, audit = cands
    if candidates_transform is not None:
        # seam for callers that must materialize/round-trip the
        # candidate set between the stages (the contract gate's
        # export-candidates pattern) without giving up the shared
        # token frame
        cands = candidates_transform(cands)
    pairs = verify_jaccard_pairs(
        df, cands, threshold=threshold, text_col=text_col, id_col=id_col,
        tokens_df=tok, assume_distinct=True, hash_tokens=True,
    )
    return (pairs, audit) if return_audit else pairs


SIMHASH_SCHEMA = "doc_id long, simhash long"


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (Arrow-batched pandas UDF).

    Token hash = first 8 bytes of md5 (engine-independent); bit votes
    weighted by token frequency; sign -> bit. Returned as signed int64.
    """
    import hashlib

    import numpy as np

    def batch(it):
        shifts = np.arange(64, dtype=np.uint64)
        # token -> 64-bit md5 prefix, memoized ACROSS Arrow batches but
        # bounded (r6, ADVICE): a high-cardinality partition (ids,
        # numbers, random tokens) would otherwise grow the memo without
        # limit in the python worker. Reset once past ~1M entries --
        # per-batch vocab reuse captures most of the win anyway.
        hcache: dict[str, int] = {}
        for pdf in it:
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            sigs = np.zeros(n, dtype=np.uint64)
            # batch-level tokenization: one flat token array + per-doc
            # lengths, so ALL downstream work is vectorized (r6: the
            # per-token python loop dominated the r5 profile)
            docs = [str(t or "").lower().split() for t in pdf[text_col]]
            lens = np.fromiter((len(d) for d in docs), dtype=np.int64, count=n)
            nonempty = lens > 0
            if nonempty.any():
                flat = np.concatenate([np.asarray(d, dtype=object) for d in docs if d])
                # novel-vocabulary hashing: pd.factorize collapses the
                # token instances to the batch vocabulary via a C-level
                # hash table -- NOT np.unique, whose sort of millions
                # of python strings was measured 4x SLOWER than the r5
                # scalar loop at 10x scale. md5 runs once per NOVEL
                # token, then a vectorized gather maps hashes back
                # onto instances.
                inv, vocab = pd.factorize(flat)
                if len(hcache) > 1_000_000:
                    hcache.clear()
                vhash = np.fromiter(
                    (
                        hcache[t]
                        if t in hcache
                        else hcache.setdefault(
                            t,
                            int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big"),
                        )
                        for t in vocab
                    ),
                    dtype=np.uint64,
                    count=len(vocab),
                )
                hs = vhash[inv]
                starts = np.zeros(n, dtype=np.int64)
                starts[1:] = np.cumsum(lens)[:-1]
                # segment-summed bit votes, chunked along the DOC axis
                # so the (tokens x 64) unpack temporary stays bounded
                # (~32 MB) even on a pathological partition; reduceat
                # boundaries are doc starts, so votes stay per-doc
                doc_idx = np.flatnonzero(nonempty)
                lo = 0
                while lo < len(doc_idx):
                    hi = lo
                    tok_budget = 0
                    while hi < len(doc_idx) and (
                        tok_budget == 0 or tok_budget + lens[doc_idx[hi]] <= 65536
                    ):
                        tok_budget += lens[doc_idx[hi]]
                        hi += 1
                    grp = doc_idx[lo:hi]
                    if len(grp) == 1 and lens[grp[0]] > 65536:
                        # pathological single doc above the budget:
                        # accumulate votes over within-doc token slices
                        # (the r5 bound) instead of one giant unpack
                        g = int(grp[0])
                        acc = np.zeros(64, dtype=np.int64)
                        end = starts[g] + lens[g]
                        for t0 in range(starts[g], end, 65536):
                            chunk = hs[t0 : min(t0 + 65536, end)]
                            b = ((chunk[:, None] >> shifts) & np.uint64(1)).astype(
                                np.int64
                            )
                            acc += (2 * b - 1).sum(axis=0)
                        sigs[g] = ((acc > 0).astype(np.uint64) << shifts).sum()
                    else:
                        s0 = starts[grp[0]]
                        s1 = starts[grp[-1]] + lens[grp[-1]]
                        bits = ((hs[s0:s1, None] >> shifts) & np.uint64(1)).astype(
                            np.int64
                        )
                        signs = 2 * bits - 1
                        votes = np.add.reduceat(signs, starts[grp] - s0, axis=0)
                        sigs[grp] = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1)
                    lo = hi
            yield pd.DataFrame(
                # .view(int64): same bits, signed representation --
                # identical to the r5 scalar two's-complement fold
                {"doc_id": ids, "simhash": sigs.view(np.int64)}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(batch, SIMHASH_SCHEMA)


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3, **kw) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pairing uses the block trick (split 64 bits into max_hamming+1
    chunks; a pair within distance d shares at least one exact chunk) --
    the same banding idea as LSH, so no quadratic self-join.
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    mask = (1 << width) - 1
    # the signature frame feeds BOTH legs of the chunk self-join; the
    # pandas-UDF simhash is the expensive stage, so truncate lineage
    # once here or it runs twice (the branch-and-union recompute trap,
    # same discipline as near_dup_pairs' tokenize-once frame)
    sigs = simhash64(df, **kw).localCheckpoint(eager=False)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .alias("chunk_val"),
        )
        for i in range(n_chunks)
    ]
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select(
        "doc_id",
        "simhash",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_val").alias("chunk_val"),
    )
    a = chunks.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sig"), "chunk_idx", "chunk_val"
    )
    b = chunks.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sig"), "chunk_idx", "chunk_val"
    )
    ham = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


def chunk_dup_spans(
    df: DataFrame,
    width: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Passage-level exact dedup: split each document into
    non-overlapping ``width``-token chunks and return every chunk text
    that occurs more than once in the corpus:
    (digest, n_occurrences, n_docs, keep_doc_id, keep_chunk_idx), with
    the survivor = lexicographic (doc_id, chunk_idx) minimum.

    The passage variant of exact dedup a training pipeline runs AFTER
    document-level dedup (boilerplate/quote removal). 100 TB shape:
    explode is linear in corpus tokens; the only shuffle is the
    groupBy on the chunk digest (~32 B/row), same scale class as
    :func:`exact_dup_groups`. The survivor pick is a lexicographic
    min(struct(doc_id, chunk_idx)) in the same aggregate pass -- exact
    for the full int64 id range (a packed doc_id*2^20+chunk_idx key
    would overflow for snowflake-style ids >= 2^43).
    """
    tok = tokenized(df, text_col, id_col)
    n_chunks = F.ceil(F.size("toks") / width).cast("int")
    chunks = tok.select(
        "id",
        F.posexplode(
            F.when(F.size("toks") <= 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i * width + 1, width), " "
                    ),
                )
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    agg = (
        chunks.groupBy(F.md5("chunk_text").alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
            F.min(F.struct("id", "chunk_idx")).alias("_keep"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
    return agg.select(
        "digest",
        "n_occurrences",
        "n_docs",
        F.col("_keep.id").alias("keep_doc_id"),
        F.col("_keep.chunk_idx").alias("keep_chunk_idx"),
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hits) for every corpus
    document sharing at least one n-gram with any eval/benchmark
    document; n_hits = count of DISTINCT contaminated n-grams.

    The standard eval-leakage sweep before training: the eval n-gram
    set is tiny relative to the corpus, so it broadcasts and the scan
    stays one pass over the corpus (explode distinct shingles ->
    broadcast semi-ish inner join -> count distinct). Corpus documents
    that ARE eval documents are the caller's business to exclude
    (pass a corpus with them filtered out).
    """
    # two-step: tokens materialized per row before the shingle lambda
    # (inline composition re-splits the text per shingle -- ~8x slower)
    grams = lambda d: d.select(  # noqa: E731
        F.col(id_col).alias("id"),
        TX.tokens(F.col(text_col)).alias("toks"),
    ).select(
        "id",
        F.explode(F.array_distinct(TX.shingles(F.col("toks"), n))).alias("g"),
    )
    ev = grams(eval_df).select("g").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(ev), "g")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.countDistinct("g").alias("n_hits"))
    )
