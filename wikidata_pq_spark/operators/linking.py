"""Entity linking: an alias join whose broadcast Spark's size rule picks.

The Spark re-expression of the reference's central join rewrite -- the
row-indexed equi-join that replaced an exploded cartesian (reference:
claims.py:48-89; anti-pattern preserved at compare_perf.py:25-47).
Here the lookup side is the alias dictionary and the probe side the
mention stream.

``link_mentions`` joins the dictionary it is given, unhinted: the
dictionary ``canonicalize.apply_canonical`` composes carries a broadcast
hint when the alias dictionary's plan estimate is within the session's
``spark.sql.autoBroadcastJoinThreshold`` (``canonicalize.link_join``),
a map-side hash join with no shuffle of the mention stream. Above it the
join is shuffled, and AQE's skew split divides a hot alias's partition.
``salted_equi_join`` remains as an operator of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import oracle


def salted_equi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Inner/left equi-join on ``key`` with hot-key salting.

    The build side is exploded n_salt x (bounded, explicit replication);
    the probe side gets a deterministic per-row salt from a hash of all
    its columns, so results are reproducible run-to-run.
    """
    salted_build = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    probe_cols = [F.col(c) for c in probe.columns]
    salted_probe = probe.withColumn(
        "_salt", F.pmod(F.xxhash64(*probe_cols), F.lit(n_salt)).cast("int")
    )
    out = salted_probe.join(salted_build, [key, "_salt"], how)
    return out.drop("_salt")


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions -> linked triples (subj, pred, obj, obj_kind, conv_id,
    turn_idx, ts).

    Subject mentions and entity-valued object mentions resolve through
    the alias dictionary (inner join = drop unlinkable, mirroring the
    reference's inner-join-as-filter semantics, reference:
    claims.py:84-89); literal objects pass through untouched, in the
    same plan: the object join is a left join, and a literal keeps its
    mention as ``obj``. Pass the dictionary composed by
    ``canonicalize.apply_canonical`` to link straight to canonical ids
    (and to carry its broadcast choice).
    """
    dict_df = alias_dict.select("alias", "entity_id")

    def _join(df: DataFrame, mention_col: str, out_col: str, how: str) -> DataFrame:
        renamed = dict_df.withColumnRenamed("alias", mention_col).withColumnRenamed(
            "entity_id", out_col
        )
        return df.join(renamed, mention_col, how)

    # Single linear plan -- no branch-and-union, which would evaluate the
    # expensive extraction parent once per branch (a real 2x measured on
    # the chained pipeline). Subject: inner join (drop unlinkable).
    # Object: LEFT join for all rows; entity-valued objects must resolve
    # (filter), literal objects pass their mention through.
    subj_linked = _join(mentions, "subj_mention", "subj", "inner")
    obj_joined = _join(subj_linked, "obj_mention", "_obj_ent", "left")
    is_ent = F.col("obj_kind") == "entity"
    out = (
        obj_joined.filter(~is_ent | F.col("_obj_ent").isNotNull())
        .withColumn("obj", F.when(is_ent, F.col("_obj_ent")).otherwise(F.col("obj_mention")))
    )
    # ts is the asserting turn's timestamp
    return out.select("subj", "pred", "obj", "obj_kind", "conv_id", "turn_idx", "ts")


def kg_chain(mentions: DataFrame, canon_dict: DataFrame) -> DataFrame:
    """Mentions -> the distinct canonical triple set (``TRIPLE_COLUMNS``
    plus ``obj_kind``): the one link-and-dedup chain the pipeline, the
    contract cells and the streaming flow share. ``canon_dict`` is the
    alias dictionary composed by ``canonicalize.apply_canonical``, so
    mentions resolve straight to canonical ids. A turn that asserts one
    triple twice yields one row, as in the oracle."""
    return (
        link_mentions(mentions, canon_dict)
        .select(*oracle.TRIPLE_COLUMNS, "obj_kind")
        .distinct()
    )


def char_ngram_set(s_col, n: int = 3):
    """Distinct character n-grams of a (pre-lowered) string column;
    strings shorter than n contribute themselves as the single gram.
    The column passed in should be an ATTRIBUTE (projected first), not
    an inline expression -- the substring lambda references it per
    gram (the nested-lambda recompute rule used across this repo)."""
    length = F.length(s_col)
    idx = F.sequence(F.lit(1), length - (n - 1))
    return F.when(length < n, F.array(s_col)).otherwise(
        F.array_distinct(F.transform(idx, lambda i: s_col.substr(i, F.lit(n))))
    )


def fuzzy_link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    mention_col: str = "mention",
    df_cap: int | None = None,
) -> DataFrame:
    """Approximate entity linking for mentions the exact alias join
    misses (typos, truncations): character-trigram similarity, the
    pg_trgm-style ER pattern.

    Plan shape (the classic entity-resolution blocking pipeline):

    1. trigram sets per side (distinct char n-grams, lowered);
    2. inverted-index candidate generation -- explode grams on both
       sides and equi-join on the gram, so only pairs sharing at least
       one trigram ever meet (never mention x dictionary cartesian);
    3. score WITHOUT array intersects: |shared| = count of joined gram
       rows per (mention, alias) (grams are distinct per side), so
       jaccard = shared / (n_m + n_a - shared) is pure counting;
    4. deterministic best match per mention: max jaccard, ties broken
       by (entity_id, alias) ascending; keep jaccard >= threshold.

    Returns (mention, entity_id, alias, sim).

    100 TB: the dictionary side is index-sized (broadcastable); the
    mention side streams through one explode + one shuffle on the gram.
    Hot grams (vowel-heavy trigrams are the stopwords of ER blocking)
    are the skew risk: ``df_cap`` drops dictionary postings whose gram
    document-frequency exceeds the cap -- standard common-gram pruning;
    recall only suffers for pairs sharing NOTHING rarer.
    """
    m = (
        mentions.select(F.col(mention_col).alias("mention"))
        .distinct()
        .select("mention", F.lower(F.col("mention")).alias("_s"))
        .select("mention", char_ngram_set(F.col("_s"), n).alias("grams"))
        .select("mention", "grams", F.size("grams").alias("n_m"))
    )
    a = (
        alias_dict.select("alias", "entity_id")
        .distinct()
        .select("alias", "entity_id", F.lower(F.col("alias")).alias("_s"))
        .select("alias", "entity_id", char_ngram_set(F.col("_s"), n).alias("grams"))
        .select("alias", "entity_id", "grams", F.size("grams").alias("n_a"))
    )
    mg = m.select("mention", "n_m", F.explode("grams").alias("g"))
    ag = a.select("alias", "entity_id", "n_a", F.explode("grams").alias("g"))
    if df_cap is not None:
        from pyspark.sql import Window

        gram_df = Window.partitionBy("g")
        ag = ag.withColumn("_df", F.count(F.lit(1)).over(gram_df)).filter(
            F.col("_df") <= df_cap
        ).drop("_df")
    shared = (
        mg.join(ag, "g")
        .groupBy("mention", "alias", "entity_id")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("n_m").alias("n_m"),
            F.first("n_a").alias("n_a"),
        )
    )
    scored = shared.withColumn(
        "sim",
        F.round(
            F.col("shared") / (F.col("n_m") + F.col("n_a") - F.col("shared")), 6
        ),
    ).filter(F.col("sim") >= threshold)
    from pyspark.sql import Window

    w = Window.partitionBy("mention").orderBy(
        F.desc("sim"), F.asc("entity_id"), F.asc("alias")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("mention", "entity_id", "alias", "sim")
    )
