"""Entity linking: the alias join and its broadcast choice."""

from __future__ import annotations

import pytest

from wikidata_pq_spark import oracle
from wikidata_pq_spark.operators import canonicalize, extract, linking

KEYS = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def _mentions(spark_corpus):
    return extract.extract_mentions(spark_corpus["transcripts"])


def test_broadcast_matches_oracle(spark_corpus, corpus):
    got = linking.link_mentions(_mentions(spark_corpus), spark_corpus["alias_dict"]).toPandas()
    golden = oracle.oracle_link(
        oracle.oracle_extract(corpus["transcripts"]), corpus["alias_dict"]
    )
    assert sorted(map(tuple, got[KEYS].values)) == sorted(map(tuple, golden[KEYS].values))


def _seq(seq):
    """A Scala ``Seq`` from py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _plan_nodes(plan):
    """Every node of an executed physical plan, descending into AQE's
    query stages (leaves that wrap the plan they ran)."""
    yield plan
    if plan.nodeName().endswith("QueryStage"):
        kids = [plan.plan()]
    else:
        kids = _seq(plan.children())
    for kid in kids:
        yield from _plan_nodes(kid)


@pytest.mark.classic_session_only
def test_chain_broadcasts_the_dictionary_once(spark, spark_corpus, tmp_path):
    """KGPipeline's LINKED chain, with the components read back from
    parquet as the pipeline reads them: the subject and object joins
    share one broadcast of the composed dictionary (the object side is a
    ReusedExchange), so the write is 4 jobs -- the conv_id shuffle, the
    components and dictionary broadcasts, and the result stage. A rename
    in ``link_mentions._join`` that made the two sides' plans differ
    would add a second dictionary broadcast, and a job."""
    path = str(tmp_path / "components")
    canonicalize.connected_components(spark_corpus["same_as"]).write.parquet(path)
    canon_dict = canonicalize.apply_canonical(
        spark_corpus["alias_dict"],
        spark.read.schema(canonicalize.COMPONENTS_DDL).parquet(path),
    )
    chain = linking.kg_chain(_mentions(spark_corpus), canon_dict)
    chain.collect()
    final = chain._jdf.queryExecution().executedPlan().executedPlan()
    exchanges = sorted(
        (n.nodeName(), [a.name() for a in _seq(n.output())])
        for n in _plan_nodes(final)
        if n.nodeName() in ("BroadcastExchange", "ReusedExchange")
    )
    assert exchanges == [
        ("BroadcastExchange", ["entity_id", "_canon"]),  # components
        ("BroadcastExchange", ["subj_mention", "subj"]),  # the dictionary
        ("ReusedExchange", ["obj_mention", "_obj_ent"]),  # ... reused
    ]
    assert sum(n.nodeName() == "Exchange" for n in _plan_nodes(final)) == 1


@pytest.mark.classic_session_only
def test_dictionary_above_threshold_links_by_shuffle(spark, spark_corpus):
    """With ``spark.sql.autoBroadcastJoinThreshold`` at -1 (never
    broadcast) ``link_join`` chooses a shuffle: building the chain runs
    no job, no join of its physical plan is a broadcast, and it gives
    the broadcast chain's triples."""
    mentions = _mentions(spark_corpus)
    adf = spark_corpus["alias_dict"]
    comps = canonicalize.connected_components(spark_corpus["same_as"])
    broadcast = linking.kg_chain(mentions, canonicalize.apply_canonical(adf, comps))
    assert canonicalize.link_join(adf)["link_join"] == "broadcast"
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    sc = spark.sparkContext
    spark.conf.set(key, "-1")
    try:
        assert canonicalize.link_join(adf)["link_join"] == "shuffle"
        sc.setJobGroup("shuffled_link_plan", "shuffled_link_plan")
        try:
            chain = linking.kg_chain(mentions, canonicalize.apply_canonical(adf, comps))
            joins = [
                n.nodeName()
                for n in _plan_nodes(chain._jdf.queryExecution().sparkPlan())
                if n.nodeName().endswith("Join")
            ]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("shuffled_link_plan")) == 0
        # the subject and object joins, and the composition under each
        assert len(joins) == 4 and "BroadcastHashJoin" not in joins
        shuffled = chain.toPandas()
    finally:
        spark.conf.set(key, saved)
    assert sorted(map(tuple, shuffled.values)) == sorted(
        map(tuple, broadcast.toPandas().values)
    )


def test_unlinkable_mentions_dropped(spark, spark_corpus):
    import pandas as pd

    m = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c1"],
                "turn_idx": [0, 1],
                "pred": ["P108", "P108"],
                "subj_mention": ["nosuchalias", "nosuchalias2"],
                "obj_mention": ["nosuchalias", "nosuchalias"],
                "obj_kind": ["entity", "entity"],
                "rule_idx": [1, 1],
                "match_idx": [0, 0],
                "ts": pd.to_datetime(["2026-01-01", "2026-01-01"]),
            }
        )
    )
    out = linking.link_mentions(m, spark_corpus["alias_dict"])
    assert out.count() == 0


def test_literal_objects_pass_through(spark, spark_corpus, corpus):
    ad = corpus["alias_dict"]
    alias = ad["alias"].iloc[0]
    import pandas as pd

    m = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"],
                "turn_idx": [0],
                "pred": ["P571"],
                "subj_mention": [alias],
                "obj_mention": ["1999"],
                "obj_kind": ["literal"],
                "rule_idx": [5],
                "match_idx": [0],
                "ts": pd.to_datetime(["2026-01-01"]),
            }
        )
    )
    out = linking.link_mentions(m, spark_corpus["alias_dict"]).toPandas()
    assert len(out) == 1
    assert out["obj"].iloc[0] == "1999"
    assert out["subj"].iloc[0] == ad["entity_id"].iloc[0]


def test_fuzzy_link_typos_and_determinism(spark):
    """Char-trigram ER: truncated/typo'd mentions re-link to the right
    entity; exact strings score 1.0; ties break deterministically."""
    import pandas as pd
    import pyspark.sql.functions as F

    from wikidata_pq_spark.operators import linking

    adf = spark.createDataFrame(pd.DataFrame({
        "alias": ["wikidata", "wikipedia", "sparkle", "sparkles"],
        "entity_id": ["Q1", "Q2", "Q3", "Q3"],
    }))
    mdf = spark.createDataFrame(pd.DataFrame({
        "mention": ["wikidata", "ikidata", "sparkle", "qqqqq"],
    }))
    out = linking.fuzzy_link_mentions(mdf, adf, threshold=0.4).toPandas()
    got = {r["mention"]: (r["entity_id"], r["sim"]) for _, r in out.iterrows()}
    assert got["wikidata"] == ("Q1", 1.0)
    assert got["ikidata"][0] == "Q1"          # truncation still links
    assert got["sparkle"][0] == "Q3"
    assert "qqqqq" not in got                  # nothing shared -> no link
    # exactly one row per linked mention (argmax, not all candidates)
    assert out["mention"].is_unique


def test_fuzzy_link_df_cap_prunes_hot_grams(spark):
    """df_cap drops dictionary postings for grams above the document-
    frequency cap (common-gram pruning): with cap=1 the gram shared by
    ALL aliases stops generating candidates on its own."""
    import pandas as pd

    from wikidata_pq_spark.operators import linking

    adf = spark.createDataFrame(pd.DataFrame({
        # every alias contains 'xyz'; only the first also shares 'abc'
        "alias": ["abcxyz", "defxyz", "ghixyz"],
        "entity_id": ["Q1", "Q2", "Q3"],
    }))
    mdf = spark.createDataFrame(pd.DataFrame({"mention": ["abcqqq"]}))
    free = linking.fuzzy_link_mentions(mdf, adf, threshold=0.0).toPandas()
    assert set(free["entity_id"]) == {"Q1"}  # best match via 'abc'
    capped = linking.fuzzy_link_mentions(mdf, adf, threshold=0.0, df_cap=1).toPandas()
    # 'abc' grams have df 1 (survive); 'xyz' grams df 3 (pruned) --
    # Q1 still reachable through its rare grams
    assert set(capped["entity_id"]) == {"Q1"}
