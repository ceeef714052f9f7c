"""Connected components + canonical alias dictionary."""

from __future__ import annotations

import pandas as pd
import pytest

from wikidata_pq_spark import datagen, oracle
from wikidata_pq_spark.operators import canonicalize, extract, linking


# both paths behind connected_components' size switch
PATHS = [
    pytest.param(canonicalize._distributed_components, id="distributed"),
    pytest.param(canonicalize._driver_components, id="driver"),
]


def _cc(spark, edges: list[tuple[str, str]], path=canonicalize._distributed_components):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src_id", "dst_id"]))
    out = path(df).toPandas()
    return dict(zip(out["entity_id"], out["canonical_id"]))


@pytest.mark.parametrize("path", PATHS)
def test_chain(spark, path):
    comp = _cc(spark, [("Q1", "Q2"), ("Q2", "Q3"), ("Q3", "Q4")], path)
    assert comp == {"Q1": "Q1", "Q2": "Q1", "Q3": "Q1", "Q4": "Q1"}


def test_long_chain_pointer_jumping(spark):
    """A 40-deep chain converges well under the 25-iteration cap."""
    edges = [(f"Q{i}", f"Q{i+1}") for i in range(1, 41)]
    comp = _cc(spark, edges)
    assert set(comp.values()) == {"Q1"}
    assert len(comp) == 41


@pytest.mark.parametrize("path", PATHS)
def test_star_and_singleton_components(spark, path):
    comp = _cc(
        spark, [("Q10", "Q5"), ("Q10", "Q7"), ("Q10", "Q20"), ("Q100", "Q101")], path
    )
    assert comp["Q10"] == "Q5" and comp["Q7"] == "Q5" and comp["Q20"] == "Q5"
    assert comp["Q100"] == "Q100" and comp["Q101"] == "Q100"


@pytest.mark.parametrize("path", PATHS)
def test_numeric_aware_min(spark, path):
    # string-min would pick "Q10" over "Q2"; numeric-aware must pick Q2
    comp = _cc(spark, [("Q10", "Q2")], path)
    assert comp == {"Q10": "Q2", "Q2": "Q2"}


@pytest.mark.parametrize("path", PATHS)
def test_matches_union_find_on_generated_edges(spark, path):
    sa = datagen.gen_same_as(200)
    golden = oracle.union_find_components(sa)
    got = _cc(spark, list(zip(sa["src_id"], sa["dst_id"])), path)
    assert got == golden


def test_apply_canonical(spark):
    """The composed dictionary: a mapped entity becomes its canonical id,
    an unmapped one keeps its own id, duplicate alias rows keep their
    count, and columns other than (alias, entity_id) are dropped."""
    adf = spark.createDataFrame(
        pd.DataFrame(
            {
                "alias": ["acme", "acme", "acme corp", "beta"],
                "entity_id": ["Q5", "Q5", "Q6", "Q9"],
                "label": ["Acme", "Acme", "Acme", "Beta"],
            }
        )
    )
    comps = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": ["Q5", "Q6", "Q7"], "canonical_id": ["Q1", "Q1", "Q7"]}
        )
    )
    out = canonicalize.apply_canonical(adf, comps).toPandas()
    assert list(out.columns) == ["alias", "entity_id"]
    assert sorted(map(tuple, out.values)) == [
        ("acme", "Q1"), ("acme", "Q1"), ("acme corp", "Q1"), ("beta", "Q9"),
    ]


@pytest.mark.classic_session_only
def test_composed_link_plan_runs_no_job(spark, spark_corpus):
    """Building kg_chain(m, apply_canonical(adf, comps)) launches no
    Spark job: the dictionary composition is a lazy join, not a probe."""
    mentions = extract.extract_mentions(spark_corpus["transcripts"])
    comps = canonicalize.connected_components(spark_corpus["same_as"])
    sc = spark.sparkContext
    sc.setJobGroup("composed_link_plan", "composed_link_plan")
    try:
        linking.kg_chain(
            mentions, canonicalize.apply_canonical(spark_corpus["alias_dict"], comps)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus: drain
    # it so a job that already ran is counted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("composed_link_plan")) == 0


@pytest.mark.parametrize("n", [2, 3])
def test_cc_deterministic(spark, n):
    edges = [(f"Q{i}", f"Q{i + n}") for i in range(1, 30)]
    a = _cc(spark, edges)
    b = _cc(spark, edges)
    assert a == b
