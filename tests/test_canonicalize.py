"""Connected components + canonical alias dictionary."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from wikidata_pq_spark import datagen, oracle
from wikidata_pq_spark.operators import canonicalize, extract, linking
from wikidata_pq_spark.sources import tableio


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


def _path_taken(monkeypatch, same_as):
    """Which path ``connected_components`` picks for ``same_as``, with
    both paths stubbed so nothing but the choice runs."""
    taken = []
    for name in ("_driver_components", "_distributed_components"):
        monkeypatch.setattr(canonicalize, name, lambda df, n=name: taken.append(n))
    canonicalize.connected_components(same_as)
    return taken


@pytest.mark.classic_session_only
def test_cc_path_choice_runs_no_job(spark, spark_corpus, monkeypatch):
    """The driver/distributed switch reads the plan's size estimate: no
    count probe, no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("cc_path_choice", "cc_path_choice")
    try:
        taken = _path_taken(monkeypatch, spark_corpus["same_as"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("cc_path_choice")) == 0
    assert taken == ["_driver_components"]


@pytest.mark.classic_session_only
@pytest.mark.parametrize("n", [2000, 717_000])
def test_cc_driver_path_up_to_235k_edges(spark, tmp_path, monkeypatch, n):
    """gen_same_as(717_000) has 235,175 edges; union-find on the driver
    takes 3.4-4.5 s there, the distributed rounds 11.7-25 s. Both it and
    a benchmark-sized graph take the driver path, read from pandas or
    from parquet."""
    sdf = spark.createDataFrame(datagen.gen_same_as(n))
    sdf.write.parquet(str(tmp_path / "same_as"))
    for frame in (sdf, spark.read.parquet(str(tmp_path / "same_as"))):
        assert _path_taken(monkeypatch, frame) == ["_driver_components"]


@pytest.mark.classic_session_only
def test_cc_unsized_source_takes_distributed_path(spark, monkeypatch):
    """A frame Catalyst cannot size (a Python list becomes an RDD scan)
    estimates Long.MaxValue: no bound admits it to the driver."""
    sdf = spark.createDataFrame([("Q1", "Q2")], "src_id string, dst_id string")
    assert _path_taken(monkeypatch, sdf) == ["_distributed_components"]


def _pandas_edges(spark, sa, tmp_path):
    """A local relation: sized by Catalyst, so the driver path, which
    collects it."""
    return spark.createDataFrame(sa)


def _parquet_edges(spark, sa, tmp_path):
    """A bare parquet scan: the driver path reads its files itself."""
    spark.createDataFrame(sa).write.parquet(str(tmp_path / "same_as"))
    return spark.read.parquet(str(tmp_path / "same_as"))


def _rdd_edges(spark, sa, tmp_path):
    """An RDD scan: unsized (Long.MaxValue), so the distributed path."""
    rows = list(zip(sa["src_id"], sa["dst_id"]))
    return spark.createDataFrame(rows, "src_id string, dst_id string")


@pytest.mark.classic_session_only
@pytest.mark.parametrize(
    "edges, cc_path, jobs",
    [
        (_pandas_edges, "driver", 1),
        (_parquet_edges, "driver", 0),
        (_rdd_edges, "distributed", None),
    ],
    ids=["driver-collect", "driver-files", "distributed"],
)
def test_write_components_stores_union_find(spark, tmp_path, monkeypatch, edges, cc_path, jobs):
    """``write_components`` stores the oracle's map on either path and
    returns the path taken, the estimate that chose it and the rows
    written. On the driver path the edges' collect is its only Spark
    job, and a bare parquet scan is read from its files with none: the
    driver writes the map itself, as one visible part file, so no task
    carries the map. The distributed path writes through
    ``tableio.write_partitioned``, as the store's other Spark sinks do."""
    writes, write = [], tableio.write_partitioned
    monkeypatch.setattr(
        tableio, "write_partitioned",
        lambda df, path, cols: writes.append(path) or write(df, path, cols),
    )
    sa = datagen.gen_same_as(200)
    golden = oracle.union_find_components(sa)
    frame = edges(spark, sa, tmp_path)
    path = str(tmp_path / "components")
    sc = spark.sparkContext
    group = f"write_components_{edges.__name__}"
    sc.setJobGroup(group, group)
    try:
        record = canonicalize.write_components(frame, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    got = spark.read.schema(canonicalize.COMPONENTS_DDL).parquet(path).toPandas()
    assert dict(zip(got["entity_id"], got["canonical_id"])) == golden
    assert record["cc_path"] == cc_path
    assert record["components"] == len(got) == len(golden)
    below = record["cc_estimated_bytes"] <= canonicalize.DRIVER_MAX_BYTES
    assert below == (cc_path == "driver")
    assert writes == ([] if below else [path])
    if cc_path == "driver":
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
        assert os.listdir(path) == ["part-00000.parquet"]


def test_components_file_is_independent_of_hash_seed(tmp_path):
    """The map ``write_components`` stores on the driver path is built
    from a set, whose order follows ``PYTHONHASHSEED``; ``_map_table``
    sorts it, so two processes with different seeds write byte-identical
    files."""
    import subprocess
    import sys

    script = (
        "import sys\n"
        "from wikidata_pq_spark import datagen, oracle\n"
        "from wikidata_pq_spark.operators import canonicalize\n"
        "from wikidata_pq_spark.sources import tableio\n"
        "comp = oracle.union_find_components(datagen.gen_same_as(2000))\n"
        "tableio.write_arrow(canonicalize._map_table(comp), sys.argv[1], 'zstd')\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = []
    for seed in ("1", "2"):
        out = str(tmp_path / f"seed{seed}")
        env = {**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": repo}
        subprocess.run([sys.executable, "-c", script, out], env=env, check=True, timeout=120)
        with open(os.path.join(out, "part-00000.parquet"), "rb") as fh:
            files.append(fh.read())
    assert files[0] == files[1]
