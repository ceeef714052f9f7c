"""Custom Python DataSource: executor-side synthetic transcripts."""

from __future__ import annotations

import pytest

from wikidata_pq_spark.sources import transcript_source


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    transcript_source.register(spark)


def _read(spark, **opts):
    r = spark.read.format("synthetic_transcripts")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_schema_matches_input_hint(spark):
    df = _read(spark, n_convs=20, n_partitions=2)
    assert df.schema.simpleString() == (
        "struct<conv_id:string,turn_idx:int,role:string,text:string,"
        "tool:string,ts:timestamp>"
    )


def test_partitioned_generation_deterministic(spark):
    df1 = _read(spark, n_convs=100, mean_turns=8, n_partitions=4)
    df2 = _read(spark, n_convs=100, mean_turns=8, n_partitions=4)
    assert df1.count() == df2.count() > 0
    a = sorted(map(tuple, df1.toPandas().astype(str).values))
    b = sorted(map(tuple, df2.toPandas().astype(str).values))
    assert a == b
    # conv count and slice-prefixed ids: 4 slices x 25 convs
    convs = df1.select("conv_id").distinct().toPandas()["conv_id"]
    assert len(convs) == 100
    assert {c.split("_")[0] for c in convs} == {"s0", "s1", "s2", "s3"}


def test_physical_partitions_match_option(spark):
    df = _read(spark, n_convs=100, n_partitions=4)
    assert df.rdd.getNumPartitions() == 4


def test_pipeline_runs_on_generated_source(spark):
    """The generated source feeds the KG extractor end-to-end."""
    from wikidata_pq_spark import datagen
    from wikidata_pq_spark.operators import extract, linking

    df = _read(spark, n_convs=60, mean_turns=8, n_entities=100, n_partitions=3)
    adf = spark.createDataFrame(datagen.gen_entities(100))
    out = linking.kg_chain(extract.extract_mentions(df), adf)
    assert out.count() > 0
    # ts rides along since r5 (wall-clock current-beliefs ordering)
    assert set(out.columns) == {
        "subj", "pred", "obj", "obj_kind", "conv_id", "turn_idx", "ts",
    }
