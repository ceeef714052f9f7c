from __future__ import annotations

import contextlib
import pathlib

import pytest

from wikidata_pq_spark import datagen
from wikidata_pq_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


# Spark's own Parquet defaults: the format of stores written before the
# package's sessions wrote zstd with INT64 timestamps.
LEGACY_PARQUET = {
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.outputTimestampType": "INT96",
}


@pytest.fixture
def legacy_parquet(spark):
    """A context manager under which ``spark`` writes Parquet in the
    legacy format (snappy, INT96 timestamps); it restores the session's
    settings on exit."""

    @contextlib.contextmanager
    def legacy():
        saved = {k: spark.conf.get(k) for k in LEGACY_PARQUET}
        for k, v in LEGACY_PARQUET.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    return legacy


def _parquet_footers(path, ts_col):
    """The compression codecs of every column chunk, and the physical
    types of ``ts_col``, in the footers of the parquet files under
    ``path``."""
    import pyarrow.parquet as pq

    codecs, ts_types = set(), set()
    for f in pathlib.Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(g).column(c)
                codecs.add(col.compression)
                if col.path_in_schema == ts_col:
                    ts_types.add(col.physical_type)
    return codecs, ts_types


@pytest.fixture
def parquet_footers():
    """``parquet_footers(path, ts_col)`` -> (codecs, ``ts_col`` physical
    types) over the parquet files under ``path``."""
    return _parquet_footers


@pytest.fixture(scope="session")
def corpus():
    """Deterministic small corpus shared by the Spark-side tests."""
    return {
        "transcripts": datagen.gen_transcripts(n_convs=60, mean_turns=8, n_entities=150),
        "alias_dict": datagen.gen_entities(150),
        "same_as": datagen.gen_same_as(150),
    }


@pytest.fixture(scope="session")
def spark_corpus(spark, corpus):
    return {
        "transcripts": spark.createDataFrame(corpus["transcripts"]),
        "alias_dict": spark.createDataFrame(corpus["alias_dict"]),
        "same_as": spark.createDataFrame(corpus["same_as"]),
    }


@pytest.fixture(scope="session")
def conversation_files(spark):
    """``conversation_files(df, path, n_files=8)``: ``df`` (a Spark or
    pandas frame) written as parquet under ``path`` with each
    conversation in one file (``repartition(n_files, "conv_id")``), and
    read back as a bare file scan -- the input ``KGPipeline(n_chunks >
    1)`` takes."""

    def write(df, path, n_files=8):
        if not hasattr(df, "sparkSession"):
            df = spark.createDataFrame(df)
        df.repartition(n_files, "conv_id").write.parquet(str(path))
        return spark.read.parquet(str(path))

    return write


@pytest.fixture(scope="session")
def parquet_corpus(spark, spark_corpus, conversation_files, tmp_path_factory):
    """``spark_corpus`` written as parquet and read back as bare file
    scans, as every caller of ``KGPipeline`` passes its inputs: the
    transcripts in conversation-complete files, the alias dictionary
    and ``same_as`` as one file each."""
    root = tmp_path_factory.mktemp("parquet_corpus")
    corpus = {"transcripts": conversation_files(spark_corpus["transcripts"], root / "transcripts")}
    for name in ("alias_dict", "same_as"):
        spark_corpus[name].coalesce(1).write.parquet(str(root / name))
        corpus[name] = spark.read.parquet(str(root / name))
    return corpus


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "classic_session_only: exercises an API absent from the Spark "
        "Connect client (df.rdd probes, JVM plan access); see "
        "ARCHITECTURE.md 'Spark Connect compatibility seams'",
    )
