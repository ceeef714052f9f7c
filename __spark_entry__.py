"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``wikidata_pq_spark.contracts`` (relational
operators from SURVEY.md §2, dedup/similarity/text-analysis operators,
and the KG pipeline itself).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from wikidata_pq_spark import contracts  # noqa: E402
from wikidata_pq_spark import datagen  # noqa: E402
from wikidata_pq_spark.operators import canonicalize, extract, linking  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full transcript->triples KG pipeline.

    Runs extraction (Catalyst regex) and broadcast entity linking
    through the alias dictionary composed with the same-as connected
    components (mentions resolve straight to canonical ids) on the
    deterministic synthetic corpus scaled for sf0.001; driver checks
    rows>0 and stable schema.
    """
    tdf, adf, sdf = contracts._kg_inputs(spark, "/root/testdata/sf0.001")
    mentions = extract.extract_mentions(tdf)
    comps = canonicalize.connected_components(sdf)
    canon_dict = canonicalize.apply_canonical(adf, comps)
    return (
        linking.kg_chain(mentions, canon_dict)
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
        .distinct()
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    training-data-pipeline operators and the KG pipeline stages)."""
    return dict(contracts.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for EVERY query (no rows-only checks
    left). Three oracle classes, by independence:

    - FULLY INDEPENDENT (most queries): plain ANSI recomputation over
      the testdata views; and the kg_*/flatten_claims goldens, which
      are parquets computed by separate driver-side implementations
      (pandas oracle pipeline / python golden flattener) that share no
      code with the Spark path.
    - EXPORTED-STEP (dedup_minhash_lsh, dedup_simhash, dedup_near_dup,
      embedding_near_pairs, ann_lsh_bucketed, ann_ivf): the
      probabilistic/driver-side artifact (minhash/simhash signatures,
      LSH candidate sets, hyperplane buckets, IVF cells+probes) is
      exported at the gate sf and TRUSTED by the SQL, which re-derives
      everything downstream (banding, bucket joins, Hamming chunks,
      cosine ranking, verify filters) from scratch. The trusted steps
      are separately pinned by independent pure-python references in
      tests/test_dedup_reference.py (own xxh64 + MinHash fold + SimHash
      votes, bit-for-bit) and tests/test_similarity_textstats.py
      (IVF full-probe == brute force; Arrow vs literal assignment
      equality).
    - STREAMING-ONLY ops have pytest coverage instead of SQL (none in
      this dict)."""
    return dict(contracts.ORACLE_SQL)
