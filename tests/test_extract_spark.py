"""Spark extraction vs the pandas oracle + ordering invariant."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wikidata_pq_spark import oracle
from wikidata_pq_spark.operators import extract

KEYS = ["conv_id", "turn_idx", "pred", "subj_mention", "obj_mention"]


def test_extract_matches_oracle(spark_corpus, corpus):
    got = extract.extract_mentions(spark_corpus["transcripts"]).toPandas()
    golden = oracle.oracle_extract(corpus["transcripts"])
    assert sorted(map(tuple, got[KEYS].values)) == sorted(map(tuple, golden[KEYS].values))


def test_extract_partition_invariant(spark_corpus, corpus):
    """Result must not depend on input partitioning."""
    tdf = spark_corpus["transcripts"]
    a = extract.extract_mentions(tdf.repartition(13)).toPandas()
    b = extract.extract_mentions(tdf.coalesce(1)).toPandas()
    assert sorted(map(tuple, a[KEYS].values)) == sorted(map(tuple, b[KEYS].values))


def test_three_paths_equal_on_adversarial_text(spark):
    """sql / partitions extraction are result-identical on
    randomized adversarial text (multiple matches per turn, pronoun
    chains and pronoun-first turns, empty/whitespace/punctuation text,
    rule keywords split across turns) -- beyond the datagen templates."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(99)
    words = ["acme", "zorg", "belco", "it", "the", "plant", "x9", ""]
    templates = [
        "{a} was founded by {b} and {a} acquired {c}",   # two matches, one turn
        "it was founded by {b}",                          # pronoun (maybe first turn)
        "it acquired {c} it is located in {b}",           # double pronoun
        "{a} works at {b}",
        "   ",                                            # whitespace only
        "was founded by",                                 # keyword, no operands
        "{a} employs 42 people: {b}!",                    # punctuation adjacency
        "{a} is the ceo of {b} is the ceo of {c}",        # overlapping phrases
    ]
    rows = []
    for c in range(30):
        for t in range(int(rng.integers(1, 7))):
            tpl = templates[int(rng.integers(0, len(templates)))]
            a, b, cc = (str(rng.choice(words)) for _ in range(3))
            rows.append((f"c{c:03d}", t, tpl.format(a=a, b=b, c=cc)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    tdf = spark.createDataFrame(pdf)

    results = {}
    for method in ("sql", "partitions"):
        got = extract.extract_mentions(tdf, method=method).toPandas()
        results[method] = sorted(map(tuple, got[KEYS].values))
    assert results["sql"] == results["partitions"]
    with pytest.raises(ValueError, match="unknown method 'grouped'"):
        extract.extract_mentions(tdf, method="grouped")
    # and all equal the single-process oracle
    golden = oracle.oracle_extract(pdf)
    assert results["sql"] == sorted(map(tuple, golden[KEYS].values))


def test_extraction_null_text_rows_are_inert(spark):
    """NULL text / NULL tool rows must not crash any extraction path
    and must contribute zero mentions; the remaining rows extract
    exactly as if the NULL rows were absent (both Catalyst and Arrow
    paths)."""
    import pandas as pd

    from wikidata_pq_spark.operators import extract

    clean = pd.DataFrame(
        [
            ("c1", 0, "user", "acme was founded by alice", None, None),
            ("c1", 1, "assistant", "it acquired globex", None, None),
            ("c2", 0, "user", "bob works at initech", None, None),
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    dirty = pd.concat(
        [
            clean,
            pd.DataFrame(
                [
                    ("c1", 2, "tool", None, "search", None),   # NULL text
                    ("c3", 0, None, None, None, None),          # all-NULL turn
                ],
                columns=clean.columns,
            ),
        ],
        ignore_index=True,
    )
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    key = ["conv_id", "turn_idx", "pred", "subj_mention", "obj_mention"]
    want = (
        extract.extract_mentions(spark.createDataFrame(clean, schema=schema))
        .toPandas()[key].sort_values(key).reset_index(drop=True)
    )
    assert len(want) > 0
    for method in ("sql", "partitions"):
        got = (
            extract.extract_mentions(
                spark.createDataFrame(dirty, schema=schema), method=method
            )
            .toPandas()[key].sort_values(key).reset_index(drop=True)
        )
        assert got.equals(want), f"method={method} diverged on NULL rows"


def test_session_case_maps_with_the_jvm(spark):
    """``get_spark`` turns ICU case mapping off, so the first lower()
    does not pay ICU's title-case table build."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


# Pinned strings where a case mapping can go wrong: Latin-1 accents,
# Greek final sigma, dotted capital I, capital sharp s, the titlecase
# digraphs and the Kelvin sign. Over all 1,112,064 scalar code points,
# Spark's JVM path (Java 17) differs from Python 3.11's str.lower
# (Unicode 14) on 40 characters added in Unicode 14, and the ICU path
# on 27 added in Unicode 15-16; neither setting is Python-exact, so
# P/R = 1.0 against the oracle rests on the corpora's characters.
CASE_STRINGS = [
    "Hello World 42",
    "Café Ñandú ÀÉÎÕÜ",
    "ΟΔΟΣ ΣΟΦΟΣ",
    "İSTANBUL",
    "STRASSE ẞ",
    "ǅ ǈ ǋ",
    "\u212a",  # KELVIN SIGN, lowercases to ASCII k
]


def test_spark_lower_matches_python_lower(spark):
    """The extractor lowercases with Spark's lower(), the oracle (and
    the Arrow path) with Python's str.lower: equal on the pinned set."""
    df = spark.createDataFrame([(s,) for s in CASE_STRINGS], "t string")
    got = [r[0] for r in df.select(F.lower("t")).collect()]
    assert got == [s.lower() for s in CASE_STRINGS]
