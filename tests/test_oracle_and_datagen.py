"""Oracle + datagen invariants (pure pandas)."""

from __future__ import annotations

from wikidata_pq_spark import datagen, oracle


def test_union_find_matches_closed_form():
    sa = datagen.gen_same_as(300)
    comp = oracle.union_find_components(sa)
    golden = dict(
        zip(*datagen.golden_components(300)[["entity_id", "canonical_id"]].T.values)
    )
    for eid, canon in comp.items():
        assert golden[eid] == canon


def test_alias_dict_unique_and_skewed():
    ents = datagen.gen_entities(200)
    assert ents["alias"].is_unique
    assert ents["entity_id"].nunique() == 200
    # every entity's label is one of its aliases
    by_ent = ents.groupby("entity_id")
    for eid, grp in by_ent:
        assert (grp["entity_label"].iloc[0] in set(grp["alias"]))


def _alias_pool_reference(n, rng):
    """``datagen._alias_pool`` as it was written first, with
    ``rng.choice`` over the syllable list."""
    seen, out = set(), []
    while len(out) < n:
        k = rng.integers(2, 4)
        word = "".join(rng.choice(datagen._SYLLABLES) for _ in range(k))
        if word not in seen:
            seen.add(word)
            out.append(word)
    return out


def test_alias_pool_draws_as_the_choice_reference():
    """The pool, and the generator's state after it, equal the
    reference's, so every datagen-derived corpus is unchanged."""
    import numpy as np

    for seed, n in [(s, n) for s in (0, 1, 7, 42, 301, 999) for n in (10, 600)] + [(42, 8000)]:
        got_rng, ref_rng = np.random.default_rng(seed), np.random.default_rng(seed)
        assert datagen._alias_pool(n, got_rng) == _alias_pool_reference(n, ref_rng), (seed, n)
        assert got_rng.bit_generator.state == ref_rng.bit_generator.state, (seed, n)


def test_transcripts_schema_and_shuffling():
    tr = datagen.gen_transcripts(n_convs=40, mean_turns=6, n_entities=100)
    assert list(tr.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert str(tr["turn_idx"].dtype) == "int32"
    # shuffled: first rows are not in (conv, turn) order
    head = tr.head(50)[["conv_id", "turn_idx"]]
    assert not head.equals(head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    # dense turn_idx per conversation
    for _, grp in tr.groupby("conv_id"):
        idx = sorted(grp["turn_idx"])
        assert idx == list(range(len(idx)))
    # ts monotone within conversation
    srt = tr.sort_values(["conv_id", "turn_idx"])
    for _, grp in srt.groupby("conv_id"):
        assert grp["ts"].is_monotonic_increasing


def test_datagen_deterministic():
    a = datagen.gen_transcripts(n_convs=20, mean_turns=5, n_entities=50)
    b = datagen.gen_transcripts(n_convs=20, mean_turns=5, n_entities=50)
    assert a.equals(b)


def test_mention_skew_is_zipf():
    tr = datagen.gen_transcripts(n_convs=150, mean_turns=10, n_entities=300)
    ents = datagen.gen_entities(300)
    m = oracle.oracle_extract(tr)
    linked = oracle.oracle_link(m, ents)
    counts = linked["subj"].value_counts()
    # hot head: top 5% of entities take a large share of mentions
    top = counts.head(max(1, len(counts) // 20)).sum()
    assert top / counts.sum() > 0.3


def test_precision_recall_metric():
    import pandas as pd

    g = pd.DataFrame({"subj": ["a", "b"], "pred": ["p", "p"], "obj": ["x", "y"]})
    t = pd.DataFrame({"subj": ["a", "c"], "pred": ["p", "p"], "obj": ["x", "z"]})
    p, r = oracle.precision_recall(g, t)
    assert p == 0.5 and r == 0.5
