"""Deterministic synthetic transcript corpus generator.

Modeled on the reference's synthetic demo generator (reference:
testing_area/demo_dataset.py:16-56 -- fixed np.random.seed(42), exact
skewed key proportions, chunked files, skip-if-exists resume):

- ``gen_entities``   -> alias dictionary (FIXTURES.md #2): Zipf-skewed
  popularity so a top slice of entities receives ~half of all mentions
  (the high-degree-QID skew analogue; the hot keys of a shuffled link).
- ``gen_same_as``    -> canonicalization edges (FIXTURES.md #3):
  chains, stars (hub skew), and singletons.
- ``gen_transcripts``-> the input table (FIXTURES.md #1), schema exactly
  the BASELINE input_hint: (conv_id string, turn_idx int32, role string,
  text string, tool string, ts timestamp); rows emitted SHUFFLED so the
  stable-ordering reconstruction is actually exercised.

Pure numpy/pandas: the generator runs on the driver and the result is
parallelized via ``spark.createDataFrame`` (Arrow) or written to
parquet. Deterministic for any (seed, size) pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_SYLLABLES = [
    "ac", "bel", "cor", "dan", "el", "fen", "gor", "hal", "ix", "jun",
    "kel", "lor", "mek", "nor", "os", "pel", "quin", "rav", "sol", "tor",
    "ul", "vex", "wob", "xan", "yel", "zor",
]

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "browser", "calculator", "kbase"]

# Sentence templates; {s}/{o} are alias slots, {y} a year, {n} a count.
# One template per rule in rules.RELATION_RULES plus filler/noise.
_REL_TEMPLATES = [
    ("{s} was founded by {o}", "entity"),
    ("{s} works at {o}", "entity"),
    ("{s} is located in {o}", "entity"),
    ("{s} is the ceo of {o}", "entity"),
    ("{s} acquired {o}", "entity"),
    ("{s} was founded in {y}", "year"),
    ("{s} employs {n} people", "num"),
]
_COREF_TEMPLATES = [
    ("it was founded by {o}", "entity"),
    ("it is located in {o}", "entity"),
    ("it acquired {o}", "entity"),
    ("it was founded in {y}", "year"),
]
_FILLER = [
    "thanks for the update",
    "let me check that for you",
    "the weather is nice today",
    "running the requested analysis now",
    "no relevant records were found",
]


def _alias_pool(n: int, rng: np.random.Generator) -> list[str]:
    """n unique single-token aliases, deterministic in rng state."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = rng.integers(2, 4)
        word = "".join(rng.choice(_SYLLABLES) for _ in range(k))
        if word not in seen:
            seen.add(word)
            out.append(word)
    return out


def gen_entities(n_entities: int = 500, seed: int = 42) -> pd.DataFrame:
    """Alias dictionary: (alias, entity_id, entity_label, freq_rank).

    1-3 aliases per entity; freq_rank 0 = hottest. Mention sampling in
    gen_transcripts uses a Zipf(1.1) law over freq_rank.
    """
    rng = np.random.default_rng(seed)
    n_aliases = rng.integers(1, 4, size=n_entities)
    pool = _alias_pool(int(n_aliases.sum()), rng)
    rows = []
    pos = 0
    for i in range(n_entities):
        eid = f"Q{i + 1}"
        k = int(n_aliases[i])
        label = pool[pos]
        for j in range(k):
            rows.append((pool[pos + j], eid, label, i))
        pos += k
    return pd.DataFrame(rows, columns=["alias", "entity_id", "entity_label", "freq_rank"])


def gen_same_as(n_entities: int = 500, seed: int = 42) -> pd.DataFrame:
    """Same-as edges over Q-ids: chains, a hub star, singletons.

    Deterministic closed form so tests/oracles can derive the golden
    component: ids are grouped in blocks of 5 (chain within block) for
    the first 40%% of ids; one hub (Q1) additionally links to the start
    of every 10th block (the skew star); the rest are singletons.
    """
    del seed  # structure is closed-form deterministic
    edges = []
    n_chain = (n_entities * 2) // 5
    for i in range(1, n_chain + 1):
        if i % 5 != 0 and i + 1 <= n_chain:
            edges.append((f"Q{i}", f"Q{i + 1}"))
    for b in range(0, n_chain, 50):  # hub star over every 10th block head
        head = b + 1
        if head != 1 and head <= n_chain:
            edges.append(("Q1", f"Q{head}"))
    return pd.DataFrame(edges, columns=["src_id", "dst_id"])


def golden_components(n_entities: int = 500) -> pd.DataFrame:
    """Closed-form golden (entity_id, canonical_id) for gen_same_as."""
    n_chain = (n_entities * 2) // 5
    star_heads = {b + 1 for b in range(0, n_chain, 50)}
    rows = []
    for i in range(1, n_entities + 1):
        if i <= n_chain:
            block_head = ((i - 1) // 5) * 5 + 1
            canon = "Q1" if block_head in star_heads else f"Q{block_head}"
        else:
            canon = f"Q{i}"
        rows.append((f"Q{i}", canon))
    return pd.DataFrame(rows, columns=["entity_id", "canonical_id"])


# the reference's full scalar dispatch list minus globe-coordinate,
# which gets its own generation branch (reference:
# partitioning/claims.py:19-34)
_PLAIN_SCALARS = [
    "string", "time", "external-id", "url", "commonsMedia", "math",
    "musical-notation", "geo-shape", "tabular-data", "wikibase-lexeme",
    "wikibase-form", "wikibase-sense", "entity-schema",
]


def _gen_qual_snak(prop: str, rng: np.random.Generator, tag: str) -> dict:
    """One qualifier/reference snak: property + datatype + datavalue
    (the inner MAINSNAK shape reused by the reference's QUALS_SCHEMA,
    reference: process.py:151-160)."""
    if rng.random() < 0.5:
        dv = {"type": "string", "value_str": f"{tag}_{prop}_{int(rng.integers(0, 100))}"}
        return {"property": prop, "datatype": "string", "datavalue": dv}
    dv = {"type": "quantity", "amount": float(rng.integers(1, 100))}
    return {"property": prop, "datatype": "quantity", "datavalue": dv}


def gen_entity_rows(n: int = 50, seed: int = 42) -> pd.DataFrame:
    """Reference-shaped nested-JSON entity rows (FIXTURES.md #5).

    Miniature of the wikidata-pq source schema: id + JSON-string columns
    labels/descriptions/aliases/sitelinks/claims, with claims spanning
    all four datatype branches -- wikibase-item, quantity (unit-ful and
    dimensionless), the full 14-type scalar family including
    globe-coordinate with int/float widened lat/lon/precision
    (reference: process.py:118-148), and monolingualtext -- plus
    per-claim qualifiers and references (reference: process.py:160-183)
    and ~10% null alias rows (reference: README.md:48-52).
    """
    import json

    rng = np.random.default_rng(seed)
    langs = ["en", "de", "fr", "es"]
    sites = ["enwiki", "dewiki", "frwiki"]
    rows = []
    for i in range(n):
        qid = f"Q{i + 1}"
        my_langs = sorted(
            rng.choice(langs, size=int(rng.integers(1, len(langs) + 1)), replace=False)
        )
        labels = {
            lang: {"language": lang, "value": f"label_{qid}_{lang}"} for lang in my_langs
        }
        descriptions = {
            lang: {"language": lang, "value": f"desc_{qid}_{lang}"} for lang in my_langs
        }
        if rng.random() < 0.1:
            aliases = None
        else:
            aliases = {
                lang: [
                    {"language": lang, "value": f"alias_{qid}_{lang}_{j}"}
                    for j in range(int(rng.integers(1, 3)))
                ]
                for lang in my_langs
            }
        sitelinks = {
            s: {"site": s, "title": f"title_{qid}_{s}"}
            for s in sites[: int(rng.integers(1, len(sites) + 1))]
        }
        claims: dict[str, list] = {}
        n_claims = int(rng.integers(1, 5))
        for c in range(n_claims):
            prop = f"P{int(rng.integers(1, 30))}"
            u_kind = rng.random()
            if u_kind < 0.25:
                kind = "wikibase-item"
            elif u_kind < 0.45:
                kind = "quantity"
            elif u_kind < 0.60:
                kind = "monolingualtext"
            elif u_kind < 0.72:
                kind = "globe-coordinate"
            else:
                kind = str(rng.choice(_PLAIN_SCALARS))
            pl_langs = sorted(
                rng.choice(langs, size=int(rng.integers(1, len(langs) + 1)), replace=False)
            )
            property_labels = {lang: f"plabel_{prop}_{lang}" for lang in pl_langs}
            dv: dict = {"type": kind}
            if kind == "wikibase-item":
                tgt = f"Q{int(rng.integers(1, n + 1))}"
                dv_langs = sorted(
                    rng.choice(langs, size=int(rng.integers(1, len(langs) + 1)), replace=False)
                )
                dv["value_id"] = tgt
                dv["labels"] = {lang: f"label_{tgt}_{lang}" for lang in dv_langs}
            elif kind == "quantity":
                dv["amount"] = float(rng.integers(1, 1000))
                # ~50% of quantities carry bounds (reference:
                # upperBound/lowerBound, process.py:128-129)
                if rng.random() < 0.5:
                    dv["upper_bound"] = dv["amount"] + float(rng.integers(1, 10))
                    dv["lower_bound"] = dv["amount"] - float(rng.integers(1, 10))
                if rng.random() < 0.5:
                    unit = f"Q{int(rng.integers(1, n + 1))}"
                    dv["unit"] = unit
                    ul_langs = sorted(
                        rng.choice(
                            langs, size=int(rng.integers(1, len(langs) + 1)), replace=False
                        )
                    )
                    dv["unit_labels"] = {lang: f"ulabel_{unit}_{lang}" for lang in ul_langs}
                elif rng.random() < 0.5:
                    dv["unit_labels"] = {}
                # else: key absent entirely -- from_json yields a NULL
                # map; the flattener must treat it as dimensionless
                # (null-safe has_unit gate, operators/flatten.py)
            elif kind == "monolingualtext":
                lang = str(rng.choice(langs))
                dv["text"] = f"mono_{qid}_{c}"
                dv["language"] = lang
                # ~20% of monolingual claims lack the matching property
                # label -> row dropped (inner-join-miss semantics)
                if rng.random() < 0.8 and lang not in property_labels:
                    property_labels[lang] = f"plabel_{prop}_{lang}"
            elif kind == "globe-coordinate":
                # int-or-float union: the raw JSON mixes integer and
                # float coordinates (reference: README.md:64-67), so
                # each field independently lands in the __integer or
                # __number leg of the widening struct
                for field in ("latitude", "longitude"):
                    if rng.random() < 0.5:
                        dv[field] = {f"{field}__integer": int(rng.integers(-89, 90))}
                    else:
                        dv[field] = {
                            f"{field}__number": round(float(rng.uniform(-89, 90)), 6)
                        }
                if rng.random() < 0.5:
                    dv["precision"] = {"precision__integer": 1}
                else:
                    dv["precision"] = {"precision__number": 0.000278}
                dv["globe"] = "Q2"
            elif kind == "time":
                dv["value_str"] = f"+{int(rng.integers(1800, 2026))}-01-01T00:00:00Z"
                dv["timezone"] = int(rng.choice([0, 60, -300]))
                dv["before"] = int(rng.integers(0, 3))
                dv["after"] = int(rng.integers(0, 3))
                dv["calendarmodel"] = "Q1985727"
            else:
                dv["value_str"] = f"{kind}_{qid}_{c}"
            claim = {
                "mainsnak": {
                    "property": prop,
                    "datatype": kind,
                    "datavalue": dv,
                    "property_labels": property_labels,
                },
                "rank": str(rng.choice(["normal", "preferred", "deprecated"])),
            }
            # ~50% of claims carry qualifiers, ~30% references
            # (reference: QUALS_SCHEMA/REFS_SCHEMA, process.py:160-183)
            if rng.random() < 0.5:
                quals: dict[str, list] = {}
                for _ in range(int(rng.integers(1, 3))):
                    qp = f"P{int(rng.integers(30, 40))}"
                    quals.setdefault(qp, []).extend(
                        _gen_qual_snak(qp, rng, "qual")
                        for _ in range(int(rng.integers(1, 3)))
                    )
                claim["qualifiers"] = quals
            if rng.random() < 0.3:
                rp = f"P{int(rng.integers(40, 45))}"
                claim["references"] = [{rp: [_gen_qual_snak(rp, rng, "ref")]}]
            claims.setdefault(prop, []).append(claim)
        rows.append(
            (
                qid,
                json.dumps(labels),
                json.dumps(descriptions),
                json.dumps(aliases) if aliases is not None else None,
                json.dumps(sitelinks),
                json.dumps(claims),
            )
        )
    return pd.DataFrame(
        rows, columns=["id", "labels", "descriptions", "aliases", "sitelinks", "claims"]
    )


def gen_transcripts(
    n_convs: int = 200,
    mean_turns: int = 10,
    n_entities: int = 500,
    seed: int = 42,
    shuffle: bool = True,
) -> pd.DataFrame:
    """Transcript table per BASELINE input_hint, shuffled row order.

    Zipf-skewed conversation lengths and Zipf-skewed entity choice
    (hot entities dominate mentions). ~55%% of turns carry a relation
    sentence, ~15%% a pronoun-coreference sentence, rest filler.
    """
    rng = np.random.default_rng(seed)
    ents = gen_entities(n_entities, seed)
    aliases = ents["alias"].to_numpy()
    # alias popularity follows its entity's Zipf rank
    ranks = ents["freq_rank"].to_numpy().astype(float)
    weights = 1.0 / (ranks + 1.0) ** 1.1
    weights /= weights.sum()

    lengths = np.minimum(
        rng.zipf(1.6, size=n_convs) + mean_turns // 2, mean_turns * 8
    ).astype(np.int64)
    n = int(lengths.sum())

    # fully vectorized row construction (generates millions of turns/sec)
    conv_num = np.repeat(np.arange(n_convs), lengths)
    ends = np.cumsum(lengths)
    t_idx = (np.arange(n) - np.repeat(ends - lengths, lengths)).astype(np.int64)

    u = rng.random(n)
    s_alias = rng.choice(aliases, size=n, p=weights)
    o_alias = rng.choice(aliases, size=n, p=weights)
    years = rng.integers(1900, 2026, size=n).astype(str)
    nums = rng.integers(1, 99999, size=n).astype(str)
    rel_t = rng.integers(0, len(_REL_TEMPLATES), size=n)
    cor_t = rng.integers(0, len(_COREF_TEMPLATES), size=n)
    fil_t = rng.integers(0, len(_FILLER), size=n)
    tool_t = rng.integers(0, len(TOOLS), size=n)

    is_rel = u < 0.55
    is_cor = (~is_rel) & (u < 0.70) & (t_idx > 0)
    sa = pd.Series(s_alias, dtype=object)
    oa = pd.Series(o_alias, dtype=object)
    yr = pd.Series(years, dtype=object)
    nm = pd.Series(nums, dtype=object)

    # masked per-branch composition: each template's strings are built
    # only for its own rows (object-dtype concat, no wide char arrays)
    text = np.empty(n, dtype=object)
    rel_parts = [
        lambda m: sa[m] + " was founded by " + oa[m],
        lambda m: sa[m] + " works at " + oa[m],
        lambda m: sa[m] + " is located in " + oa[m],
        lambda m: sa[m] + " is the ceo of " + oa[m],
        lambda m: sa[m] + " acquired " + oa[m],
        lambda m: sa[m] + " was founded in " + yr[m],
        lambda m: sa[m] + " employs " + nm[m] + " people",
    ]
    for k, make in enumerate(rel_parts):
        m = is_rel & (rel_t == k)
        text[m] = make(m).to_numpy()
    cor_parts = [
        lambda m: "it was founded by " + oa[m],
        lambda m: "it is located in " + oa[m],
        lambda m: "it acquired " + oa[m],
        lambda m: "it was founded in " + yr[m],
    ]
    for k, make in enumerate(cor_parts):
        m = is_cor & (cor_t == k)
        text[m] = make(m).to_numpy()
    m_fil = ~(is_rel | is_cor)
    text[m_fil] = np.array(_FILLER, dtype=object)[fil_t[m_fil]]

    roles = np.array(ROLES)[t_idx % 3]
    tools = np.where(roles == "tool", np.array(TOOLS)[tool_t], None)
    ts = (
        np.datetime64("2026-01-01T00:00:00")
        + (conv_num * 3600 + t_idx * 30).astype("timedelta64[s]")
    )

    pdf = pd.DataFrame(
        {
            "conv_id": np.char.add("c", np.char.zfill(conv_num.astype(str), 6)),
            "turn_idx": t_idx.astype("int32"),
            "role": roles,
            "text": text,
            "tool": tools,
            "ts": pd.to_datetime(ts),
        }
    )
    if shuffle:
        pdf = pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    return pdf


def gen_clustered_embeddings(
    n: int = 512, n_clusters: int = 16, dim: int = 64, seed: int = 123
) -> pd.DataFrame:
    """Deterministic CLUSTERED embedding corpus: ``n_clusters``
    well-separated directions (scaled 4x) plus small isotropic noise
    (0.3) -- IVF's operating assumption, where a correct coarse
    quantizer recovers the clusters and recall at partial probe is
    high. The single source of truth for both the pytest recall floor
    (`test_ivf_recall_floor`) and the benchmarked recall curve
    (`tools/ann_recall.py`), so the regression gate and the published
    curve can never silently measure different corpora (r6 review)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 4.0
    vecs = centers[np.arange(n) % n_clusters] + rng.standard_normal((n, dim)) * 0.3
    return pd.DataFrame(
        {"vec_id": range(n), "embedding": [v.tolist() for v in vecs]}
    )
