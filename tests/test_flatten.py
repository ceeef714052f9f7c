"""Reference-parity flattening: Spark idioms vs a pure-python golden.

The golden flattener below re-implements the reference's semantics
(reference: process.py:42-103, claims.py:37-213) directly over parsed
JSON, independently of the Spark operator code -- so agreement means
our explode/unnest/join pipeline reproduces the reference's
entity->rows mapping.
"""

from __future__ import annotations

import json

import pytest

from wikidata_pq_spark import datagen
from wikidata_pq_spark.operators import flatten


@pytest.fixture(scope="module")
def entity_rows():
    return datagen.gen_entity_rows(40, seed=42)


@pytest.fixture(scope="module")
def sdf(spark, entity_rows):
    return spark.createDataFrame(entity_rows)


def golden_labels(pdf, column):
    out = []
    for _, r in pdf.iterrows():
        for v in json.loads(r[column]).values():
            out.append((r["id"], v["language"], v["value"]))
    return sorted(out)


def golden_aliases(pdf):
    out = []
    for _, r in pdf.iterrows():
        if r["aliases"] is None:
            continue
        for vs in json.loads(r["aliases"]).values():
            for v in vs:
                out.append((r["id"], v["language"], v["value"]))
    return sorted(out)


def golden_links(pdf):
    out = []
    for _, r in pdf.iterrows():
        for v in json.loads(r["sitelinks"]).values():
            out.append((r["id"], v["site"], v["title"]))
    return sorted(out)


def _norm(v):
    import pandas as pd

    if v is None or v is pd.NA or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    return str(v)


def test_labels_descriptions(sdf, entity_rows):
    got = sorted(map(tuple, flatten.flatten_labels(sdf, "labels").toPandas().values))
    assert got == golden_labels(entity_rows, "labels")
    got_d = sorted(
        map(tuple, flatten.flatten_labels(sdf, "descriptions").toPandas().values)
    )
    assert got_d == golden_labels(entity_rows, "descriptions")


def test_aliases_null_rows_dropped(sdf, entity_rows):
    got = sorted(map(tuple, flatten.flatten_aliases(sdf).toPandas().values))
    assert got == golden_aliases(entity_rows)
    n_null = entity_rows["aliases"].isna().sum()
    assert n_null > 0  # fixture exercises the null path


def test_links(sdf, entity_rows):
    got = sorted(map(tuple, flatten.flatten_links(sdf).toPandas().values))
    assert got == golden_links(entity_rows)


def _scalar_projection(df):
    """Spark flatten output -> the golden's scalar columns + snak counts."""
    from pyspark.sql import functions as F

    n_qual = F.coalesce(
        F.aggregate(F.map_values("qualifiers"), F.lit(0), lambda acc, v: acc + F.size(v)),
        F.lit(0),
    ).alias("n_qual_snaks")
    n_ref = F.coalesce(
        F.aggregate(
            "references",
            F.lit(0),
            lambda acc, m: acc
            + F.aggregate(F.map_values(m), F.lit(0), lambda a, v: a + F.size(v)),
        ),
        F.lit(0),
    ).alias("n_ref_snaks")
    return df.select(*[c for c, _ in flatten._OUT_COLS], n_qual, n_ref)


def test_claims_four_branches(sdf, entity_rows):
    """Full-row equality (incl. globe-coordinate widening and qualifier/
    reference snak counts) against the independent python golden
    flattener (oracle.golden_flatten_claims)."""
    from wikidata_pq_spark import oracle

    fl = flatten.flatten_claims(sdf)
    pdf = _scalar_projection(fl).toPandas()
    # all four branch families present (plus >= 2 plain scalar types)
    seen = set(pdf["datatype"])
    assert {"wikibase-item", "quantity", "monolingualtext", "globe-coordinate"} <= seen
    assert len(seen - {"wikibase-item", "quantity", "monolingualtext", "globe-coordinate"}) >= 2
    golden = oracle.golden_flatten_claims(entity_rows)
    cols = oracle.FLAT_CLAIM_COLUMNS
    got = sorted("\x01".join(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False))
    exp = sorted("\x01".join(_norm(v) for v in row) for row in golden[cols].itertuples(index=False))
    assert got == exp
    # the fixture exercises both legs of the int/float widening
    lat = golden[golden["datatype"] == "globe-coordinate"]["latitude"]
    assert (lat == lat.round(0)).any() and (lat != lat.round(0)).any()
    # and the qualifier/reference columns carry real payload
    assert (golden["n_qual_snaks"] > 0).any() and (golden["n_ref_snaks"] > 0).any()


def test_quantity_missing_unit_labels_not_dropped(sdf, entity_rows):
    """A quantity claim whose JSON omits unit_labels entirely must land
    in the dimensionless branch, not vanish (null-safe has_unit gate:
    from_json yields a NULL map, and `size(map_keys(NULL)) > 0` is NULL,
    which fails BOTH filter(has_unit) and filter(~has_unit))."""
    import json

    # the fixture must exercise the absent-key path
    n_absent = 0
    for claims_json in entity_rows["claims"].dropna():
        for clist in json.loads(claims_json).values():
            for cl in clist:
                dv = cl["mainsnak"]["datavalue"]
                if cl["mainsnak"]["datatype"] == "quantity" and "unit_labels" not in dv:
                    n_absent += 1
    assert n_absent > 0, "fixture no longer exercises absent unit_labels"

    fl = flatten.flatten_claims(sdf).filter("datatype = 'quantity'").toPandas()
    from wikidata_pq_spark import oracle

    golden = oracle.golden_flatten_claims(entity_rows)
    gq = golden[golden["datatype"] == "quantity"]
    # row-for-row parity on the quantity branch (the golden emits the
    # absent-unit_labels rows; before the null-safe gate Spark dropped them)
    assert len(fl) == len(gq)
    assert (fl["datavalue_label"].isna()).any()


def test_qualifiers_references_structure(sdf, entity_rows):
    """The qualifiers/references columns survive every branch with their
    full structure: per flattened row, the qualifier snak payloads match
    the source JSON claim's qualifiers exactly."""
    rows = (
        flatten.flatten_claims(sdf)
        .select("id", "property", "datatype", "qualifiers", "references")
        .toPandas()
    )
    # source lookup: (id, property, datatype) -> list of qualifier dicts
    src: dict = {}
    for _, r in entity_rows.iterrows():
        for cl_list in json.loads(r["claims"]).values():
            for cl in cl_list:
                k = (r["id"], cl["mainsnak"]["property"], cl["mainsnak"]["datatype"])
                src.setdefault(k, []).append(
                    (cl.get("qualifiers") or {}, cl.get("references") or [])
                )

    def qual_sig(qmap):
        # {prop: [snak...]} -> sorted (prop, datatype, value_str/amount)
        out = []
        for p, snaks in (qmap or {}).items():
            for s in snaks:
                dv = s["datavalue"] if isinstance(s, dict) else s.datavalue
                vs = dv.get("value_str") if isinstance(dv, dict) else dv.value_str
                am = dv.get("amount") if isinstance(dv, dict) else dv.amount
                dt = s.get("datatype") if isinstance(s, dict) else s.datatype
                out.append((p, dt, vs, am))
        return sorted(map(str, out))

    seen_branches = set()
    checked = 0
    for _, r in rows.iterrows():
        candidates = src[(r["id"], r["property"], r["datatype"])]
        got_sig = qual_sig(
            {k: list(v) for k, v in r["qualifiers"].items()} if r["qualifiers"] else {}
        )
        assert got_sig in [qual_sig(q) for q, _ in candidates]
        if got_sig:
            seen_branches.add(r["datatype"])
            checked += 1
    assert checked > 0
    # qualifiers observed surviving through multiple datatype branches
    assert len(seen_branches) >= 3


def test_id_preservation_audit(sdf, entity_rows):
    """The reference's (currently commented) ID-preservation check
    (reference: process.py:106-108): labels/links keep every id;
    aliases exempt (null rows dropped by design)."""
    n_ids = entity_rows["id"].nunique()
    assert flatten.flatten_labels(sdf, "labels").select("id").distinct().count() == n_ids
    assert flatten.flatten_links(sdf).select("id").distinct().count() == n_ids
    n_alias_ids = flatten.flatten_aliases(sdf).select("id").distinct().count()
    assert n_alias_ids == (entity_rows["aliases"].notna()).sum()


def test_partition_entity_tables(spark, sdf, entity_rows, tmp_path):
    """The reference's PARTITION stage end-to-end: five Hive-partitioned
    sinks, each with its per-partition audit rows in the (table x
    source) unit's log record, all post-checked."""
    import os

    from wikidata_pq_spark.pipeline import PARTITION_KEYS, partition_entity_tables
    from wikidata_pq_spark.plans.checkpoint import StateStore, Step

    out = str(tmp_path / "results")
    ok = partition_entity_tables(sdf, out, source_name="chunk_0")
    assert ok == {t: True for t in PARTITION_KEYS}
    # hive layout per source and table key (reference:
    # results/<tbl>/language=X/), one source level per table
    assert os.listdir(out + "/labels") == ["source=chunk_0"]
    assert any(d.startswith("language=") for d in os.listdir(out + "/labels/source=chunk_0"))
    assert any(d.startswith("site=") for d in os.listdir(out + "/links/source=chunk_0"))
    # the audit rows live in the log, one unit per table x source, and
    # no sidecar table is written
    assert sorted(os.listdir(out)) == sorted([*PARTITION_KEYS, "_log"])
    st = StateStore(out + "/_log")
    for table, key in PARTITION_KEYS.items():
        assert os.listdir(f"{out}/_log/{table}") == ["chunk_0"]
        assert st.get(f"{table}/chunk_0") == Step.MATERIALIZED
        record = st.metrics(f"{table}/chunk_0")
        assert record["source_name"] == "chunk_0"
        assert {key, "rows", "min_id", "max_id"} == set(record["audit"][0])
    claims = st.metrics("claims/chunk_0")
    assert sum(r["rows"] for r in claims["audit"]) == spark.read.parquet(out + "/claims").count()
    # re-read equals the flatten row count (ID-preservation style audit)
    n = spark.read.parquet(out + "/labels").count()
    assert n == flatten.flatten_labels(sdf, "labels").count()
    # claims keep qualifiers/references through the partitioned sink
    claims = spark.read.parquet(out + "/claims")
    assert "qualifiers" in claims.columns and "references" in claims.columns


def test_partition_sources_keep_their_own_rows(spark, entity_rows, tmp_path):
    """Two sources partitioned into one out_dir: each writes its own
    ``source=<name>`` level, so both pass their own record's check, and
    a re-run of one leaves the other's rows in place."""
    import os

    from wikidata_pq_spark.pipeline import PARTITION_KEYS, partition_entity_tables
    from wikidata_pq_spark.plans.checkpoint import StateStore
    from wikidata_pq_spark.sources import tableio

    out = str(tmp_path / "results")
    halves = {
        "src_a": spark.createDataFrame(entity_rows.iloc[:20]),
        "src_b": spark.createDataFrame(entity_rows.iloc[20:]),
    }
    st = StateStore(out + "/_log")

    def claims_of(source):
        rows = spark.read.parquet(f"{out}/claims/source={source}").select("id", "property")
        return sorted(map(tuple, rows.collect()))

    for source, frame in halves.items():
        assert all(partition_entity_tables(frame, out, source).values())
    claims_b = claims_of("src_b")
    assert all(partition_entity_tables(halves["src_a"], out, "src_a").values())
    for table, key in PARTITION_KEYS.items():
        assert sorted(os.listdir(f"{out}/{table}")) == ["source=src_a", "source=src_b"]
        for source in halves:
            path = f"{out}/{table}/source={source}"
            record = st.metrics(f"{table}/{source}")
            assert tableio.check_recorded(path, record, [key], "id")
    assert claims_of("src_b") == claims_b
    recorded = [r["rows"] for s in halves for r in st.metrics(f"claims/{s}")["audit"]]
    assert spark.read.parquet(f"{out}/claims").count() == sum(recorded)
