"""Driver-contract sanity: a sample of queries vs their DuckDB oracles
at sf0.001 (the full sweep lives in tools/check_contract.py)."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
import pytest

from wikidata_pq_spark import contracts

SF = "/root/testdata/sf0.001"

SAMPLE = [
    "a1_pricing_summary",
    "a7_running_revenue",
    "j1_rowid_token_join",
    "w1_topk_per_group",
    "u1_diagonal_concat",
    "ann_topk_bruteforce",
    "cc_components",
]

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF), reason="driver testdata not present"
)


def _norm(v):
    if v is None or v is pd.NA or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _vhash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "\x01".join(_norm(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in contracts.TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, con, name):
    got = contracts.QUERIES[name](spark, SF).toPandas()
    exp = con.sql(contracts.ORACLE_SQL[name]).df()
    assert len(got) == len(exp)
    assert sorted(got.columns) == sorted(exp.columns)
    assert _vhash(got) == _vhash(exp)


def test_every_oracle_key_has_query():
    assert set(contracts.ORACLE_SQL) <= set(contracts.QUERIES) | set(
        contracts.EXTRA_QUERIES
    )


def test_driver_window_cap():
    """The driver's correctness gate checks the FIRST 50 entries of
    queries(); every entry must sit inside that hard-signal window and
    no key may be silently double-registered."""
    assert len(contracts.QUERIES) <= 50
    assert not set(contracts.QUERIES) & set(contracts.EXTRA_QUERIES)


SF_GATE = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con_gate():
    if not os.path.exists(SF_GATE):
        pytest.skip("gate-sf testdata not present")
    c = duckdb.connect()
    for t in contracts.TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_GATE}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", sorted(contracts.EXTRA_QUERIES))
def test_extra_query_matches_oracle(spark, con_gate, name):
    """Retired driver-window cells keep the identical local gate:
    row-count + schema + order-insensitive value-hash vs DuckDB -- at
    the GATE sf (0.01), because exported-step oracles (ann_lsh_bucketed)
    only write their trusted artifact there."""
    got = contracts.EXTRA_QUERIES[name](spark, SF_GATE).toPandas()
    exp = con_gate.sql(contracts.ORACLE_SQL[name]).df()
    assert len(got) == len(exp)
    assert sorted(got.columns) == sorted(exp.columns)
    assert _vhash(got) == _vhash(exp)


def test_rows_only_queries_run(spark):
    for name in ["dedup_minhash_lsh", "mm_decode_features"]:
        assert contracts.QUERIES[name](spark, SF).count() >= 0


def test_partition_stage_audit_keeps_rows_in_the_log(spark):
    """The PARTITION-stage cell returns the audit rows its sink recorded
    in the (claims x contract) unit's log, and writes no sidecar table
    beside the sink."""
    from wikidata_pq_spark.plans.checkpoint import StateStore

    got = contracts.QUERIES["partition_stage_audit"](spark, SF).toPandas()
    out = os.path.join(contracts.ORACLE_EXPORT_DIR, "partition_stage_sf0.001")
    assert sorted(os.listdir(out)) == ["_log", "claims"]
    recorded = StateStore(out + "/_log").metrics("claims/contract")["audit"]
    cols = ["language", "rows", "min_id", "max_id"]
    want = sorted(("contract", *(r[c] for c in cols)) for r in recorded)
    assert sorted(map(tuple, got[["source", *cols]].values)) == want


def test_oracle_export_dir_is_per_checkout(tmp_path):
    """Two checkouts export their oracle parquets to two directories, so
    checking both at once overwrites neither; one checkout always uses
    the same one."""
    import shutil
    import subprocess
    import sys

    pkg = os.path.dirname(contracts.__file__)
    shutil.copytree(pkg, tmp_path / "wikidata_pq_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))

    def export_dir(root):
        code = "from wikidata_pq_spark import contracts; print(contracts.ORACLE_EXPORT_DIR)"
        proc = subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
            env={**os.environ, "PYTHONPATH": str(root)}, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return proc.stdout.strip().splitlines()[-1]

    here = export_dir(os.path.dirname(pkg))
    assert here == contracts.ORACLE_EXPORT_DIR
    assert export_dir(tmp_path) != here
