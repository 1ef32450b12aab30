"""Driver-gate rehearsal: run every CONTRACT query on Spark AND its DuckDB
oracle on the same parquet tables, compare row count, column names, and exact
values (order-insensitive) — a strict local mirror of the driver's
CORRECTNESS check at sf=0.001 for speed.

The contract (arkhammirror_spark/contract.py) is the consolidated 50-entry
registry the driver actually sees; merged entries evaluate every part-level
query of contract.QUERIES inside them, so this suite covers the full part
registry through the exact surface the driver checks."""

import math
import os

import duckdb
import pytest

from arkhammirror_spark.contract import build_contract

QUERIES, ORACLE_SQL = build_contract()

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(val):
    if val is None:
        return None
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return round(val, 9)
    if isinstance(val, (list, tuple)):
        return tuple(_canon(v) for v in val)
    return str(val)


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


# genuinely-approximate or non-SQL ops: the driver records a weaker
# rows-only check for these; keep the set explicit so nothing silently
# drops out of oracle coverage. Round 3: EMPTY — ann_lsh_topk now has a
# fully exact oracle (plane-literal bucket mirror) and ann_ivf_topk a
# pinned recall gate.
ROWS_ONLY: set[str] = set()


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    if name in ROWS_ONLY:
        assert name not in ORACLE_SQL
        assert len(s_rows) > 0, f"{name}: rows-only query returned nothing"
        return
    assert name in ORACLE_SQL, f"{name} lacks an oracle"
    res = ddb.sql(ORACLE_SQL[name])
    d_cols = [c for c in res.columns]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} (spark) vs {len(d_rows)} (duckdb)"
    )
    s_ms = _rows_to_multiset(s_cols, s_rows)
    d_ms = _rows_to_multiset(d_cols, d_rows)
    if s_ms != d_ms:
        diffs = [(a, b) for a, b in zip(s_ms, d_ms) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
