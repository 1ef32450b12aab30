"""Contract-shape guarantees: the external gate checks only the FIRST 50
`queries()` entries, so the packed contract must stay at <= 50 entries,
fully oracled, with no NULL-able padding (the gate's row compare sorts
rows as tuples; None is unorderable against str) and no array/map/struct
columns (the gate's pandas row-sort comparator factorizes cells; a list
cell raises `unhashable type: 'list'` — measured on canonical_urls in
round 4)."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from arkhammirror_spark.contract import (
    MERGES,
    ORACLE_SQL,
    PROFILE_JOIN,
    QUERIES,
    _SENTINEL,
    build_contract,
)


def test_contract_fits_the_50_entry_gate():
    contract, oracles = build_contract()
    assert len(contract) == 50
    assert set(contract) == set(oracles)


def test_every_part_query_is_served_exactly_once():
    """Each part-level registry entry is either a survivor in the contract
    or absorbed by exactly one merged entry — nothing dropped, nothing
    double-counted."""
    contract, _ = build_contract()
    absorbed: list[str] = []
    for _, parts in MERGES.values():
        absorbed.extend(src for _, src, _ in parts)
    absorbed.extend(PROFILE_JOIN[1])
    assert len(absorbed) == len(set(absorbed)), "a part is absorbed twice"
    survivors = set(QUERIES) - set(absorbed)
    assert survivors <= set(contract)
    # merged names don't shadow an existing part except the deliberate
    # reuses (the merged entry keeps the part's public name)
    shadowed = (set(MERGES) | {PROFILE_JOIN[0]}) & set(QUERIES)
    assert shadowed == {
        "mentions", "neardup_jaccard", "interval_conflicts", "claims",
        "graph_ego", "timeline_events",
    }
    # every absorbed part exists in the part registry with an oracle
    for src in absorbed:
        assert src in QUERIES and src in ORACLE_SQL, src


_REGISTRY_PROBE = """
import hashlib
import arkhammirror_spark.{first}
from arkhammirror_spark.contract import ORACLE_SQL, QUERIES, build_contract
names = list(QUERIES)
print(len(names),
      hashlib.sha256('|'.join(names).encode()).hexdigest()[:12],
      hashlib.sha256(repr(sorted(ORACLE_SQL.items())).encode()).hexdigest()[:12],
      len(build_contract()[0]))
"""


@pytest.mark.parametrize(
    "first", ["queries_ext", "queries_ext2", "queries_ext3", "contract"]
)
def test_registry_does_not_depend_on_import_order(first):
    """A fresh interpreter that imports any query module first still gets
    the full part registry: 108 names in the same order, the same oracle
    texts, and the 50-entry contract."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _REGISTRY_PROBE.format(first=first)],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["108", "777a8d180e11", "b766336f4088", "50"]


def test_merge_specs_reference_real_columns():
    """Every mapped source column must exist in the part oracle's SQL text
    (cheap textual guard; the rehearsal suite checks values for real)."""
    for name, (columns, parts) in MERGES.items():
        out_names = {c for c, _ in columns}
        for tag, src, mapping in parts:
            assert set(mapping) <= out_names, (name, tag)
            for out, src_col in mapping.items():
                assert src_col.replace("_", "").isalnum(), (name, out)


def test_sentinels_cover_every_type_used():
    for _, (columns, _) in MERGES.items():
        for _, (styp, _) in columns:
            assert styp in _SENTINEL, styp


def test_merged_oracle_padding_uses_sentinels_not_null():
    """The generated OUTER projections (everything before each part's
    subquery) must pad with typed sentinels, never NULL literals — NULLs
    inside the part oracles themselves (IS NOT NULL predicates, internal
    CTE columns) are fine and out of scope here; the sf0.01 gate
    simulation's runtime null audit covers actual output values."""
    _, oracles = build_contract()
    for name in MERGES:
        for segment in oracles[name].split("UNION ALL"):
            outer = segment.split("FROM (", 1)[0]
            assert "NULL::" not in outer.upper(), (name, outer[:120])


_CONTRACT, _ = build_contract()
_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.parametrize("name", sorted(_CONTRACT))
def test_no_unorderable_column_types(spark, name):
    """Every contract output column must be a flat orderable scalar: the
    gate transports results through a pandas row-sort whose factorizer
    dies on list/dict cells (round-4 canonical_urls failure). Schema
    analysis only — nothing is executed."""
    schema = _CONTRACT[name](spark, _SF_DIR).schema
    banned = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    for f in schema.fields:
        assert not isinstance(f.dataType, banned), (
            f"{name}.{f.name}: {f.dataType.simpleString()} is not "
            "gate-orderable — serialize it (array_join / to_json) in the "
            "contract query"
        )
