"""The driver lane and the distributed lane of the graph operators.

Every operator that can compute a graph in driver memory chooses its lane
with `operators.graph.bounded_collect`. Test fixtures sit under the cap, so
the default run takes the driver lane, which the oracle gate checks;
`DRIVER_CAP = 0` sends the same inputs down the distributed loop. Equal
rows at both caps therefore check the distributed lane against the same
oracle without re-running DuckDB."""

import inspect
import re
from pathlib import Path

import pytest

from arkhammirror_spark.contract import QUERIES
from arkhammirror_spark.operators import causal, graph, graph_scoring
from test_queries_oracle import SF_DIR

PACKAGE = Path(__file__).resolve().parent.parent / "arkhammirror_spark"

# contract parts whose operators reach a bounded_collect probe
LANE_PARTS = [
    "graph_components",        # connected_components_distributed
    "graph_communities",       # label_propagation_communities
    "composite_scores",        # composite rank
    "causal_analysis",         # causal_ordering_distributed (two probes)
    "simhash_duplicate_groups",  # connected_components_distributed via dedup
]


@pytest.fixture
def probes(monkeypatch):
    """Record, per bounded_collect call, whether it chose the driver lane."""
    seen: list[bool] = []
    real = graph.bounded_collect

    def spy(df):
        rows = real(df)
        seen.append(rows is not None)
        return rows

    for mod in (graph, causal, graph_scoring):
        monkeypatch.setattr(mod, "bounded_collect", spy)
    return seen


def _rows(df):
    return sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("part", LANE_PARTS)
def test_part_rows_equal_on_both_lanes(spark, part, probes, monkeypatch):
    driver = _rows(QUERIES[part](spark, SF_DIR))
    assert probes and all(probes), "fixture no longer fits the driver lane"

    probes.clear()
    monkeypatch.setattr(graph, "DRIVER_CAP", 0)
    distributed = _rows(QUERIES[part](spark, SF_DIR))
    assert not all(probes), "no probe chose the distributed lane"
    assert distributed == driver


@pytest.mark.parametrize("max_rounds", [2, 3])
def test_kahn_lanes_agree_at_round_budget(spark, monkeypatch, max_rounds):
    """A→B→C with the cycle C⇄D: the distributed loop needs a third round
    to find the cycle, so with a budget of 2 it labels only A and B. The
    driver lane must stop at the same place."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "C"), ("C", "D")],
        "cause string, effect string",
    )

    def layers():
        out = causal.causal_ordering_distributed(edges, max_rounds=max_rounds)
        return {r["node"]: r["layer"] for r in out.collect()}

    driver = layers()
    monkeypatch.setattr(graph, "DRIVER_CAP", 0)
    distributed = layers()
    assert driver == distributed
    if max_rounds == 2:
        assert driver == {"A": 0, "B": 1}
    else:
        assert driver == {"A": 0, "B": 1, "C": -1, "D": -1}


def test_bounded_collect_cap_boundary(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setattr(graph, "DRIVER_CAP", 3)
    assert sorted(r["id"] for r in graph.bounded_collect(df)) == [0, 1, 2]
    monkeypatch.setattr(graph, "DRIVER_CAP", 2)
    assert graph.bounded_collect(df) is None
    monkeypatch.setattr(graph, "DRIVER_CAP", 0)
    assert graph.bounded_collect(df.limit(0)) == []


_PROBE = re.compile(r"limit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)\s*\.collect\(\)")


def test_bounded_collect_is_the_only_probe():
    """A hand-rolled `limit(cap + 1).collect()` lane probe anywhere in the
    package, other than inside bounded_collect itself, fails this check."""
    body, start = inspect.getsourcelines(graph.bounded_collect)
    own = range(start, start + len(body))
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        for m in _PROBE.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            if not (path == Path(graph.__file__).resolve() and line in own):
                hits.append(f"{path.relative_to(PACKAGE)}:{line}")
    assert hits == []
