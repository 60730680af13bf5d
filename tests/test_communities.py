"""Label-propagation community detection (operators/communities.py):
deterministic synchronous LPA vs a pure-Python mirror, lineage
discipline at deep iteration counts, and twin-order equivalence of the
min_by(struct(-c, label)) pick vs the twin's (c DESC, label ASC)
row_number. The sf-corpus oracle equality runs in test_entry_contract.
"""

from __future__ import annotations

import pytest

from confluence2md_spark.operators.communities import (
    label_propagation,
    label_propagation_sql_duck,
)


def _python_lpa(edge_list, iters):
    """Mirror of the contract semantics: undirected simple graph,
    synchronous rounds, max neighbor-label count wins, ties to the
    smallest label (string order to match Spark/DuckDB byte order)."""
    und = {
        (min(a, b), max(a, b)) for a, b in edge_list if a != b
    }
    adj: dict[str, list[str]] = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v, nbrs in adj.items():
            counts: dict[str, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            new[v] = min(counts, key=lambda lb: (-counts[lb], lb))
        labels = new
    return labels


# two cliques bridged by one edge, plus a separate pair and a self-loop
_EDGES = [
    ("a1", "a2"), ("a1", "a3"), ("a2", "a3"), ("a3", "a1"),  # clique A (dup)
    ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),                 # clique B
    ("a3", "b1"),                                              # bridge
    ("c1", "c2"),                                              # island pair
    ("d1", "d1"),                                              # self-loop only
]


def test_lpa_matches_python_mirror(spark):
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    got = {
        r["page"]: r["community"]
        for r in label_propagation(edges, iters=4).collect()
    }
    want = _python_lpa(_EDGES, 4)
    assert got == want
    # the two cliques resolve to distinct communities; the island PAIR
    # oscillates under synchronous updates (labels swap each round, so an
    # even round count lands back on self-labels) — the documented
    # contract-variant behavior, identical in both engines; the
    # self-loop-only node drops out entirely
    assert got["a1"] == got["a2"] == got["a3"]
    assert got["b1"] == got["b2"] == got["b3"]
    assert got["a1"] != got["b1"]
    assert got["c1"] == "c1" and got["c2"] == "c2"
    assert "d1" not in got


def test_lpa_deep_iteration_checkpoints_lineage(spark):
    """iters=25 must return a checkpointed scan,
    not a 25-round join tower, and still match the mirror (same lineage
    discipline the PageRank and CC loops carry)."""
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = label_propagation(edges, iters=25)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    got = {r["page"]: r["community"] for r in out.collect()}
    assert got == _python_lpa(_EDGES, 25)
    # adjacency cache + superseded checkpoints released; only the RESULT's
    # own checkpoint block may remain
    cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert cached_after <= cached_before + 1


def test_modularity_matches_python_mirror(spark):
    """modularity_micros equals a pure-Python mirror of the flooring
    integer arithmetic on the hand graph, and the two cliques carry
    positive modularity contribution (real structure)."""
    from confluence2md_spark.operators.communities import modularity_micros

    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    rows = {
        r["community"]: (r["n_nodes"], r["m_intra"], r["d_sum"], r["q_micros"])
        for r in modularity_micros(edges, iters=4).collect()
    }

    und = sorted({(min(a, b), max(a, b)) for a, b in _EDGES if a != b})
    labels = _python_lpa(_EDGES, 4)
    m = len(und)
    deg: dict[str, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    want: dict[str, tuple] = {}
    for c in sorted(set(labels.values())):
        members = {v for v, lb in labels.items() if lb == c}
        m_c = sum(1 for a, b in und if a in members and b in members)
        d_c = sum(deg[v] for v in members)
        half = d_c * 1_000_000 // (2 * m)
        q = m_c * 1_000_000 // m - half * half // 1_000_000
        want[c] = (len(members), m_c, d_c, q)
    assert rows == want
    assert rows[labels["a1"]][3] > 0  # clique A is genuine structure
    assert rows[labels["b1"]][3] > 0


def test_modularity_duckdb_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    from confluence2md_spark.operators.communities import (
        modularity_micros,
        modularity_sql_duck,
    )

    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    got = [tuple(r) for r in modularity_micros(edges, iters=4).collect()]
    vals = ", ".join(f"('{a}', '{b}')" for a, b in _EDGES)
    sql = modularity_sql_duck(
        f"SELECT * FROM (VALUES {vals}) AS t(subj, obj)", iters=4
    )
    twin = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert sorted(got) == sorted(twin)


def test_lpa_duckdb_twin_same_assignment(spark):
    """The unrolled-CTE twin reproduces the exact assignment on the hand
    graph — including the oscillation-prone bridge structure — so the
    sf-corpus oracle row is a real check, not a count check."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    vals = ", ".join(f"('{a}', '{b}')" for a, b in _EDGES)
    sql = label_propagation_sql_duck(
        f"SELECT * FROM (VALUES {vals}) AS t(subj, obj)", iters=4
    )
    twin = dict(con.execute(sql).fetchall())
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    got = {
        r["page"]: r["community"]
        for r in label_propagation(edges, iters=4).collect()
    }
    assert got == twin
