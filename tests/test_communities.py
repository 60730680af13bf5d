"""Label-propagation community detection (operators/communities.py):
deterministic synchronous LPA vs a pure-Python mirror, lineage
discipline at deep iteration counts, twin-order equivalence of the
deterministic mode(label) vote vs the twin's (c DESC, label ASC)
row_number, and the job count of one LPA call. The sf-corpus oracle
equality runs in test_entry_contract.
"""

from __future__ import annotations

import pytest

from confluence2md_spark.operators.communities import (
    label_propagation,
    label_propagation_sql_duck,
)
from confluence2md_spark.plans.iterate import release


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


def _lpa(spark, edge_list, iters):
    edges = spark.createDataFrame(edge_list, ["subj", "obj"])
    return {
        r["page"]: r["community"]
        for r in label_propagation(edges, iters=iters).collect()
    }


def _twin(edge_list, iters):
    duckdb = pytest.importorskip("duckdb")
    vals = ", ".join(f"('{a}', '{b}')" for a, b in edge_list)
    sql = label_propagation_sql_duck(
        f"SELECT * FROM (VALUES {vals}) AS t(subj, obj)", iters=iters
    )
    return dict(duckdb.connect().execute(sql).fetchall())


# two cliques bridged by one edge, plus a separate pair and a self-loop
_EDGES = [
    ("a1", "a2"), ("a1", "a3"), ("a2", "a3"), ("a3", "a1"),  # clique A (dup)
    ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),                 # clique B
    ("a3", "b1"),                                              # bridge
    ("c1", "c2"),                                              # island pair
    ("d1", "d1"),                                              # self-loop only
]


def test_lpa_matches_python_mirror(spark):
    got = _lpa(spark, _EDGES, 4)
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
    assert _lpa(spark, _EDGES, 4) == _twin(_EDGES, 4)


# q's four neighbors: r1 and r2 hold "B1" after round 1 (min of q, B1, B2),
# s1 and s2 hold "a1" (min of q, a1): a 2-2 tie in round 2 that the
# bytewise order breaks to "B1" (a case-folding order would pick "a1")
_TIE_EDGES = [
    ("q", "r1"), ("q", "r2"), ("q", "s1"), ("q", "s2"),
    ("r1", "B1"), ("r1", "B2"), ("r2", "B1"), ("r2", "B2"),
    ("s1", "a1"), ("s2", "a1"),
]


def test_lpa_round_two_tie_goes_to_bytewise_smallest(spark):
    got = _lpa(spark, _TIE_EDGES, 2)
    assert got["q"] == "B1"
    assert got == _python_lpa(_TIE_EDGES, 2) == _twin(_TIE_EDGES, 2)


def test_lpa_round_one_is_min_neighbor_id(spark):
    edge_list = _EDGES + _TIE_EDGES
    nbrs: dict[str, set[str]] = {}
    for a, b in edge_list:
        if a != b:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    assert _lpa(spark, edge_list, 1) == {v: min(ns) for v, ns in nbrs.items()}


@pytest.mark.parametrize("iters", [0, 1, 4])
def test_lpa_matches_twin_at_iters(spark, iters):
    edge_list = _EDGES + _TIE_EDGES
    got = _lpa(spark, edge_list, iters)
    assert got == _twin(edge_list, iters) == _python_lpa(edge_list, iters)


def test_lpa_job_budget(spark):
    """One shuffle per round: the adjacency is built once, partitioned on
    the join key, held as a local checkpoint, and each round is one
    mode(label) vote grouped by node. The call runs 8 jobs here, now and
    then 9."""
    edges = spark.createDataFrame(_EDGES + _TIE_EDGES, ["subj", "obj"])
    edges = edges.localCheckpoint(eager=True)
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "lpa-budget")
    try:
        out = label_propagation(edges, iters=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    jobs = len(sc.statusTracker().getJobIdsForGroup("lpa-budget"))
    release(out)
    release(edges)
    assert jobs <= 9
