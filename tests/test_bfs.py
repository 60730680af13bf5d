"""Multi-source BFS seed distance (operators/bfs.py): hand-graph
distances vs a python BFS mirror, unreached marking, fixed-depth
truncation semantics, lineage discipline, and twin agreement. The
sf-corpus oracle equality runs in test_entry_contract."""

from __future__ import annotations

from collections import deque

import pytest

from confluence2md_spark.operators.bfs import (
    seed_distance,
    seed_distance_sql_duck,
)

# path p0-p1-p2-p3-p4, a branch p2-q1, and a disconnected pair r1-r2
_EDGES = [
    ("p0", "p1"),
    ("p1", "p2"),
    ("p2", "p3"),
    ("p3", "p4"),
    ("p2", "q1"),
    ("r1", "r2"),
]
_SEEDS = ["p0"]


def _bfs(edge_list, seeds):
    adj: dict[str, list[str]] = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    dist = {v: -1 for v in adj}
    dq = deque()
    for s in seeds:
        if s in dist:
            dist[s] = 0
            dq.append(s)
    while dq:
        v = dq.popleft()
        for u in adj[v]:
            if dist[u] == -1:
                dist[u] = dist[v] + 1
                dq.append(u)
    return dist


def test_seed_distance_matches_bfs_mirror(spark):
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], ["page"])
    got = {
        r["page"]: r["dist"]
        for r in seed_distance(edges, seeds, iters=6).collect()
    }
    assert got == _bfs(_EDGES, _SEEDS)
    assert got["p4"] == 4 and got["q1"] == 3
    assert got["r1"] == -1 and got["r2"] == -1  # unreached component


def test_seed_distance_depth_truncation(spark):
    """iters below the true eccentricity truncates deterministically:
    nodes farther than `iters` hops report -1 (the documented
    fixed-depth contract), already-settled nodes keep exact distances."""
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], ["page"])
    got = {
        r["page"]: r["dist"]
        for r in seed_distance(edges, seeds, iters=2).collect()
    }
    assert got["p1"] == 1 and got["p2"] == 2
    assert got["p3"] == -1 and got["p4"] == -1 and got["q1"] == -1


def test_seed_distance_deep_iters_checkpointed(spark):
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], ["page"])
    out = seed_distance(edges, seeds, iters=25)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert {r["page"]: r["dist"] for r in out.collect()} == _bfs(
        _EDGES, _SEEDS
    )


def test_seed_distance_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], ["page"])
    got = sorted(
        tuple(r) for r in seed_distance(edges, seeds, iters=6).collect()
    )
    vals = ", ".join(f"('{a}', '{b}')" for a, b in _EDGES)
    sql = seed_distance_sql_duck(
        f"SELECT * FROM (VALUES {vals}) AS t(subj, obj)",
        seeds_predicate="page = 'p0'",
        iters=6,
    )
    twin = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == twin
