"""k-truss (operators/truss.py): planted clique/triangle structures, a
brute-force python peel mirror, non-convergence raise, and DuckDB twin
agreement. The sf-graph oracle equality runs in check_contract."""

from __future__ import annotations

from itertools import combinations

import pytest

from confluence2md_spark.operators.truss import ktruss, ktruss_sql_duck


def _brute_truss(edges, k):
    """Reference peel: (a,b) -> support dict of the k-truss."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        sup = {e: 0 for e in es}
        for a, b, c in combinations(sorted({n for e in es for n in e}), 3):
            if ((a, b) in es and (a, c) in es and (b, c) in es):
                sup[(a, b)] += 1
                sup[(a, c)] += 1
                sup[(b, c)] += 1
        nxt = {e for e in es if sup[e] >= k - 2}
        if nxt == es:
            return {e: sup[e] for e in es}
        es = nxt


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(f"n{a:03d}", f"n{b:03d}") for a, b in edges], ["subj", "obj"]
    )


CLIQUE5 = list(combinations(range(5), 2))
TRIANGLE = [(10, 11), (11, 12), (10, 12)]
# triangle hanging off the clique by one shared node (cascade fodder)
HANG = [(4, 20), (4, 21), (20, 21)]
CHAIN = [(30, 31), (31, 32)]  # no triangles at all


def test_k4_keeps_only_the_clique(spark):
    df = _edges_df(spark, CLIQUE5 + TRIANGLE + HANG + CHAIN)
    rows = {(r["a"], r["b"]): r["support"] for r in ktruss(df, k=4).collect()}
    want = {
        (f"n{a:03d}", f"n{b:03d}"): s
        for (a, b), s in _brute_truss(CLIQUE5 + TRIANGLE + HANG + CHAIN, 4).items()
    }
    assert rows == want
    # every K5 edge closes 3 triangles inside the clique
    assert set(rows.values()) == {3} and len(rows) == 10


def test_k3_keeps_all_triangles_drops_chain(spark):
    all_e = CLIQUE5 + TRIANGLE + HANG + CHAIN
    df = _edges_df(spark, all_e)
    rows = {(r["a"], r["b"]): r["support"] for r in ktruss(df, k=3).collect()}
    want = {
        (f"n{a:03d}", f"n{b:03d}"): s for (a, b), s in _brute_truss(all_e, 3).items()
    }
    assert rows == want
    assert ("n030", "n031") not in rows  # triangle-free chain peeled


def test_cascade_matches_brute(spark):
    # path of triangles sharing single EDGES: peeling the weak tail must
    # cascade — each shared-edge triangle strip loses support in turn
    strip = []
    for i in range(6):
        strip += [(i, i + 1), (i, i + 2), (i + 1, i + 2)]
    df = _edges_df(spark, strip)
    for k in (3, 4):
        got = {(r["a"], r["b"]): r["support"] for r in ktruss(df, k=k).collect()}
        want = {
            (f"n{a:03d}", f"n{b:03d}"): s for (a, b), s in _brute_truss(strip, k).items()
        }
        assert got == want, k


def test_nonconvergence_raises(spark):
    strip = []
    for i in range(6):
        strip += [(i, i + 1), (i, i + 2), (i + 1, i + 2)]
    df = _edges_df(spark, strip)
    with pytest.raises(RuntimeError, match="did not converge"):
        ktruss(df, k=4, max_rounds=1)


def test_twin_same_rows(spark):
    duckdb = pytest.importorskip("duckdb")
    all_e = CLIQUE5 + TRIANGLE + HANG + CHAIN
    df = _edges_df(spark, all_e)
    got = [tuple(r) for r in ktruss(df, k=3).collect()]
    vals = ", ".join(f"('n{a:03d}', 'n{b:03d}')" for a, b in all_e)
    sql = (
        f"WITH base AS (SELECT * FROM (VALUES {vals}) AS t(subj, obj)),\n"
        + ktruss_sql_duck("base", k=3, rounds=12)
    )
    twin = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert sorted(got) == sorted(twin)
