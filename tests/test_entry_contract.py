"""Driver-contract conformance at sf0.001: every oracle-backed query's Spark
result must equal its DuckDB oracle (columns sorted by name, rows sorted,
exact values) — the same comparison the driver performs at sf0.01. The
driver hashes rows in arrival order, so every result must also arrive in
its oracle's order: the entry's `_total_order` with the oracle's ORDER BY
keys, a top-k `orderBy(...).limit(k)`, or the scan order of a query whose
oracle states none."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def _normalize(rows, cols):
    """Rows with columns sorted by name and values made comparable, still
    in arrival order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return out, [cols[i] for i in order]


def _sorted(rows):
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


_ORACLES = entrymod.oracle_sql()
_QUERIES = entrymod.queries()


def test_every_oracle_has_a_query():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(spark, sf_dir, duck, name):
    sdf = _QUERIES[name](spark, sf_dir)
    s_rows, s_cols = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
    res = duck.execute(_ORACLES[name])
    d_rows, d_cols = _normalize(res.fetchall(), [d[0] for d in res.description])
    assert s_cols == d_cols
    assert _sorted(s_rows) == _sorted(d_rows)
    assert s_rows == d_rows, "arrival order differs from the oracle's"


@pytest.mark.parametrize(
    "name",
    sorted(set(_QUERIES) - set(_ORACLES)),
)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert df.columns == ["obj", "n_links"]


def test_entry_cache_values_are_plan_leaves(spark, sf_dir):
    """Every memoized relation is a single LogicalRDD leaf, so a query over
    the KG plans over that leaf, not over the build under it. A persisted
    relation kept its child's whole plan and every reference copied it:
    the edges memo alone planned at ~520 K chars."""
    for name in ("kg_communities", "kg_top_linked", "kg_mime_parts"):
        _QUERIES[name](spark, sf_dir).count()
    kinds = {key[0] for key in entrymod._CACHE}
    assert {"raw", "pages", "triples", "cmap", "edges", "parts"} <= kinds
    for key, df in entrymod._CACHE.items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "LogicalRDD", key
        assert plan.children().isEmpty(), key
    for name in ("kg_communities", "kg_top_linked"):
        plan = _QUERIES[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        assert len(plan.toString()) < 20_000, name
