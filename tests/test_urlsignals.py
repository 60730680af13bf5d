"""URL/domain signals (operators/urlsignals.py): extraction on real-ish
text, augmentation coverage (all injected domains appear, both engines),
and twin agreement. sf oracle equality runs in test_entry_contract."""

from __future__ import annotations

import pytest

from confluence2md_spark.operators.urlsignals import (
    synthetic_url_expr_sql,
    url_domain_signals,
    url_domain_signals_sql_duck,
)

_DOCS = [
    (0, "intro https://a.example.com/x and http://a.example.com/y done"),
    (1, "see https://b.example.org/p?q=1#frag tail"),
    (2, "no urls here at all"),
    (3, "twice https://a.example.com/z https://a.example.com/z"),
]


def test_url_domain_signals_counts(spark):
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    rows = {r["domain"]: r for r in url_domain_signals(docs).collect()}
    assert set(rows) == {"a.example.com", "b.example.org"}
    a = rows["a.example.com"]
    # docs 0 and 3 cite it; 4 mentions total; 3 of them https
    assert (a["n_docs"], a["n_urls"], a["n_https"]) == (2, 4, 3)
    b = rows["b.example.org"]
    # query/fragment must not leak into the domain
    assert (b["n_docs"], b["n_urls"], b["n_https"]) == (1, 1, 1)


def test_url_augmentation_covers_all_domains(spark):
    ids = [(i, "body") for i in range(0, 120)]
    docs = spark.createDataFrame(ids, ["doc_id", "text"]).selectExpr(
        "doc_id", synthetic_url_expr_sql() + " AS text"
    )
    domains = {r["domain"] for r in url_domain_signals(docs).collect()}
    want = {f"site{k}.example.com" for k in range(7)} | {
        f"mirror{k}.example.org" for k in range(5)
    }
    assert domains == want


def test_url_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    got = [tuple(r) for r in url_domain_signals(docs).collect()]
    vals = ", ".join(f"({i}, '{t}')" for i, t in _DOCS)
    sql = url_domain_signals_sql_duck(
        docs_rel=f"(SELECT * FROM (VALUES {vals}) AS t(doc_id, text))"
    )
    twin = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert sorted(got) == sorted(twin)
