"""Bigram-LM surprisal (functions/bigramlm.py): python-mirror exactness,
the order-sensitivity property that motivates a context model over the
unigram one, short-doc edge cases, and DuckDB twin agreement. The
sf-corpus oracle equality runs in check_contract."""

from __future__ import annotations

import math
from collections import Counter

import duckdb

from confluence2md_spark.functions.bigramlm import (
    bigram_surprisal,
    bigram_surprisal_sql_duck,
)


def _ln_m(x: int) -> int:
    return math.floor(1_000_000 * math.log(x))


def _mirror(docs):
    """Add-one bigram NLL in plain Python (floor-ln-micros)."""
    toks = {i: t.strip().lower().split() for i, t in docs}
    cvw = Counter()
    for ts in toks.values():
        cvw.update(zip(ts, ts[1:]))
    cv = Counter()
    for (v, _), c in cvw.items():
        cv[v] += c
    vocab = len({t for ts in toks.values() for t in ts})
    out = {}
    for i, ts in toks.items():
        bigrams = list(zip(ts, ts[1:]))
        if not bigrams:
            out[i] = (0, 0)
            continue
        s = sum(_ln_m(cv[v] + vocab) - _ln_m(cvw[(v, w)] + 1) for v, w in bigrams)
        out[i] = (len(bigrams), s // len(bigrams))
    return out


DOCS = [(i, "a b c d " * 5 + "a") for i in range(6)] + [
    (6, "d c b a " * 5 + "d"),  # same unigrams, scrambled order
    (7, "single"),  # no bigram
    (8, "a b"),
]


def test_matches_python_mirror(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_nll2_micros"])
           for r in bigram_surprisal(df).collect()}
    assert got == _mirror(DOCS)


def test_order_sensitivity(spark):
    """Doc 6 has the SAME unigram distribution as docs 0-5 but reversed
    token order: a unigram model scores them identically; the bigram
    model must score the scrambled doc as more surprising."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: r["avg_nll2_micros"] for r in bigram_surprisal(df).collect()}
    assert got[6] > got[0]


def test_short_docs_emit_zero(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_nll2_micros"])
           for r in bigram_surprisal(df).collect()}
    assert got[7] == (0, 0)
    assert got[8][0] == 1


def test_twin_agreement_on_planted_corpus(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    srows = [tuple(r) for r in bigram_surprisal(df).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    orows = [tuple(r) for r in con.execute(bigram_surprisal_sql_duck()).fetchall()]
    assert sorted(srows) == sorted(orows)
