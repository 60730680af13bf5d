"""TF-IDF keywords + unigram surprisal (functions/tfidf.py): python
mirrors of the exact integer arithmetic, structural sanity, twin
agreement. sf oracle equality runs in test_entry_contract."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from confluence2md_spark.functions.tfidf import (
    tfidf_keywords,
    tfidf_keywords_sql_duck,
    unigram_surprisal,
    unigram_surprisal_sql_duck,
)

# 'zebra' is rare and repeated in doc 2 -> its keyword; 'the' is everywhere
_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog ate the bone"),
    (2, "zebra zebra runs the field"),
    (3, "cat and dog and the field"),
]


def _ln_m(x: int) -> int:
    return math.floor(1_000_000 * math.log(x))


def _toks(t: str) -> list[str]:
    return t.strip().lower().split()


def _mirror_keywords(docs, k):
    n = len(docs)
    df = Counter(w for _, t in docs for w in set(_toks(t)))
    out = []
    for i, t in docs:
        tf = Counter(_toks(t))
        scored = sorted(
            ((w, c * (_ln_m(n) - _ln_m(df[w]))) for w, c in tf.items()),
            key=lambda x: (-x[1], x[0]),
        )
        out.extend((i, r + 1, w, s) for r, (w, s) in enumerate(scored[:k]))
    return out


def _mirror_surprisal(docs):
    c = Counter(w for _, t in docs for w in _toks(t))
    t_tot = sum(c.values())
    out = []
    for i, t in docs:
        toks = _toks(t)
        nll = sum(_ln_m(t_tot) - _ln_m(c[w]) for w in toks)
        out.append((i, len(toks), nll // len(toks)))
    return out


def test_keywords_match_python_mirror(spark):
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    got = sorted(tuple(r) for r in tfidf_keywords(docs, k=3).collect())
    assert got == sorted(_mirror_keywords(_DOCS, 3))
    # the repeated rare word tops its doc; the ubiquitous 'the' (df = n,
    # idf floor = 0) never appears as any doc's top keyword
    by_doc = {r[0]: r for r in got if r[1] == 1}
    assert by_doc[2][2] == "zebra"
    assert all(r[2] != "the" for r in got if r[1] == 1)


def test_surprisal_matches_python_mirror(spark):
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    got = sorted(tuple(r) for r in unigram_surprisal(docs).collect())
    assert got == sorted(_mirror_surprisal(_DOCS))
    # doc 0 (three hapaxes: sat/on/mat) is the most surprising; doc 3
    # (all common words) is the least
    avg = {r[0]: r[2] for r in got}
    assert avg[0] == max(avg.values())
    assert avg[3] == min(avg.values())


def test_tfidf_twins(spark):
    duckdb = pytest.importorskip("duckdb")
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    vals = ", ".join(f"({i}, '{t}')" for i, t in _DOCS)
    rel = f"(SELECT * FROM (VALUES {vals}) AS t(doc_id, text))"
    con = duckdb.connect()
    got_k = [tuple(r) for r in tfidf_keywords(docs, k=3).collect()]
    twin_k = [
        tuple(r)
        for r in con.execute(tfidf_keywords_sql_duck(docs=rel, k=3)).fetchall()
    ]
    assert sorted(got_k) == sorted(twin_k)
    got_s = [tuple(r) for r in unigram_surprisal(docs).collect()]
    twin_s = [
        tuple(r)
        for r in con.execute(unigram_surprisal_sql_duck(docs=rel)).fetchall()
    ]
    assert sorted(got_s) == sorted(twin_s)
