"""Maximal duplicated-substring spans (operators/substrdup.py): planted
extents, equivalence to a brute-force token-diagonal mirror (the gram
chaining must recover EXACT maximal extents when no gram is df-capped),
and twin agreement. The sf-corpus oracle equality runs in
test_entry_contract."""

from __future__ import annotations

import random

import pytest

from confluence2md_spark.operators.substrdup import (
    duplicated_substring_spans,
    duplicated_substring_spans_sql_duck,
    remove_duplicated_spans,
    remove_duplicated_spans_sql_duck,
)


def _brute_spans(docs, min_len):
    """All maximal common token runs >= min_len across doc pairs, by
    scanning every diagonal of every pair — O(n^2) per pair, fine for
    test sizes, and independent of the gram-chaining construction."""
    out = []
    toks = {i: t.split(" ") for i, t in docs}
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            ta, tb = toks[a], toks[b]
            for diag in range(-(len(tb) - 1), len(ta)):
                i = max(0, diag)
                j = i - diag
                run = 0
                while i <= len(ta) and j <= len(tb):
                    if i < len(ta) and j < len(tb) and ta[i] == tb[j]:
                        run += 1
                    else:
                        if run >= min_len:
                            out.append((a, b, i - run + 1, j - run + 1, run))
                        run = 0
                    i += 1
                    j += 1
    return sorted(out)


def _mk_corpus():
    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(50)]
    boiler = " ".join(rng.choice(vocab) for _ in range(12))
    frag = " ".join(rng.choice(vocab) for _ in range(9))
    docs = []
    for i in range(10):
        filler = lambda m: " ".join(rng.choice(vocab) for _ in range(m))
        if i % 3 == 0:
            docs.append((i, f"{filler(5)} {boiler} {filler(4)}"))
        elif i % 3 == 1:
            docs.append((i, f"{frag} {filler(7)}"))
        else:
            docs.append((i, filler(20)))
    docs.append((10, "tiny"))  # below one window
    return docs


def test_planted_maximal_span(spark):
    docs = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f g h i j z"),
        (3, "a b c d q r s t u v"),  # 4-token overlap < min_len
        (4, "short text"),
    ]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [tuple(r) for r in duplicated_substring_spans(sdf).collect()]
    assert got == [(1, 2, 1, 3, 10)]  # maximal, 1-based starts, exact len


def test_matches_bruteforce_mirror(spark):
    docs = _mk_corpus()
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = sorted(
        tuple(r)
        for r in duplicated_substring_spans(
            sdf, min_len=8, df_cap=10**6
        ).collect()
    )
    want = _brute_spans(docs, 8)
    assert want  # the plants actually produced cross-doc spans
    assert got == want


def test_twin_same_rows(spark):
    duckdb = pytest.importorskip("duckdb")
    docs = _mk_corpus()
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = sorted(tuple(r) for r in duplicated_substring_spans(sdf).collect())
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    sql = duplicated_substring_spans_sql_duck(
        f"(SELECT * FROM (VALUES {vals}) AS t(doc_id, text))"
    )
    twin = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == twin


# ---------------------------------------------------------- removal step --


def test_removal_deletes_b_side_copy_and_merges_overlaps(spark):
    import hashlib

    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"  # 10-token duplicated run
    docs = [
        (1, f"{run} tail1 tail2"),  # first occurrence: kept intact
        # doc 2 holds the run at positions 3..12 AND a second overlapping
        # duplicated region (the run's tail shared with doc 3) — overlap
        # merge must count each token once
        (2, f"pre1 pre2 {run} mid1 mid2 mid3"),
        (3, "u1 u2 r5 r6 r7 r8 r9 r10 mid1 mid2 mid3 u3"),
        (4, "plain unique words only here"),
    ]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in remove_duplicated_spans(sdf).collect()}
    # doc 1: earliest id -> nothing removed
    assert rows[1]["n_spans"] == 0 and rows[1]["n_tokens_removed"] == 0
    assert rows[1]["new_sha"] == hashlib.sha256(docs[0][1].encode()).hexdigest()
    # doc 2: run removed (b-side of pair 1<2); surviving text keeps pre/mid
    assert rows[2]["n_tokens_removed"] == 10
    want2 = "pre1 pre2 mid1 mid2 mid3"
    assert rows[2]["new_sha"] == hashlib.sha256(want2.encode()).hexdigest()
    # doc 3: its r5..r10 + mid run pieces are b-side copies of docs 1/2;
    # spans overlap on the shared region -> merged, tokens counted once
    assert rows[3]["n_tokens_removed"] >= 8
    assert rows[3]["n_spans"] == 1  # contiguous after merge
    # untouched doc passes through byte-identical
    assert rows[4]["new_sha"] == hashlib.sha256(docs[3][1].encode()).hexdigest()


def test_removal_twin_same_rows(spark):
    duckdb = pytest.importorskip("duckdb")
    docs = _mk_corpus()
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [tuple(r) for r in remove_duplicated_spans(sdf).collect()]
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    sql = remove_duplicated_spans_sql_duck(
        f"(SELECT * FROM (VALUES {vals}) AS t(doc_id, text))"
    )
    twin = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert sorted(got) == sorted(twin)
