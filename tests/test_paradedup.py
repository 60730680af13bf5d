"""Paragraph-level exact dedup (operators/paradedup.py): keep-first
semantics against a Python mirror, full-removal edge case, and DuckDB
twin agreement. The sf-corpus oracle equality runs in
test_entry_contract / scripts/check_contract.py."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from confluence2md_spark.operators.paradedup import (
    paragraph_dedup,
    paragraph_dedup_sql_duck,
    synthetic_paragraph_expr_sql,
)

FOOTER = "subscribe now"
HEADER = "site header nav"

DOCS = [
    (0, f"{HEADER}\nunique body zero\n{FOOTER}"),
    (1, f"{HEADER}\nunique body one"),
    (2, f"unique body two\n{FOOTER}"),
    (3, FOOTER),  # every paragraph duplicated -> rebuilt text is ''
    (4, f"{FOOTER}\n{FOOTER}"),  # within-doc duplicate occurrences
    (5, "only unique content here"),
]


def _mirror(docs):
    """Keep-first paragraph dedup in plain Python."""
    occ = []
    for did, text in docs:
        for idx, para in enumerate(text.split("\n"), start=1):
            occ.append((did, idx, para))
    from collections import Counter

    counts = Counter(p for _, _, p in occ)
    first = {}
    for did, idx, para in sorted(occ):
        first.setdefault(para, (did, idx))
    out = {}
    for did, text in docs:
        paras = text.split("\n")
        kept = [
            p
            for i, p in enumerate(paras, start=1)
            if counts[p] == 1 or first[p] == (did, i)
        ]
        rebuilt = "\n".join(kept)
        out[did] = (
            len(paras),
            len(paras) - len(kept),
            len(rebuilt),
            hashlib.sha256(rebuilt.encode()).hexdigest(),
        )
    return out


def test_keep_first_matches_python_mirror(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = {r["doc_id"]: tuple(r)[1:] for r in paragraph_dedup(df).collect()}
    assert rows == _mirror(DOCS)


def test_full_removal_yields_empty_doc(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    by_id = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # doc 3's only paragraph is FOOTER, first seen in doc 0 -> all removed
    assert by_id[3]["n_removed"] == 1
    assert by_id[3]["kept_len"] == 0
    assert by_id[3]["kept_sha"] == hashlib.sha256(b"").hexdigest()
    # within-doc duplicates: doc 4 keeps neither FOOTER copy (doc 0 owns it)
    assert by_id[4]["n_removed"] == 2


def test_duplicate_owner_keeps_exactly_one_copy(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    by_id = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # doc 0 is the global first occurrence of both HEADER and FOOTER
    assert by_id[0]["n_removed"] == 0
    # doc 1's HEADER is removed, body kept
    assert by_id[1]["n_removed"] == 1
    expected = hashlib.sha256(b"unique body one").hexdigest()
    assert by_id[1]["kept_sha"] == expected


def test_twin_agreement_on_planted_corpus(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    srows = [tuple(r) for r in paragraph_dedup(df).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    orows = [tuple(r) for r in con.execute(paragraph_dedup_sql_duck()).fetchall()]
    assert sorted(srows) == sorted(orows)


def test_synthetic_expr_plants_shared_boilerplate(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(synthetic_paragraph_expr_sql()).alias("text")
    )
    res = paragraph_dedup(docs)
    removed = res.agg(F.sum("n_removed")).collect()[0][0]
    assert removed > 0, "contract row would be vacuous"
    # keep-first: exactly one copy of each boilerplate paragraph survives,
    # so total removals == total occurrences - distinct paragraphs
    occ = docs.select(
        F.explode(F.split("text", "\n")).alias("p")
    )
    n_occ = occ.count()
    n_distinct = occ.distinct().count()
    assert removed == n_occ - n_distinct
