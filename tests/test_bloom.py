"""Portable Bloom-filter decontamination (operators/bloom.py)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from confluence2md_spark.operators.bloom import (
    bloom_decontaminate,
    bloom_decontaminate_sql_duck,
)


def test_bloom_twin_equality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    got = sorted(tuple(r) for r in bloom_decontaminate(docs, bench).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = sorted(tuple(r) for r in con.sql(bloom_decontaminate_sql_duck()).fetchall())
    assert got == want
    assert len(got) == docs.count()  # every doc appears, hit or not


def test_bloom_never_false_negative(spark, sf_dir):
    """Every exactly-contaminated doc must be Bloom-flagged (the filter's
    one-sided guarantee); the FP overhang must stay small at ~6% fill."""
    from confluence2md_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    flagged = {
        r["doc_id"]
        for r in bloom_decontaminate(docs, bench).collect()
        if r["flagged"] == 1
    }
    exact = {
        r["doc_id"]
        for r in decontaminate(docs, bench).collect()
        if r["contaminated"] == 1
    }
    assert exact <= flagged  # no false negatives, ever
    assert len(flagged - exact) <= max(5, len(exact))  # bounded FP overhang


def test_bloom_short_and_empty_docs(spark):
    rows = [
        (1, "too short"),               # < 5 tokens: zero grams
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon zeta"),  # same grams as bench doc
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    bench = docs.filter(F.col("doc_id") == 3).select("text")
    got = {r["doc_id"]: (r["n_grams"], r["flagged"]) for r in
           bloom_decontaminate(docs, bench).collect()}
    assert got[1] == (0, 0)   # short doc survives with zero grams
    assert got[2][1] == 1 and got[3][1] == 1
