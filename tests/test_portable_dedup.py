"""Portable-hash MinHash/SimHash exact-twin variants (operators/portable_dedup).

Three layers of evidence, mirroring the winnowing test strategy:
planted-fixture semantics, engine-twin equality on the real corpus, and
the pigeonhole-exactness claim (banded candidates == full popcount filter).
"""

from __future__ import annotations

import duckdb
import pytest

from confluence2md_spark.operators.portable_dedup import (
    SIM_BITS,
    minhash_portable_pairs,
    minhash_portable_sql_duck,
    simhash_portable_pairs,
    simhash_portable_signatures,
    simhash_portable_sql_duck,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_minhash_portable_planted_pair(spark):
    # a/b share all but one trailing word (word-3-gram Jaccard 8/10 = 0.8);
    # c is unrelated vocabulary
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [
        (1, base + " mu"),
        (2, base + " nu"),
        (3, "one two three four five six seven eight nine ten eleven twelve"),
    ]
    got = {
        (r["src"], r["dst"]): (r["n_inter"], r["n_union"], r["jacc_micros"])
        for r in minhash_portable_pairs(_docs(spark, rows)).collect()
    }
    assert set(got) == {(1, 2)}
    n_inter, n_union, jacc = got[(1, 2)]
    # 12 tokens -> 10 trigram shingles each; only the last shingle
    # ("kappa lambda mu" vs "kappa lambda nu") differs -> 9 shared, union 11
    assert (n_inter, n_union) == (9, 11)
    assert jacc == (1_000_000 * 9) // 11


def test_minhash_portable_short_docs_emit_nothing(spark):
    rows = [(1, "just two"), (2, "just two")]  # < k tokens: no shingle
    assert minhash_portable_pairs(_docs(spark, rows)).count() == 0


def test_simhash_portable_identical_docs_hamming_zero(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different unrelated vocabulary entirely elsewhere"),
    ]
    got = {(r["src"], r["dst"]): r["hamming"] for r in
           simhash_portable_pairs(_docs(spark, rows)).collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_portable_banding_is_pigeonhole_exact(spark, sf_dir):
    """Banded candidate set == brute-force popcount filter over ALL
    signature pairs (the claim the 4x15 banding is exact for hamming<=3)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash_portable_signatures(docs).collect()}
    assert all(0 <= s < (1 << SIM_BITS) for s in sigs.values())
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs if a < b
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {(r["src"], r["dst"]): r["hamming"] for r in
           simhash_portable_pairs(docs).collect()}
    assert got == brute


@pytest.mark.parametrize(
    "op, twin",
    [
        (minhash_portable_pairs, minhash_portable_sql_duck),
        (simhash_portable_pairs, simhash_portable_sql_duck),
    ],
    ids=["minhash", "simhash"],
)
def test_portable_twin_equality_on_corpus(spark, sf_dir, op, twin):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(tuple(r) for r in op(docs).collect())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.sql(twin()).fetchall())
    assert got == want
    assert len(got) > 0  # the corpus has planted near-dups; empty = broken
