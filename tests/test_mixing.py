"""Temperature-sampled mixture weights (operators/mixing.py): exact-isqrt
correction property, temperature-flattening semantics, and DuckDB twin
agreement. The sf-corpus oracle equality runs in check_contract."""

from __future__ import annotations

import math
import random

import duckdb

from confluence2md_spark.operators.mixing import (
    mixture_weights,
    mixture_weights_sql_duck,
)


def test_isqrt_correction_is_exact(spark):
    """The floor(sqrt(double)) + Newton-correction device must equal
    math.isqrt for values where the double estimate is off by one —
    including near perfect squares beyond the 2^52 mantissa."""
    rng = random.Random(11)
    vals = [0, 1, 2, 3, 4, 2**52 - 1, 2**52, (2**26 + 1) ** 2, (2**31 - 1) ** 2]
    vals += [rng.randrange(2**60) for _ in range(40)]
    vals += [(rng.randrange(2**30)) ** 2 + d for _ in range(20) for d in (-1, 0, 1)]
    vals = sorted({v for v in vals if v >= 0})
    df = spark.createDataFrame([(v,) for v in vals], ["n_tokens"])
    from confluence2md_spark.operators.mixing import _isqrt_col

    got = {
        r["n_tokens"]: r["s"]
        for r in df.select("n_tokens", _isqrt_col("n_tokens").alias("s")).collect()
    }
    for v in vals:
        assert got[v] == math.isqrt(v), v


def test_temperature_flattens_shares(spark):
    # 90/10 token split: sqrt sampling must move both weights toward 0.5
    docs = spark.createDataFrame(
        [(i, "big", "w " * 90) for i in range(10)]
        + [(i + 10, "small", "w " * 10) for i in range(10)],
        ["doc_id", "lang", "text"],
    )
    rows = {r["domain"]: r for r in mixture_weights(docs).collect()}
    assert rows["big"]["share_micros"] == 900000
    assert rows["small"]["share_micros"] == 100000
    assert 100000 < rows["small"]["weight_micros"] < 500000
    assert 500000 < rows["big"]["weight_micros"] < 900000
    # flooring: weights sum to <= 1e6 with deficit < n_domains
    total = sum(r["weight_micros"] for r in rows.values())
    assert 1_000_000 - 2 < total <= 1_000_000


def test_budget_partition_sums_to_at_most_budget(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i % 7}", "tok " * (1 + i % 13)) for i in range(60)],
        ["doc_id", "lang", "text"],
    )
    res = mixture_weights(docs, budget_tokens=123_457).collect()
    tot = sum(r["budget_tokens"] for r in res)
    assert 123_457 - len(res) < tot <= 123_457


def test_twin_agreement_on_planted_corpus(spark):
    data = [(i, f"d{i % 4}", "alpha beta " * (1 + i % 9)) for i in range(30)]
    docs = spark.createDataFrame(data, ["doc_id", "lang", "text"])
    srows = [tuple(r) for r in mixture_weights(docs).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", data)
    orows = [tuple(r) for r in con.execute(mixture_weights_sql_duck()).fetchall()]
    assert sorted(srows) == sorted(orows)


def test_mixture_sample_monotone_and_deterministic(spark):
    from confluence2md_spark.operators.mixing import mixture_sample

    data = [(i, f"d{i % 3}", "tok " * (1 + i % 11)) for i in range(120)]
    docs = spark.createDataFrame(data, ["doc_id", "lang", "text"])
    small = {r["doc_id"] for r in mixture_sample(docs, budget_tokens=100).collect()}
    big = {r["doc_id"] for r in mixture_sample(docs, budget_tokens=400).collect()}
    again = {r["doc_id"] for r in mixture_sample(docs, budget_tokens=100).collect()}
    assert small == again  # no RNG state — byte-reproducible
    assert small <= big  # a bigger budget only ADDS documents
    assert len(small) < len(big)


def test_mixture_sample_full_budget_keeps_everything(spark):
    from confluence2md_spark.operators.mixing import mixture_sample

    data = [(i, f"d{i % 3}", "tok " * 5) for i in range(30)]
    docs = spark.createDataFrame(data, ["doc_id", "lang", "text"])
    # budget >= corpus tokens -> every domain rate clamps to 1.0
    kept = mixture_sample(docs, budget_tokens=10_000_000).collect()
    assert sorted(r["doc_id"] for r in kept) == list(range(30))


def test_mixture_sample_twin(spark):
    import duckdb
    from confluence2md_spark.operators.mixing import (
        mixture_sample,
        mixture_sample_sql_duck,
    )

    data = [(i, f"d{i % 4}", "alpha beta " * (1 + i % 9)) for i in range(80)]
    docs = spark.createDataFrame(data, ["doc_id", "lang", "text"])
    srows = [tuple(r) for r in mixture_sample(docs, budget_tokens=300).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", data)
    orows = [
        tuple(r)
        for r in con.execute(mixture_sample_sql_duck(budget_tokens=300)).fetchall()
    ]
    assert sorted(srows) == sorted(orows)
