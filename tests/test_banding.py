"""operators/banding.band_join against a Python brute force: the pair set
is exactly the id pairs sharing an uncapped bucket, the carried columns
ride along per side, and `dropped` lists exactly the over-cap buckets."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from confluence2md_spark.operators.banding import band_join


def _rows(seed: int) -> list[tuple[int, int, int, int]]:
    """(id, band, key, w): one row per item and band, keys from a small
    alphabet so buckets of many sizes occur; w = 7 * id is the carry."""
    rng = random.Random(seed)
    ids = rng.sample(range(1_000), 60)
    return [
        (i, band, rng.randrange(6 if band % 2 else 25), 7 * i)
        for i in ids
        for band in range(4)
    ]


def _brute(rows, max_bucket):
    buckets = defaultdict(list)
    for i, band, key, _ in rows:
        buckets[(band, key)].append(i)
    pairs, dropped = set(), {}
    for bk, members in buckets.items():
        if max_bucket is not None and len(members) > max_bucket:
            dropped[bk] = len(members)
            continue
        pairs |= {(a, b) for a in members for b in members if a < b}
    return pairs, dropped


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("max_bucket", [None, 4, 12])
def test_band_join_matches_brute_force(spark, seed, max_bucket):
    rows = _rows(seed)
    banded = spark.createDataFrame(rows, "id long, band int, key long, w long")
    pairs, dropped = band_join(banded, carry=["w"], max_bucket=max_bucket)
    want_pairs, want_dropped = _brute(rows, max_bucket)

    got = pairs.collect()
    assert pairs.columns == ["src", "dst", "w_a", "w_b"]
    assert len(got) == len({(r["src"], r["dst"]) for r in got})  # distinct
    assert {(r["src"], r["dst"]) for r in got} == want_pairs
    assert all(r["w_a"] == 7 * r["src"] and r["w_b"] == 7 * r["dst"] for r in got)
    if max_bucket is None:
        assert dropped is None
    else:
        assert {(r["band"], r["key"]): r["rows"] for r in dropped.collect()} == (
            want_dropped
        )
    # non-vacuous: the seeds produce pairs, and the caps drop something
    assert want_pairs
    assert max_bucket is None or want_dropped
