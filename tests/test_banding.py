"""operators/banding.band_join against a Python brute force: the pair set
is exactly the id pairs sharing an uncapped bucket, `n_shared` counts the
buckets each pair shares, the carried columns ride along per side, and
`dropped` lists exactly the over-cap buckets — for the (band, key) bucket
and for a one-column bucket. A source scan holds every other operator
module to `band_join` for its shared-key self-joins."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from pyspark.sql import functions as F

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
    """({(src, dst): n_shared}, {(band, key): rows over the cap})."""
    buckets = defaultdict(list)
    for i, band, key, _ in rows:
        buckets[(band, key)].append(i)
    pairs, dropped = defaultdict(int), {}
    for bk, members in buckets.items():
        if max_bucket is not None and len(members) > max_bucket:
            dropped[bk] = len(members)
            continue
        for a in members:
            for b in members:
                if a < b:
                    pairs[(a, b)] += 1
    return dict(pairs), dropped


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("max_bucket", [None, 4, 12])
def test_band_join_matches_brute_force(spark, seed, max_bucket):
    rows = _rows(seed)
    banded = spark.createDataFrame(rows, "id long, band int, key long, w long")
    pairs, dropped = band_join(banded, carry=["w"], max_bucket=max_bucket)
    want_pairs, want_dropped = _brute(rows, max_bucket)

    got = pairs.collect()
    assert pairs.columns == ["src", "dst", "w_a", "w_b", "n_shared"]
    assert len(got) == len({(r["src"], r["dst"]) for r in got})  # distinct
    assert {(r["src"], r["dst"]): r["n_shared"] for r in got} == want_pairs
    assert all(r["w_a"] == 7 * r["src"] and r["w_b"] == 7 * r["dst"] for r in got)
    if max_bucket is None:
        assert dropped is None
    else:
        assert {(r["band"], r["key"]): r["rows"] for r in dropped.collect()} == (
            want_dropped
        )
    # non-vacuous: the seeds produce pairs, some sharing several buckets,
    # and the caps drop something
    assert want_pairs
    assert max_bucket is not None or max(want_pairs.values()) > 1
    assert max_bucket is None or want_dropped


@pytest.mark.parametrize("max_bucket", [None, 4])
def test_band_join_one_column_bucket(spark, max_bucket):
    """The bucket is every column other than `id` and the carry: a single
    hash column (the shape of the containment and winnow postings) pairs
    and caps exactly like the (band, key) pair it encodes."""
    rows = _rows(1)
    banded = spark.createDataFrame(rows, "id long, band int, key long, w long")
    one = banded.select("id", (F.col("band") * 100 + F.col("key")).alias("h"))
    pairs, dropped = band_join(one, max_bucket=max_bucket)
    want_pairs, want_dropped = _brute(rows, max_bucket)

    assert pairs.columns == ["src", "dst", "n_shared"]
    got = {(r["src"], r["dst"]): r["n_shared"] for r in pairs.collect()}
    assert got == want_pairs
    if max_bucket is None:
        assert dropped is None
    else:
        assert dropped.columns == ["h", "rows"]
        assert {r["h"]: r["rows"] for r in dropped.collect()} == {
            band * 100 + key: n for (band, key), n in want_dropped.items()
        }
        assert want_dropped


# the pair joins that deliberately stay outside band_join: the canon_map
# title join (its job budget is pinned), the positional substring pairs,
# and the label-blocked cosine join (one block per item, nothing to count)
_OWN_PAIR_JOINS = {
    "linking.token_block_pairs",
    "substrdup.duplicated_substring_spans",
    "similarity.embedding_near_dup_pairs",
}


def _qualified(node) -> tuple[str, str] | None:
    """(alias, column) of an `F.col("alias.column")` call, else None."""
    import ast

    if (
        isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None)) == "col"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and "." in node.args[0].value
    ):
        alias, _, column = node.args[0].value.partition(".")
        return alias, column
    return None


def _id_ordered_self_joins(path) -> set[str]:
    """`module.function` of each `F.col("a.<c>") < F.col("b.<c>")` in
    `path`: the orientation of an id-ordered self-join."""
    import ast

    found = set()
    for fn in ast.walk(ast.parse(path.read_text())):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Compare)
                and len(node.ops) == 1
                and isinstance(node.ops[0], ast.Lt)
            ):
                continue
            lo, hi = _qualified(node.left), _qualified(node.comparators[0])
            if lo and hi and lo[1] == hi[1] and lo[0] != hi[0]:
                found.add(f"{path.stem}.{fn.name}")
    return found


def test_band_join_is_the_only_shared_key_self_join():
    """No operator module but banding.py orients a self-join by id,
    except the three pair joins named in _OWN_PAIR_JOINS."""
    from pathlib import Path

    ops = Path(__file__).resolve().parent.parent / "confluence2md_spark" / "operators"
    found = set().union(
        *(_id_ordered_self_joins(f) for f in sorted(ops.glob("*.py")) if f.name != "banding.py")
    )
    assert found == _OWN_PAIR_JOINS
    assert _id_ordered_self_joins(ops / "banding.py") == {"banding.band_join"}
