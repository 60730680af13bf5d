"""The capped shared-key pair join of the near-dup family (SURVEY.md
§2.I/J): `band_join`, here once, with its cap `cap_groups`.

Every near-dup operator makes the same move: explode each item into one
row per key it holds, self-join on the key, and verify the pairs that
survive. The keys are its bucket: every input column other than `id`
and the carried ones.
- (band, key): MinHash over word n-grams (linking, streaming), portable
  MinHash and both SimHash variants (portable_dedup, dedup), and
  random-hyperplane buckets (similarity.embedding_near_dup_lsh).
- one gram or fingerprint hash: containment_pairs (containment) and
  winnow_overlap_pairs (winnow).
- (lang, lb, g): the blocked n-gram postings of dedup.ngram_jaccard_pairs,
  whose (lang, lb) block cap is `cap_groups` too.

The sketch or postings and the verify step belong to the caller; the
self-join, the src < dst orientation, the per-pair count of shared
buckets (`n_shared`) and the cap are here. The band-key expressions and
the MinHash permutation constants live here too, one per family.

Three pair joins stay outside: linking.token_block_pairs (on the
canon_map path, with its own job budget), substrdup (its pairs are
positional) and similarity.embedding_near_dup_pairs (one block per item,
nothing to count).

Cost: the join's output is the sum over buckets of size², so a bucket
holding a large share of the corpus (a ubiquitous shingle supplying a
whole band's minima, a pile of zero vectors in one hyperplane cell) makes
it quadratic. `max_bucket` bounds every bucket, which bounds the output
by rows × max_bucket; what it drops is returned, not hidden.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import MERSENNE31


def permutations(k: int, seed: int) -> list[tuple[int, int]]:
    """Seeded affine MinHash constants (a, b), a in [1, M), b in [0, M),
    M = 2^31 - 1. Both MinHash families draw from here: the xxhash64 one
    and the portable one, whose DuckDB twin inlines the same constants."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(k)
    ]


def minhash_bands(sig: Column, bands: int) -> Column:
    """array<long> of `bands` keys: xxhash64 of each consecutive
    size(sig)/bands-slot slice of a MinHash signature (JVM-side, no string
    round-trip)."""
    r = (F.size(sig) / bands).cast("int")
    return F.array(*[F.xxhash64(F.slice(sig, r * i + 1, r)) for i in range(bands)])


def bit_bands(col: Column, bands: int, width: int) -> Column:
    """array<long> of `bands` keys: consecutive `width`-bit fields of a
    SimHash, low bits first. Two hashes within Hamming distance < bands
    agree on at least one field (pigeonhole)."""
    mask = F.lit((1 << width) - 1)
    return F.array(
        *[F.shiftrightunsigned(col, b * width).bitwiseAND(mask) for b in range(bands)]
    )


def cap_groups(
    rows: DataFrame, keys: Sequence[str], max_rows: int
) -> tuple[DataFrame, DataFrame]:
    """Drop every `keys` group of `rows` that holds more than `max_rows`
    rows. Returns `(kept, dropped)`: `rows` without those groups, and the
    lazy (*keys, rows) relation of the groups over the cap.

    The census is partially aggregated map-side, so it shuffles one row
    per group per partition; its over-cap rows are `dropped` itself,
    anti-joined out as a broadcast: the cap and what it drops are one
    relation, and building it runs no Spark job."""
    dropped = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("rows"))
        .filter(F.col("rows") > max_rows)
    )
    kept = rows.join(F.broadcast(dropped.select(*keys)), list(keys), "left_anti")
    return kept, dropped


def band_join(
    banded: DataFrame,
    carry: Sequence[str] = (),
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Pair the items of `banded` (id, *bucket, *carry) that share a
    bucket. The bucket is every column other than `id` and `carry`: (band,
    key) for the banded sketches, one gram or fingerprint hash for the
    inverted indexes, (lang, lb, g) for the blocked n-gram postings. An
    item has at most one row per bucket.

    Returns `(pairs, dropped)`:
    - `pairs`: (src, dst, <c>_a..., <c>_b..., n_shared) with src < dst, one
      row per pair of ids sharing at least one bucket of at most
      `max_bucket` rows; <c>_a is src's value of carried column c, <c>_b
      is dst's, and `n_shared` counts the buckets the pair shares.
    - `dropped`: the lazy (*bucket, rows) relation of the buckets over the
      cap (`cap_groups`), or None when there is no cap.
    """
    bucket = [c for c in banded.columns if c != "id" and c not in carry]
    dropped = None
    if max_bucket is not None:
        banded, dropped = cap_groups(banded, bucket, max_bucket)
    # One hash exchange on the bucket, read by both sides of a merge join:
    # the rows are computed and shuffled once. Left to itself the planner
    # broadcasts one side, which computes the rows once per side and
    # cannot share the exchange (measured +46% warm on the n-gram query at
    # sf0.1); at corpus scale a broadcast side is impossible anyway.
    banded = banded.repartition(*bucket)
    a, b = banded.alias("a").hint("merge"), banded.alias("b")
    on = F.col("a.id") < F.col("b.id")
    for c in bucket:
        on &= F.col(f"a.{c}") == F.col(f"b.{c}")
    pairs = (
        a.join(b, on)
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(
            *[F.first(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.first(f"b.{c}").alias(f"{c}_b") for c in carry],
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    return pairs, dropped
