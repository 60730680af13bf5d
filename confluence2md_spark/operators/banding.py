"""The banded candidate join shared by the near-dup family (SURVEY.md
§2.I/J): MinHash over word n-grams (linking, streaming), portable MinHash
and both SimHash variants (portable_dedup, dedup) and random-hyperplane
buckets (similarity).

Every one of them makes the same move: sketch each item, explode it into
one (band, key) row per band, pair the items that share a bucket, and
verify the survivors exactly. The sketch and the verify step belong to
the caller; the self-join, the src < dst orientation, the pair dedup and
the mega-bucket cap are `band_join`, here once. The band-key expressions
and the MinHash permutation constants live here too, one per family.

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


def band_join(
    banded: DataFrame,
    carry: Sequence[str] = (),
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Pair the items of `banded` (id, band, key, *carry), one row per item
    and band, that share a bucket.

    Returns `(pairs, dropped)`:
    - `pairs`: distinct (src, dst, <c>_a..., <c>_b...) with src < dst, one
      row per pair of ids sharing at least one (band, key) bucket of at
      most `max_bucket` rows; <c>_a is src's value of carried column c,
      <c>_b is dst's.
    - `dropped`: the lazy (band, key, rows) relation of the buckets over
      the cap, or None when there is no cap.

    The cap is a (band, key) census — partially aggregated map-side, so
    it shuffles one row per bucket per partition — whose over-cap rows
    are `dropped` itself, anti-joined out as a broadcast: the cap and what
    it drops are one relation.
    """
    dropped = None
    if max_bucket is not None:
        dropped = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("rows"))
            .filter(F.col("rows") > max_bucket)
        )
        banded = banded.join(
            F.broadcast(dropped.select("band", "key")), ["band", "key"], "left_anti"
        )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .dropDuplicates(["src", "dst"])
    )
    return pairs, dropped
