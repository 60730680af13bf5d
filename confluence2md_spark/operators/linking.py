"""Entity linking I1/I2 (SURVEY.md §2.I): candidate generation + exact
Jaccard verification, for two shapes of text.

* Short strings (titles): `token_block_pairs`, a df-capped token inverted
  index with an exact-hash star fallback — deterministic, trivial
  expressions.
* Documents: `lsh_candidate_pairs`, MinHash over word n-grams, banded
  through `banding.band_join`. Shingles are xxhash64 values; the
  signature is one vectorized numpy pass per Arrow batch.

Scale notes:
* the band self-join is on (band, key) — an equi key, so Catalyst uses a
  shuffled hash/sort-merge join, and the mega-bucket cap bounds it.
* permutation constants stay < 2^31 and shingle hashes are folded into
  [0, 2^31) first, so a*h+b never overflows a long (Spark 4 runs ANSI mode —
  overflow would throw, not wrap).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import MERSENNE31 as _MERSENNE
from .banding import band_join, minhash_bands, permutations


def shingle_hashes_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lower(text), as FULL 64-bit
    xxhash64 values (the [0, 2^31) fold lives inside the signature, where
    it only has to protect the ANSI a*h+b arithmetic, not equality).

    Word n-grams, not character n-grams: over a small vocabulary every long
    document shares nearly all char 3-grams, so banding degrades to
    all-pairs, while word n-grams stay discriminative.

    Each TOKEN is hashed once, then each n-long slice of token hashes —
    the n-gram string is never built. Building ~600 gram strings per doc
    (concat_ws allocation + string hash) measured 5.1 s cold / 1.0 s warm
    at sf0.1 vs 0.8 / 0.6 for the token-hash form; identical distinct
    cardinality (injective modulo 64-bit collisions, which is all
    Jaccard-over-hashes ever assumed)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    th = F.transform(toks, lambda x: F.xxhash64(x))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(F.slice(th, i + 1, n)))
    )


def minhash_signature_col(hashes: Column, k: int = 32, seed: int = 42) -> Column:
    """array<long> length-k MinHash signature over a shingle-hash array, as
    column expressions (k JVM array traversals). The streaming operator
    runs it; `lsh_candidate_pairs` runs the bit-identical numpy kernel.

    Shingle hashes arrive as FULL 64-bit values (equality semantics); the
    [0, 2^31) fold happens here, per permutation, solely so a*h+b stays
    below 2^62 under Spark 4's ANSI overflow checking. A fold collision
    only perturbs one permutation's min — it can no longer make two
    different shingle SETS compare equal."""
    folded = F.transform(hashes, lambda h: F.pmod(h, F.lit(_MERSENNE)))
    return F.array(
        *[
            F.array_min(F.transform(folded, lambda h: F.pmod(h * a + b, F.lit(_MERSENNE))))
            for a, b in permutations(k, seed)
        ]
    )


def minhash_signatures(shs, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, k) int64 MinHash signatures of n shingle-hash arrays, for the
    permutations (a[j], b[j]) — bit-identical to `minhash_signature_col`.

    Same fold to [0, 2^31) before the permutation product (numpy % matches
    Spark pmod's sign semantics; h < 2^31 and a < 2^31, so a*h+b < 2^62
    never overflows int64), same empty-set -> single-zero-shingle
    convention. All rows' shingles are one flat array, and each row's min
    is one `minimum.reduceat` over the row boundaries — no per-row Python.
    One permutation at a time, into one reused flat-sized buffer: peak
    memory is about twice the batch's shingle bytes, where a
    (total_shingles x k) matrix was k times that plus its temporaries
    (200 docs x 5,000 shingles, k=32, one core: tracemalloc peak 496 ->
    15.3 MiB, 208-239 -> 77-81 ms)."""
    n, k = len(shs), len(a)
    empty = np.zeros(1, dtype=np.int64)
    arrs = [np.asarray(s, dtype=np.int64) if len(s) else empty for s in shs]
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=n)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat = np.concatenate(arrs)
    np.remainder(flat, _MERSENNE, out=flat)
    buf = np.empty_like(flat)
    sig = np.empty((n, k), dtype=np.int64)
    for j in range(k):
        np.multiply(flat, a[j], out=buf)
        buf += b[j]
        np.remainder(buf, _MERSENNE, out=buf)
        sig[:, j] = np.minimum.reduceat(buf, starts)
    return sig


def _with_numpy_signatures(shingled: DataFrame, k: int, seed: int) -> DataFrame:
    """(id, sh) -> (id, sh, sig) via `minhash_signatures` per Arrow batch.
    For long documents (hundreds of word-n-gram shingles) one vectorized
    pass per batch replaces ~19k expression-tree evaluations per row."""
    import pandas as pd

    perms = np.asarray(permutations(k, seed), dtype=np.int64)
    a, b = perms[:, 0], perms[:, 1]

    def _batches(it):
        for pdf in it:
            sigs = list(minhash_signatures(list(pdf["sh"]), a, b)) if len(pdf) else []
            yield pd.DataFrame({"id": pdf["id"], "sh": pdf["sh"], "sig": sigs})

    return shingled.mapInPandas(
        _batches, schema="id long, sh array<bigint>, sig array<bigint>"
    )


def df_capped_token_index(occ: DataFrame, tok_col: str = "tok", max_token_df: int = 100) -> DataFrame:
    """Drop token occurrences whose document frequency exceeds
    `max_token_df` — THE shared blocking primitive behind every inverted-
    index candidate generator here (title linking below and the mention
    fuzzy tier in mentions.py use this one implementation, so cap/recall
    accounting fixes land once — VERDICT r2 item 8).

    One window shuffle (vs a groupBy-hot + anti-join pair of subplans), and
    it leaves the result hash-partitioned by the token — exactly the
    distribution the downstream equi-join on the token needs, so the join
    reuses this exchange.

    Recall accounting: a candidate pair ALL of whose shared tokens are hot
    is dropped. For small token sets such a pair has high Jaccard only if
    the strings are (near-)identical — callers that need those must pair
    this with an exact-hash fallback over the full token sequence (see
    token_block_pairs), which ignores the cap."""
    from pyspark.sql import Window

    return (
        occ.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy(tok_col)))
        .filter(F.col("df") <= max_token_df)
        .drop("df")
    )


def token_block_pairs(
    entities: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "title",
    threshold: float = 0.8,
    max_token_df: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src, dst, jaccard) pairs with exact token-set Jaccard >= threshold,
    via a df-capped inverted index — the SHORT-STRING candidate generator.

    For 2-5-token strings (titles), MinHash banding is both probabilistic
    (candidate prob = jaccard^r per band — a near-dup pair can simply never
    surface) and expensive to codegen (nested higher-order array exprs
    measured ~9 s of cold-JIT per fresh JVM). An inverted index over
    non-ubiquitous tokens is DETERMINISTIC — it finds every pair sharing at
    least one token rarer than `max_token_df` — and compiles to trivial
    expressions. Candidate volume is bounded by sum(df^2) over kept tokens
    <= max_token_df * total_token_occurrences, i.e. linear in corpus size
    for a fixed cap.

    Recall accounting (same discipline as `band_join`'s mega-bucket cap): a pair
    whose shared tokens are ALL hot is dropped — for small token sets such
    a pair has high Jaccard only if the strings are (near-)identical, and
    byte-identical texts are always caught by the exact star fallback on
    the full token-sequence hash, which ignores the df cap.
    Long documents use `lsh_candidate_pairs`: their shingle sets are
    large, so an inverted index would explode while banding concentrates.
    """
    from pyspark.sql import Window

    if num_partitions is None:
        num_partitions = entities.sparkSession.sparkContext.defaultParallelism
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    base = entities.select(F.col(id_col).alias("id"), toks.alias("tk"))
    # `num_partitions` sizes the token shuffle, where the join work is; the
    # df-cap window and both self-join aliases reuse this one exchange. Not
    # on `base`: both windows re-shuffle anyway, and an exchange there is
    # planned twice (the filter Catalyst infers from `explode` lands in
    # one branch only, so the exact-hash branch cannot reuse it).
    occ = base.select("id", "tk", F.explode("tk").alias("tok")).repartition(
        num_partitions, "tok"
    )
    kept = df_capped_token_index(occ, max_token_df=max_token_df)
    a, b = kept.alias("a"), kept.alias("b")
    # no intermediate dedup: a pair sharing k rare tokens is generated k
    # times, but k is tiny for title-sized sets and the jaccard expression
    # is cheap — one terminal dropDuplicates replaces two mid-plan shuffles.
    cand = a.join(
        b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("src"),
        F.col("b.id").alias("dst"),
        F.col("a.tk").alias("tk_a"),
        F.col("b.tk").alias("tk_b"),
    )
    jac = F.size(F.array_intersect("tk_a", "tk_b")) / F.size(F.array_union("tk_a", "tk_b"))
    pairs = (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )
    # exact star fallback, likewise as one window pass over the hash
    we = Window.partitionBy("eh")
    star = (
        base.select("id", F.xxhash64("tk").alias("eh"))
        .withColumn("mn", F.min("id").over(we))
        .filter(F.col("id") != F.col("mn"))
        .select(
            F.col("mn").alias("src"),
            F.col("id").alias("dst"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return pairs.unionByName(star).dropDuplicates(["src", "dst"])


def lsh_candidate_pairs(
    entities: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    num_partitions: int | None = None,
    max_bucket_size: int = 200,
) -> DataFrame:
    """(src, dst, jaccard) pairs of documents whose word-3-gram shingle
    sets have exact Jaccard >= threshold, found via MinHash LSH banding
    (b=bands, r=k/bands). src < dst.

    EAGER: the result is a local checkpoint, owned by the caller (the
    `plans/iterate` convention), so the signature cache it was computed
    from is released before returning.

    The repartition() calls are EXCHANGE BARRIERS: a small parquet input
    arrives as one partition — without a repartition the whole signature
    computation runs on one core.

    `max_bucket_size` drops DEGENERATE buckets before the self-join (see
    `band_join`): a true near-dup pair shares ALL bands, including the
    small buckets keyed by its distinctive shingles, so skipping
    mega-buckets costs ~no recall while keeping the join linear (observed
    before the cap: 21M candidates from 36k short strings).

    The exact-hash star fallback closes the one recall hole the cap opens:
    IDENTICAL shingle sets whose every band bucket happens to be oversized
    would lose all bands and silently miss. It groups on xxhash64 of the
    shingle sequence — identical texts always collide there — and emits
    STAR edges (every member -> the group's min id) rather than all pairs:
    for connected components the star yields the same components, and it
    stays LINEAR in group size. Jaccard is 1.0 by construction for these
    edges.
    """
    from pyspark import StorageLevel

    assert k % bands == 0, "k must be divisible by bands"
    if num_partitions is None:
        num_partitions = entities.sparkSession.sparkContext.defaultParallelism
    shingled = entities.select(
        F.col(id_col).alias("id"), shingle_hashes_col(F.col(text_col)).alias("sh")
    ).repartition(num_partitions, "id")
    # ONE materialization of (id, sh, sig) for every downstream scan. The
    # plan below reads this relation four times (band rows, two shingle
    # join-backs, exact-fallback hash) and each read would otherwise
    # RECOMPUTE the shingling + signatures — measured 6.5 s warm -> 3.5 s
    # at sf0.1. Exchange reuse does not cover these (different projections
    # -> different exchanges).
    sigd = (
        _with_numpy_signatures(shingled, k=k, seed=seed)
        .repartition(num_partitions, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        shingles = sigd.select("id", "sh")
        # band rows stay (id, band, key): carrying ~600-long shingle arrays
        # through the bands-wide explode would shuffle them through the
        # self-join for a candidate set of a few dozen pairs, so they join
        # back for the survivors only.
        banded = sigd.select(
            "id", F.posexplode(minhash_bands(F.col("sig"), bands)).alias("band", "key")
        )
        ids, _ = band_join(banded, max_bucket=max_bucket_size)
        cand = ids.join(
            shingles.select(F.col("id").alias("src"), F.col("sh").alias("sh_a")), "src"
        ).join(
            shingles.select(F.col("id").alias("dst"), F.col("sh").alias("sh_b")), "dst"
        )
        jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
            F.array_union("sh_a", "sh_b")
        )
        lsh_pairs = (
            cand.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("src", "dst", "jaccard")
        )
        # No array_sort: array_distinct preserves first-occurrence order, so
        # byte-identical texts always produce the identical shingle SEQUENCE.
        exact = shingles.select("id", F.xxhash64("sh").alias("eh"))
        bucket_min = (
            exact.groupBy("eh")
            .agg(F.min("id").alias("src"), F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .select("eh", "src")
        )
        star = (
            exact.join(bucket_min, "eh")
            .filter(F.col("id") != F.col("src"))
            .select("src", F.col("id").alias("dst"), F.lit(1.0).alias("jaccard"))
        )
        return (
            lsh_pairs.unionByName(star)
            .dropDuplicates(["src", "dst"])
            .localCheckpoint(eager=True)
        )
    finally:
        sigd.unpersist()
