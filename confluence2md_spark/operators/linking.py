"""Entity linking I1/I2 (SURVEY.md §2.I): MinHash/LSH candidate generation +
exact-Jaccard verification — built as PURE DataFrame ops (no Spark-ML row
UDFs, no Python): shingle -> xxhash64 -> per-permutation min via higher-order
array functions, LSH bands exploded to an equi-join key.

Scale notes:
* the self-join is on (band_idx, band_hash) — an equi key, so Catalyst uses a
  shuffled hash/sort-merge join; identical titles collide into the same
  bucket without any all-pairs blowup.
* permutation constants stay < 2^31 and shingle hashes are folded into
  [0, 2^31) first, so a*h+b never overflows a long (Spark 4 runs ANSI mode —
  overflow would throw, not wrap).
* band hashes over the signature slices use xxhash64 over the array directly
  (JVM-side, no string round-trip).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MERSENNE = 2_147_483_647  # 2^31 - 1

def _permutations(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(k)]


def shingle_hashes_col(text: Column, n: int = 3, mode: str = "chars") -> Column:
    """Distinct shingles of lower(text), hashed to [0, 2^31) longs.

    mode='chars': character n-grams — right for near-dup SHORT prose.
    mode='words': whitespace tokens — right for SHORT strings like titles,
    where char n-grams of 'page 1' vs 'page 10' overlap ≥0.8 and would
    over-merge; token sets only reach high Jaccard on (near-)identical
    titles.
    mode='word_ngrams': n-token shingles — right for full documents, where
    char n-grams over a small vocabulary saturate (every long doc shares
    nearly all char 3-grams -> quadratic candidate blowup) but word
    n-grams stay discriminative.
    """
    t = F.lower(text)
    if mode == "words":
        # FULL 64-bit hashes. Folding to [0, 2^31) here was a round-1-3
        # correctness bug: the exact-Jaccard verify ran on folded hashes,
        # and at 640k distinct tokens the expected number of 31-bit
        # birthday collisions (~n^2/2^32 ≈ 95) made distinct titles verify
        # as identical — measured 61 over-merged alias pairs against the
        # closed-form oracle. The [0, 2^31) fold lives INSIDE
        # minhash_signature_col, where it only has to protect the ANSI
        # (a*h+b) arithmetic, not equality semantics.
        shingles = F.array_distinct(F.split(F.trim(t), r"\s+"))
    elif mode == "word_ngrams":
        # Hash each TOKEN once, then hash the n-long slice of token hashes —
        # never build the n-gram string. Building ~600 gram strings per doc
        # (concat_ws allocation + string hash) measured 5.1 s cold / 1.0 s
        # warm at sf0.1 vs 0.8 / 0.6 for the token-hash form; identical
        # distinct-cardinality (injective modulo 64-bit collisions, which is
        # all Jaccard-over-hashes ever assumed).
        toks = F.split(F.trim(t), r"\s+")
        th = F.transform(toks, lambda x: F.xxhash64(x))
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.xxhash64(F.slice(th, i + 1, n)))
        )
    else:
        idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
        shingles = F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, n)))
    return F.transform(shingles, lambda s: F.xxhash64(s))


def minhash_signature_col(hashes: Column, k: int = 32, seed: int = 42) -> Column:
    """array<long> length-k MinHash signature over a shingle-hash array.

    Shingle hashes arrive as FULL 64-bit values (equality semantics); the
    [0, 2^31) fold happens here, per permutation, solely so a*h+b stays
    below 2^62 under Spark 4's ANSI overflow checking. A fold collision
    only perturbs one permutation's min — it can no longer make two
    different shingle SETS compare equal."""
    perms = _permutations(k, seed)
    folded = F.transform(hashes, lambda h: F.pmod(h, F.lit(_MERSENNE)))
    return F.array(
        *[
            F.array_min(F.transform(folded, lambda h: F.pmod(h * a + b, F.lit(_MERSENNE))))
            for a, b in perms
        ]
    )


def _with_numpy_signatures(shingled: DataFrame, k: int, seed: int) -> DataFrame:
    """(id, sh) -> (id, sh, sig) via a vectorized Arrow/numpy pandas UDF.

    Bit-identical to `minhash_signature_col` (same permutation constants,
    same (a*h+b) % M arithmetic — h < 2^31 and a < 2^31, so a*h+b < 2^62
    never overflows int64), but one (n_shingles × k) numpy matmul-shaped
    min per row instead of k separate JVM array traversals. For long
    documents (hundreds of word-n-gram shingles) this is the difference
    between ~19k expression-tree evaluations per row and one vector op;
    for short strings (titles) the JVM path wins by skipping Arrow."""
    import numpy as np
    import pandas as pd

    perms = np.asarray(_permutations(k, seed), dtype=np.int64)
    a, b = perms[:, 0][None, :], perms[:, 1][None, :]

    def _batches(it):
        for pdf in it:
            # r6: one flat (total_shingles, k) pass + per-row segment min
            # via minimum.reduceat instead of a Python loop with a small
            # numpy call per row (~20 µs/row of dispatch overhead at
            # corpus scale). Same fold-to-[0, 2^31) BEFORE the permutation
            # product as the JVM path (numpy % matches Spark pmod sign
            # semantics; unfolded h*a would wrap int64 silently), same
            # exact int64 arithmetic, same empty-set → single-zero-shingle
            # convention — signatures are bit-identical (pinned by the
            # numpy-vs-JVM differential test).
            shs = list(pdf["sh"])
            n = len(shs)
            if n == 0:
                yield pd.DataFrame({"id": pdf["id"], "sh": pdf["sh"], "sig": []})
                continue
            arrs = [
                np.asarray(s, dtype=np.int64)
                if len(s)
                else np.zeros(1, dtype=np.int64)
                for s in shs
            ]
            lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=n)
            flat = np.concatenate(arrs) % _MERSENNE
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            mat = (flat[:, None] * a + b) % _MERSENNE  # (total, k)
            sig_mat = np.minimum.reduceat(mat, starts, axis=0)  # (n, k)
            sigs = list(sig_mat)
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
    exact_fallback: bool = True,
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

    Recall accounting (same discipline as the LSH mega-bucket cap): a pair
    whose shared tokens are ALL hot is dropped — for small token sets such
    a pair has high Jaccard only if the strings are (near-)identical, and
    byte-identical texts are always caught by the `exact_fallback` star
    join on the full token-sequence hash, which ignores the df cap.
    Long documents should keep using `lsh_candidate_pairs(mode=
    'word_ngrams')`: their shingle sets are large, so an inverted index
    would explode while banding concentrates.
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
    if not exact_fallback:
        return pairs.dropDuplicates(["src", "dst"])
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
    text_col: str = "title",
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    mode: str = "chars",
    num_partitions: int | None = None,
    max_bucket_size: int = 200,
    exact_fallback: bool = True,
    sig_engine: str = "jvm",
) -> DataFrame:
    """(src, dst, jaccard) pairs with exact Jaccard >= threshold, found via
    MinHash LSH banding (b=bands, r=k/bands). src < dst.

    The repartition() calls are EXCHANGE BARRIERS, load-bearing twice over:
    (1) a small parquet input arrives as one partition — without a
    repartition the whole signature computation runs on one core; (2)
    Catalyst's projection collapse would otherwise inline the shingle
    expression into each of the k array_min's (k× substring-generation per
    row) and the signature into each band hash — an exchange materializes
    each intermediate exactly once.

    `max_bucket_size` drops DEGENERATE buckets before the self-join: when a
    ubiquitous shingle supplies the minhash for a whole band (tiny shingle
    sets, e.g. 2-token titles where every set contains 'page'), that band's
    bucket holds a large fraction of the corpus and the join goes quadratic
    (observed: 21M candidates from 36k titles). A true near-dup pair shares
    ALL bands, including the small buckets keyed by its distinctive
    shingles, so skipping mega-buckets costs ~no recall while restoring
    linear behavior — this is what makes the op safe at 10^12 rows.

    `exact_fallback` closes the one recall hole the mega-bucket cap opens:
    a pair of IDENTICAL shingle sets whose every band bucket happens to be
    oversized (possible when the sets are tiny — e.g. 2-token titles whose
    minhash slots all derive from a ubiquitous token) would lose all bands
    and silently miss. The fallback joins on xxhash64 of the SORTED shingle
    set — identical sets always collide there — and emits STAR edges (every
    member -> the bucket's min id) rather than all pairs: for connected
    components the star yields the same components, and it stays LINEAR in
    bucket size where all-pairs on a 10^6-identical-text bucket would be
    quadratic. Jaccard is 1.0 by construction for these edges.
    """
    assert k % bands == 0, "k must be divisible by bands"
    r = k // bands
    if num_partitions is None:
        num_partitions = entities.sparkSession.sparkContext.defaultParallelism
    shingled = entities.select(
        F.col(id_col).alias("id"),
        shingle_hashes_col(F.col(text_col), mode=mode).alias("sh"),
    ).repartition(num_partitions, "id")
    if sig_engine == "numpy":
        # vectorized path (see helper docstring). With the persist below the
        # Arrow round-trip happens ONCE, and the measurement flips: at sf0.1
        # doc lengths numpy beats the k JVM traversals cold (9.4 vs 14.5 s —
        # far less codegen to JIT) and warm (2.0 vs 2.7 s). Long-shingle-set
        # callers (word_ngrams) should pass it; short strings (titles) keep
        # JVM, where skipping Arrow still wins.
        sigd = _with_numpy_signatures(shingled, k=k, seed=seed).repartition(
            num_partitions, "id"
        )
    else:
        sigd = shingled.select(
            "id", "sh", minhash_signature_col(F.col("sh"), k=k, seed=seed).alias("sig")
        ).repartition(num_partitions, "id")

    # ONE materialization of (id, sh, sig) for every downstream scan. The
    # plan below reads this relation up to six times (bucket census, both
    # self-join sides, two shingle join-backs, exact-fallback hash) and each
    # read would otherwise RECOMPUTE the shingling + k minhash traversals —
    # measured 6.5 s warm -> 3.5 s at sf0.1 word_ngram docs. Exchange reuse
    # does not cover these (different projections -> different exchanges).
    # Cost at scale: ~(shingles + k) * 8 B per row in MEMORY_AND_DISK,
    # strictly cheaper than 3-6 recomputations of the same bytes.
    from pyspark import StorageLevel

    sigd = sigd.persist(StorageLevel.MEMORY_AND_DISK)
    shingled = sigd.select("id", "sh")

    # Shingle placement is mode-dependent, and measurably so in BOTH
    # directions: for word_ngrams (documents, ~600-long arrays) carrying sh
    # through the bands-wide explode shuffles ~200 MB of array bytes
    # through the self-join for a candidate set of a few dozen pairs — so
    # band rows stay (id, band_idx, band_hash) and sh joins back for the
    # survivors. For words/chars (titles, 2-3-long arrays) those two extra
    # join-back shuffles of the full id space cost MORE than the tiny
    # arrays they avoid carrying (measured +6 s on 517k titles) — so short
    # modes carry sh inline, exactly like round 1.
    carry_sh = mode != "word_ngrams"
    band_cols = ["id", "sh"] if carry_sh else ["id"]
    banded = sigd.select(
        *band_cols,
        F.posexplode(
            F.array(*[F.xxhash64(F.slice("sig", i * r + 1, r)) for i in range(bands)])
        ).alias("band_idx", "band_hash"),
    )
    big_buckets = (
        banded.groupBy("band_idx", "band_hash")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .select("band_idx", "band_hash")
    )
    banded = banded.join(
        F.broadcast(big_buckets), ["band_idx", "band_hash"], "left_anti"
    )

    a = banded.alias("a")
    b = banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.id") < F.col("b.id")),
    )
    if carry_sh:
        cand = joined.select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        ).dropDuplicates(["src", "dst"])
    else:
        cand = (
            joined.select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
            .dropDuplicates(["src", "dst"])
            .join(
                shingled.select(F.col("id").alias("src"), F.col("sh").alias("sh_a")),
                "src",
            )
            .join(
                shingled.select(F.col("id").alias("dst"), F.col("sh").alias("sh_b")),
                "dst",
            )
        )

    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    lsh_pairs = (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )
    if not exact_fallback:
        return lsh_pairs
    # No array_sort: array_distinct preserves first-occurrence order, so
    # byte-identical texts (the ADVICE failure mode: identical titles in a
    # dropped mega-bucket) always produce the identical shingle SEQUENCE.
    exact = shingled.select("id", F.xxhash64("sh").alias("eh"))
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
    return lsh_pairs.unionByName(star).dropDuplicates(["src", "dst"])
