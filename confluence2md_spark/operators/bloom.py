"""Portable Bloom-filter decontamination — broadcast membership sketch
with an EXACT DuckDB twin (false positives and all).

`curation.decontaminate` broadcasts the benchmark's exact distinct gram
set; at 100 TB with a large benchmark suite the exact set itself can
outgrow a comfortable broadcast. The standard fix is a Bloom filter: k
hash probes into an m-bit array, membership = all k bits set — no false
negatives ever (every true benchmark gram sets its own bits), a bounded
false-positive rate ~= fill^k, and a FIXED broadcast footprint (m bits,
here 64 Ki bits = 2 Ki words) independent of benchmark size.

Spark ships a built-in Bloom (DataFrameStatFunctions / bloom_filter_agg)
but its layout is engine-specific — the same bounded-check problem as
HLL++. This operator instead builds the filter IN the engine from
portable integer arithmetic (polynomial gram hash -> k seeded affine
probes -> bit_or-packed 32-bit words), so Spark and DuckDB construct
bit-identical filters and make bit-identical membership decisions —
including the false positives, which is what makes the contract
hash-exact rather than bounded. Same device as operators/portable_dedup
and functions/hll.

Scale shape: the filter is built with one groupBy on word index (<= 2048
rows survive the partial agg regardless of benchmark size) and re-enters
as a broadcast; the probe side is THREE broadcast joins + a doc_id-keyed
count — the document stream itself never shuffles gram strings (grams
collapse to the 31-bit polynomial hash at scan time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import FINGERPRINT_DUCK, FINGERPRINT_SPARK, MERSENNE31

_MERSENNE = MERSENNE31
M_BITS = 65_536               # filter size (2^16 bits = 2048 x 32-bit words)
WORD_BITS = 32
N_GRAM = 5                    # same gram width as curation.decontaminate
# k = 3 seeded affine probes (a odd-ish large, b arbitrary; fixed contract)
PROBES = [
    (1_103_515_245, 12_345),
    (69_069, 362_437),
    (214_013, 2_531_011),
]


def _gram_hashes_spark(text_col: str, n: int) -> str:
    """SQL expr: array of polynomial hashes of the word n-grams of text.
    Docs with fewer than n tokens yield an EMPTY array — guarded with a
    CASE because Spark's sequence(1, 0) produces a DESCENDING [1, 0],
    not an empty sequence (the winnow/minhash modules guard with a row
    filter instead; here short docs must survive with zero grams)."""
    gram_str = (
        f"transform(sequence(1, size(split({text_col}, ' ')) - {n} + 1), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {n})))"
    )
    hash_of = FINGERPRINT_SPARK.format(t="g")
    return (
        f"CASE WHEN size(split({text_col}, ' ')) >= {n} "
        f"THEN transform({gram_str}, g -> {hash_of}) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )


def bloom_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = N_GRAM,
    m_bits: int = M_BITS,
) -> DataFrame:
    """(doc_id, n_grams, n_bloom_grams, flagged), unordered: per-document
    count of distinct word n-grams whose k Bloom probes are ALL set in the
    filter built from the benchmark's grams. No false negatives (every
    exact hit is flagged); false positives are deterministic and
    reproduced exactly by the twin. flagged = 1 iff any gram is
    Bloom-positive."""
    bench_pos = bench.selectExpr(
        f"explode({_gram_hashes_spark(bench_text_col, n)}) AS gh"
    ).distinct()
    pos_cols = [
        ((F.col("gh") * a + b) % _MERSENNE % m_bits).alias(f"p{i}")
        for i, (a, b) in enumerate(PROBES)
    ]
    positions = (
        bench_pos.select(*pos_cols)
        .selectExpr(f"explode(array({', '.join(f'p{i}' for i in range(len(PROBES)))})) AS pos")
        .distinct()
    )
    words = positions.groupBy(
        (F.col("pos") / WORD_BITS).cast("int").alias("widx")
    ).agg(
        F.bit_or(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))")).alias("w")
    )
    dg = docs.selectExpr(
        "doc_id",
        f"explode_outer(array_distinct({_gram_hashes_spark(text_col, n)})) AS gh",
    )
    probed = dg.select(
        "doc_id",
        "gh",
        *[
            ((F.col("gh") * a + b) % _MERSENNE % m_bits).alias(f"p{i}")
            for i, (a, b) in enumerate(PROBES)
        ],
    )
    for i in range(len(PROBES)):
        wi = words.select(
            F.col("widx").alias(f"widx{i}"), F.col("w").alias(f"w{i}")
        )
        probed = probed.join(
            F.broadcast(wi),
            (F.col(f"p{i}") / WORD_BITS).cast("int") == F.col(f"widx{i}"),
            "left",
        )
    bits_set = " + ".join(
        f"coalesce(shiftrightunsigned(w{i}, CAST(p{i} % {WORD_BITS} AS INT)) & 1, 0)"
        for i in range(len(PROBES))
    )
    hit = F.when(
        F.col("gh").isNotNull() & (F.expr(bits_set) == len(PROBES)), 1
    ).otherwise(0)
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("gh").alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_bloom_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_grams",
            (F.col("n_bloom_grams") >= 1).cast("int").alias("flagged"),
        )
    )


def bloom_decontaminate_sql_duck(
    docs_rel: str = "documents",
    bench_sql: str = "SELECT text FROM documents WHERE doc_id % 37 = 0",
    n: int = N_GRAM,
    m_bits: int = M_BITS,
) -> str:
    """DuckDB twin: identical gram hashes, probes, packed words, and
    membership decisions."""
    toks = "str_split(text, ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {n}, -1) + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' '))"
    )
    hash_of = FINGERPRINT_DUCK.format(t="g")
    gram_hashes = f"list_transform({grams}, g -> {hash_of})"
    probe_exprs = ", ".join(
        f"(gh * {a} + {b}) % {_MERSENNE} % {m_bits} AS p{i}"
        for i, (a, b) in enumerate(PROBES)
    )
    probe_list = ", ".join(f"p{i}" for i in range(len(PROBES)))
    joins = "\n".join(
        f"LEFT JOIN words w{i} ON CAST(pr.p{i} // {WORD_BITS} AS INT) = w{i}.widx"
        for i in range(len(PROBES))
    )
    bits = " + ".join(
        f"COALESCE((w{i}.w >> CAST(pr.p{i} % {WORD_BITS} AS INT)) & 1, 0)"
        for i in range(len(PROBES))
    )
    return f"""
WITH bench_gh AS (
  SELECT DISTINCT unnest({gram_hashes}) AS gh FROM ({bench_sql})
),
probes AS (SELECT {probe_exprs} FROM bench_gh),
positions AS (
  SELECT DISTINCT unnest([{probe_list}]) AS pos FROM probes
),
words AS (
  SELECT CAST(pos // {WORD_BITS} AS INT) AS widx,
         bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS w
  FROM positions GROUP BY 1
),
dg AS (
  SELECT doc_id, unnest(list_distinct({gram_hashes})) AS gh FROM {docs_rel}
),
pr AS (SELECT doc_id, gh, {probe_exprs} FROM dg),
hits AS (
  SELECT pr.doc_id, CASE WHEN {bits} = {len(PROBES)} THEN 1 ELSE 0 END AS hit
  FROM pr
{joins}
),
agg AS (
  SELECT d.doc_id,
         CAST(COALESCE(h.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(h.n_bloom, 0) AS BIGINT) AS n_bloom_grams
  FROM (SELECT DISTINCT doc_id FROM {docs_rel}) d
  LEFT JOIN (
    SELECT doc_id, count(*) AS n_grams, sum(hit) AS n_bloom
    FROM hits GROUP BY doc_id
  ) h USING (doc_id)
)
SELECT doc_id, n_grams, n_bloom_grams,
       CAST(n_bloom_grams >= 1 AS INT) AS flagged
FROM agg ORDER BY doc_id"""
