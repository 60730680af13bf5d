"""Corpus-wide duplicated n-gram span signals (cross-document repetition).

`operators/repetition.py` scores INTRA-document repetition (the Gopher
rule family); this operator scores CROSS-document repetition: for each
document, the fraction of its word n-gram windows that also occur in at
least one OTHER document. The published web-curation stacks (RefinedWeb,
FineWeb, Dolma) all carry a signal of this shape — boilerplate detection
by shared-span mass — sitting between exact dedup (whole-doc hash) and
MinHash (whole-doc similarity): it catches documents assembled from
corpus-common fragments that are not near-duplicates of any single peer.

Exact-integer micros, zero floats — the DuckDB twin states every row
bit-for-bit.

Scale shape (100 TB): tokens are never shuffled as strings — each n-gram
window is collapsed to ONE xxhash64 inside a higher-order transform at
scan time, so the exploded relation is (doc_id, gram_h: bigint), the same
8-byte-key discipline the dedup/minhash stages use (SNIPPETS-independent,
see operators/dedup.py). Three shuffles total, all on skinny keys:
(1) gram_h for the document-frequency aggregation, (2) the join-back of
df onto the gram stream (reuses the df agg's gram_h partitioning on one
side), (3) doc_id for the per-document rollup. Grouping by 64-bit gram
hash instead of the gram string is the house convention: a collision
would need ~2^32 distinct grams per partition-group to matter (the
sf-scale oracle groups by the exact string and matches, pinning that the
hash grouping loses nothing at contract scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Window width and keep-cap (micros). n=4 splits the synthetic corpus
# non-trivially (sf0.01: mean dup fraction ~0.12, range 0..1; cap 100000
# keeps 441/500) — smaller n saturates (every 2-gram is corpus-duplicated
# in a small vocabulary), larger n goes sparse.
NGRAM_N = 4
DUP_SPAN_CAP = 100_000


def dup_span_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_N,
    cap_micros: int = DUP_SPAN_CAP,
) -> DataFrame:
    """Per-document duplicated-span signals + keep flag.

    Returns (doc_id, n_win, dup_win, dup_span_micros, keep), unordered.
    A window is "duplicated" when its n-gram occurs in >= 2 distinct
    documents corpus-wide. Documents with fewer than n tokens have zero
    windows and dup_span_micros = 0 (kept).
    """
    toks = F.split(F.col(text_col), " ")
    # gram hashes at scan time: strings die inside the projection, only
    # (doc_id, bigint) reaches any Exchange. sequence() is descending when
    # stop < start, so short docs need the explicit empty-array guard.
    grams_expr = F.when(
        F.size(toks) >= n,
        F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - {n} + 1), "
            f"i -> xxhash64(concat_ws(' ', slice(split({text_col}, ' '), i, {n}))))"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams_expr).alias("gram_h")
    )
    df_counts = g.groupBy("gram_h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    per_doc = (
        g.join(df_counts, "gram_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.sum((F.col("n_docs") >= 2).cast("bigint")).alias("dup_win"),
        )
    )
    # left join back onto the full doc list so zero-window docs still row.
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_win", F.lit(0)).cast("bigint").alias("n_win"),
            F.coalesce("dup_win", F.lit(0)).cast("bigint").alias("dup_win"),
            F.expr(
                "CASE WHEN coalesce(n_win, 0) = 0 THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(dup_win, 0) * 1000000 DIV n_win END"
            ).alias("dup_span_micros"),
        )
        .withColumn(
            "keep", (F.col("dup_span_micros") <= F.lit(cap_micros)).cast("bigint")
        )
    )


def dup_span_sql_duck(
    docs_rel: str = "documents",
    n: int = NGRAM_N,
    cap_micros: int = DUP_SPAN_CAP,
) -> str:
    """DuckDB twin — groups by the exact gram STRING (no hashing), which
    also pins that Spark's 64-bit hash grouping is collision-free at
    contract scale. DuckDB list slicing is 1-based inclusive; range(a, b)
    is empty when b <= a, covering the short-doc case."""
    return f"""
WITH base AS (SELECT doc_id, str_split(text, ' ') AS toks FROM {docs_rel}),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {n} + 2),
                i -> list_aggregate(toks[i:i + {n} - 1], 'string_agg', ' ')))
         AS gram
  FROM base
),
df AS (SELECT gram, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram),
per AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_win,
         CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_win
  FROM g JOIN df USING (gram) GROUP BY g.doc_id
)
SELECT b.doc_id,
       coalesce(p.n_win, 0) AS n_win,
       coalesce(p.dup_win, 0) AS dup_win,
       CASE WHEN coalesce(p.n_win, 0) = 0 THEN CAST(0 AS BIGINT)
            ELSE coalesce(p.dup_win, 0) * 1000000 // p.n_win END
         AS dup_span_micros,
       CAST((CASE WHEN coalesce(p.n_win, 0) = 0 THEN CAST(0 AS BIGINT)
             ELSE coalesce(p.dup_win, 0) * 1000000 // p.n_win END)
            <= {cap_micros} AS BIGINT) AS keep
FROM (SELECT doc_id FROM {docs_rel}) b
LEFT JOIN per p ON p.doc_id = b.doc_id
ORDER BY b.doc_id"""
