"""Asymmetric containment near-dup detection (doc mostly inside another).

Jaccard-style near-dup (operators/dedup.py) is blind to CONTAINMENT: a
short document wholly embedded in a much longer one has low Jaccard
(union is dominated by the long side) but containment
|grams(A) ∩ grams(B)| / |grams(A)| ≈ 1. Web-curation stacks treat these
as duplicates too (quote farms, scraped aggregators, nested page
versions) — the published dedup literature calls this the "containment"
or "superset" case (Broder's original resemblance/containment pair).

Candidate generation is an inverted-index co-occurrence join — NOT the
length-bucket blocking the Jaccard path uses, because containment pairs
have *different* lengths by construction and never share a length block:

  1. per-doc distinct word n-grams, hashed to 64-bit at scan time;
  2. document-frequency cap: grams with df > max_df are dropped from the
     index and returned (stopword-gram cut — at 100 TB the common grams
     are exactly the ones that would make the co-occurrence join
     quadratic); docs sharing ONLY ultra-common grams are not containment
     candidates worth the quadratic term, the same trade the LSH
     mega-bucket cap makes;
  3. candidate pairs = pairs sharing >= min_shared surviving grams
     (`banding.band_join` over the postings: the cap, the co-occurrence
     self-join and the per-pair count in one place);
  4. exact verify: full gram sets joined back for candidates only,
     containment stated in both directions as exact floor-micros.

The DuckDB twin replays steps 1-4 with the exact gram STRINGS and the
same caps, so candidates and results match row-for-row (and pin that the
64-bit hash grouping loses nothing at contract scale). At sf0.01 the
corpus yields 50 directed containment rows at the 0.8 threshold — the
contract row is never vacuous.

Scale shape: shuffles touch only (id, gram_h) 16-byte rows and the
(a, b) candidate keys; gram arrays travel only to the verify join, whose
left side is the candidate set (orders of magnitude smaller than the
corpus). All exact set math is JVM array_intersect inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .banding import band_join

NGRAM_N = 3
CONTAIN_THRESHOLD_MICROS = 800_000
MAX_DF = 1000
MIN_SHARED = 3


def _distinct_grams(text, n: int):
    toks = F.split(text, " ")
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_N,
    threshold_micros: int = CONTAIN_THRESHOLD_MICROS,
    max_df: int = MAX_DF,
    min_shared: int = MIN_SHARED,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped): `pairs` is (src, dst, cont_micros) directed rows,
    unordered, where src's gram set is >= threshold contained in dst's.
    Both directions of a candidate pair are tested; a pair of exact
    duplicates emits two rows. `dropped` is the lazy (gram_h, rows)
    relation of the grams over the df cap."""
    p = docs.sparkSession.sparkContext.defaultParallelism
    # scanned by the index explode AND twice by verify; all three reads
    # share the round-robin exchange (small parquet arrives as 1 partition)
    base = docs.repartition(p).select(
        F.col(id_col).alias("id"),
        _distinct_grams(F.col(text_col), n).alias("grams"),
    )
    idx = base.select(
        "id",
        F.explode(F.transform("grams", lambda g: F.xxhash64(g))).alias("gram_h"),
    )
    shared, dropped = band_join(idx, max_bucket=max_df)
    cand = shared.filter(F.col("n_shared") >= min_shared)
    verified = (
        cand.join(base.select(F.col("id").alias("src"), F.col("grams").alias("ga")), "src")
        .join(base.select(F.col("id").alias("dst"), F.col("grams").alias("gb")), "dst")
        .select(
            "src",
            "dst",
            F.size(F.array_intersect("ga", "gb")).alias("inter"),
            F.size("ga").alias("na"),
            F.size("gb").alias("nb"),
        )
    )
    a_in_b = verified.select(
        "src",
        "dst",
        F.expr("CAST(inter AS BIGINT) * 1000000 DIV na").alias("cont_micros"),
    )
    b_in_a = verified.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.expr("CAST(inter AS BIGINT) * 1000000 DIV nb").alias("cont_micros"),
    )
    pairs = a_in_b.unionByName(b_in_a).filter(F.col("cont_micros") >= threshold_micros)
    return pairs, dropped


def containment_sql_duck(
    docs_rel: str = "documents",
    n: int = NGRAM_N,
    threshold_micros: int = CONTAIN_THRESHOLD_MICROS,
    max_df: int = MAX_DF,
    min_shared: int = MIN_SHARED,
) -> str:
    """DuckDB twin: same index → df-cap → co-occurrence → exact-verify
    pipeline over exact gram strings."""
    toks = "str_split(text, ' ')"
    grams = (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n}, -1) + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' ')))"
    )
    return f"""
WITH base AS (SELECT doc_id AS id, {grams} AS grams FROM {docs_rel}),
idx AS (SELECT id, unnest(grams) AS gram FROM base),
dfc AS (SELECT gram FROM idx GROUP BY gram HAVING count(*) <= {max_df}),
idx_rare AS (SELECT id, gram FROM idx JOIN dfc USING (gram)),
cand AS (
  SELECT a.id AS ia, b.id AS ib
  FROM idx_rare a JOIN idx_rare b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
),
verified AS (
  SELECT c.ia, c.ib,
         len(list_intersect(ba.grams, bb.grams)) AS inter,
         len(ba.grams) AS na, len(bb.grams) AS nb
  FROM cand c
  JOIN base ba ON ba.id = c.ia
  JOIN base bb ON bb.id = c.ib
),
directed AS (
  SELECT ia AS src, ib AS dst,
         CAST(inter AS BIGINT) * 1000000 // na AS cont_micros FROM verified
  UNION ALL
  SELECT ib AS src, ia AS dst,
         CAST(inter AS BIGINT) * 1000000 // nb AS cont_micros FROM verified
)
SELECT src, dst, cont_micros FROM directed
WHERE cont_micros >= {threshold_micros}
ORDER BY src, dst"""
