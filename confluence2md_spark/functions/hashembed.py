"""Feature-hashing text embeddings (the "hashing trick").

Closes the text→vector loop: every embedding consumer in the repo (ANN
brute/LSH/IVF, embedding near-dup, SemDeDup) so far reads vectors from
the embeddings table; this operator CONSTRUCTS them from document text
in-engine, the way large-scale pipelines actually bootstrap features
when no trained encoder is in the loop — the hashing trick (Weinberger
et al. 2009, "Feature hashing for large scale multitask learning"):
token → hash bucket in [0, dim), vector = per-bucket term frequencies.
No vocabulary is built, no driver state exists, and the dimensionality
is fixed up front — the properties that make it the standard first
featurizer at 10^12-file scale.

The contract emits the SPARSE relation (doc_id, bucket, tf): exactly
what both engines can state row-for-row (a dense array would bury the
check in list-construction differences), and the shape a production
pipeline shuffles anyway (dense assembly is a per-doc local fold — see
`dense_rows`, which the ANN-bridge pytest uses to feed cosine top-k).

Hash portability: the repo's engine-portable polynomial hash
(`textstats.FINGERPRINT_SPARK/_DUCK`, h*31 + ascii mod 2^31-1) keyed
per TOKEN, then mod `dim` — the winnowing precedent: a contract choice
so the DuckDB twin reproduces the exact bucket assignment; production
would swap xxhash64 without changing any property of the trick.

Scale shape: one tokenize explode + one (doc_id, bucket)-keyed
aggregation with map-side combine — the same asymptotic cost as the
token-stats pass; token strings leave the plan at hash time, so every
Exchange carries (bigint, bigint, bigint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.functions.textstats import (
    FINGERPRINT_DUCK,
    FINGERPRINT_SPARK,
    tokens_col,
)

DIM = 64


def hashed_tf(
    docs: DataFrame, text_col: str = "text", dim: int = DIM
) -> DataFrame:
    """(doc_id, bucket, tf) sparse hashed-TF rows, unordered. Tokens are
    the whitespace stream of trim(lower(text)) — the corpus_curation token
    rule."""
    tok = docs.select(
        "doc_id",
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    bucket = F.expr(FINGERPRINT_SPARK.format(t="tok")) % dim
    return (
        tok.select("doc_id", bucket.cast("bigint").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def hashed_tf_sql_duck(docs: str = "documents", dim: int = DIM) -> str:
    """DuckDB twin: identical token rule, identical polynomial bucket."""
    tok_hash = FINGERPRINT_DUCK.format(t="tok")
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM {docs}
)
SELECT doc_id, CAST(({tok_hash}) % {dim} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS tf
FROM tok
GROUP BY doc_id, bucket
ORDER BY doc_id, bucket"""


def dense_rows(sparse_rows, dim: int = DIM) -> dict:
    """Local helper for consumers/tests: fold collected (doc_id, bucket,
    tf) rows into dense float vectors {doc_id: [float]*dim}."""
    out: dict = {}
    for r in sparse_rows:
        v = out.setdefault(r["doc_id"], [0.0] * dim)
        v[int(r["bucket"])] = float(r["tf"])
    return out
