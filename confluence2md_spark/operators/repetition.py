"""Repetition-based quality signals over the documents table.

The Gopher / MassiveText filtering rules (Rae et al. 2021, published) score
a document by how internally repetitive it is: the fraction of duplicate
tokens, the share of the single most frequent token, and the fraction of
duplicate word 2-grams. Highly repetitive documents are boilerplate or
spam and get dropped before LLM training. The corpus documents here are
single-line word sequences, so the word-level members of the family are
the non-vacuous ones (the line-level members of the published rule set
would compare 1 line against itself).

All signals are exact integer micros (floor(1e6 * num / den)), zero
floats, so the DuckDB twin states every row bit-for-bit.

Scale shape (the part that matters at 100 TB): one posexplode of the
token stream, then aggregations keyed on (doc_id) / (doc_id, token) only —
the classic tokenize pass every curation pipeline already makes. The
2-gram stream is derived with a single per-doc window `lead`, not a
self-join; nothing is collected to the driver and no per-doc work is
super-linear in document length (the O(uniq x len) list-lambda form is
left to the DuckDB oracle, which only runs at contract scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Keep-thresholds (micros). A document is kept when every signal is at or
# under its cap — the published rule family's shape, with caps picked to
# split this corpus non-trivially (see __spark_entry__ contract query).
DUP_WORD_CAP = 700_000
TOP_WORD_CAP = 120_000
DUP_2GRAM_CAP = 150_000


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup_word_cap: int = DUP_WORD_CAP,
    top_word_cap: int = TOP_WORD_CAP,
    dup_2gram_cap: int = DUP_2GRAM_CAP,
) -> DataFrame:
    """Per-document repetition signals + keep flag.

    Returns (doc_id, n_tok, dup_word_micros, top_word_micros,
    dup_2gram_micros, keep), unordered. Empty-text documents have
    n_tok counted over split()'s single empty token, matching the oracle.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )

    # (doc_id, token) counts -> per-doc totals, distincts, mode count.
    per_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    words = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.max("c").alias("top_cnt"),
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("gram"))
    )
    gstats = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_2g"),
        F.countDistinct("gram").alias("n_uniq_2g"),
    )

    out = (
        words.join(gstats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.expr("(n_tok - n_uniq) * 1000000 DIV n_tok").alias(
                "dup_word_micros"
            ),
            F.expr("top_cnt * 1000000 DIV n_tok").alias("top_word_micros"),
            F.expr(
                "CASE WHEN n_2g IS NULL OR n_2g = 0 THEN 0 "
                "ELSE (n_2g - n_uniq_2g) * 1000000 DIV n_2g END"
            ).alias("dup_2gram_micros"),
        )
        .withColumn(
            # BIGINT 0/1 rather than boolean: Spark arrow says 'boolean',
            # DuckDB arrow says 'bool' — integers hash identically in the
            # driver compare on both engines.
            "keep",
            (
                (F.col("dup_word_micros") <= F.lit(dup_word_cap))
                & (F.col("top_word_micros") <= F.lit(top_word_cap))
                & (F.col("dup_2gram_micros") <= F.lit(dup_2gram_cap))
            ).cast("bigint"),
        )
    )
    return out


def repetition_sql_duck(
    docs_rel: str = "documents",
    dup_word_cap: int = DUP_WORD_CAP,
    top_word_cap: int = TOP_WORD_CAP,
    dup_2gram_cap: int = DUP_2GRAM_CAP,
) -> str:
    """DuckDB twin. Uses the per-doc list-lambda form (fine at contract
    scale): mode count via a (doc_id, token) grouping like Spark; 2-grams
    via list_transform over gram start indices."""
    return f"""
WITH base AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM {docs_rel}
),
tokrows AS (SELECT doc_id, unnest(toks) AS tok FROM base),
tc AS (SELECT doc_id, tok, count(*) AS c FROM tokrows GROUP BY doc_id, tok),
words AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         count(*) AS n_uniq, max(c) AS top_cnt
  FROM tc GROUP BY doc_id
),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams
  FROM base
),
gstats AS (
  SELECT doc_id, len(grams) AS n_2g,
         len(list_distinct(grams)) AS n_uniq_2g
  FROM g
)
SELECT w.doc_id, w.n_tok,
       (w.n_tok - w.n_uniq) * 1000000 // w.n_tok AS dup_word_micros,
       w.top_cnt * 1000000 // w.n_tok AS top_word_micros,
       CASE WHEN gs.n_2g IS NULL OR gs.n_2g = 0 THEN 0
            ELSE (gs.n_2g - gs.n_uniq_2g) * 1000000 // gs.n_2g
       END AS dup_2gram_micros,
       CAST(dup_word_micros <= {dup_word_cap}
            AND top_word_micros <= {top_word_cap}
            AND dup_2gram_micros <= {dup_2gram_cap} AS BIGINT) AS keep
FROM words w LEFT JOIN gstats gs ON gs.doc_id = w.doc_id
ORDER BY w.doc_id"""
