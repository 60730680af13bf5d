"""Unigram-model corpus signals: per-document TF-IDF keywords and
unigram-LM surprisal (the integer-exact stand-in for perplexity
filtering — CCNet/Gopher-style pipelines score every document against a
corpus LM and drop the tails). The reference CLI stops at conversion;
these are mandate-added curation analytics, so the DuckDB twin is the
spec.

Exact-integer contract (same floor-ln-micros device as BM25 / PMI /
Adamic-Adar; ln_m(x) = CAST(floor(1e6·ln(x)) AS BIGINT)):

    keyword score(d, w)   = tf(d,w) · (ln_m(N) − ln_m(df(w)))
    surprisal term(w)     = ln_m(T) − ln_m(c(w))      (≥ 0 by c ≤ T)
    avg_nll_micros(d)     = Σ_tokens term(w)  DIV  n_tokens(d)

Every quantity is an integer sum/product of per-term floors, so both
engines state it bit-for-bit. Overflow headroom: a surprisal term is
≤ ln_m(T) ≈ 1e6·ln(T) < 6e7 even at T = 10^13 tokens (100 TB), so a
doc's sum needs ~1.5e11 tokens before int64 matters; a keyword score is
tf·idf_m ≤ doc_len·6e7 — safe to ~1.5e11-token documents.

Tokenization is the corpus-wide rule shared by every text_* contract
(functions/textstats.py): whitespace split of trim(lower(text)).

Scale shape: one explode→groupBy(doc, w) builds the tf relation; df and
corpus counts reduce from it (map-side combined, keyed on single
words); the joins back are keyed on the word — NOT broadcast, a 100 TB
vocabulary outgrows any driver; the keyword top-k is a per-doc window
over the tf relation (partition key = doc id), never a global sort.
Document text never shuffles — (id, word, count) rows do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from confluence2md_spark.functions.textstats import TOKENS_SQL_DUCK, tokens_col

_LN_M = "CAST(floor(1000000 * ln({x})) AS BIGINT)"


def _tf(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        docs.select(id_col, F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def tfidf_keywords(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(doc_id, rank, w, score_micros): each document's top-`k` tokens by
    exact-integer TF-IDF (ties by token asc), unordered."""
    tf = _tf(docs, text_col, id_col).persist()
    try:
        n_rel = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        df_rel = tf.groupBy("w").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
        scored = (
            tf.join(df_rel, "w")
            .crossJoin(F.broadcast(n_rel))
            .select(
                id_col,
                "w",
                F.expr(
                    f"tf * ({_LN_M.format(x='n_docs')} - {_LN_M.format(x='df')})"
                )
                .cast("bigint")
                .alias("score_micros"),
            )
        )
        w = Window.partitionBy(id_col).orderBy(
            F.desc("score_micros"), F.asc("w")
        )
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", "w", "score_micros")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        tf.unpersist()
    return out


def tfidf_keywords_sql_duck(
    docs: str = "documents", text_col: str = "text", k: int = 3
) -> str:
    toks = TOKENS_SQL_DUCK.format(t=text_col)
    ln_m = _LN_M
    return f"""
WITH tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({toks}) AS w FROM {docs})
  GROUP BY doc_id, w
),
nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {docs}),
dfrel AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id, tf.w,
         CAST(tf.tf * ({ln_m.format(x='nrel.n_docs')} - {ln_m.format(x='dfrel.df')}) AS BIGINT)
           AS score_micros
  FROM tf JOIN dfrel ON tf.w = dfrel.w CROSS JOIN nrel
)
SELECT doc_id, CAST(rank AS INT) AS rank, w, score_micros FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_micros DESC, w ASC
  ) AS rank FROM scored
) WHERE rank <= {k} ORDER BY doc_id, rank"""


def unigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, avg_nll_micros): each document's average
    unigram negative log-likelihood against the corpus unigram model —
    high values = surprising/outlier documents (the perplexity-filter
    signal), unordered."""
    tf = _tf(docs, text_col, id_col).persist()
    try:
        c_rel = tf.groupBy("w").agg(F.sum("tf").cast("bigint").alias("c"))
        t_rel = tf.agg(F.sum("tf").cast("bigint").alias("t_tot"))
        out = (
            tf.join(c_rel, "w")
            .crossJoin(F.broadcast(t_rel))
            .groupBy(id_col)
            .agg(
                F.sum("tf").cast("bigint").alias("n_tokens"),
                F.sum(
                    F.expr(
                        f"tf * ({_LN_M.format(x='t_tot')} - {_LN_M.format(x='c')})"
                    )
                )
                .cast("bigint")
                .alias("nll_sum"),
            )
            .select(
                id_col,
                "n_tokens",
                F.expr("nll_sum DIV n_tokens").cast("bigint").alias(
                    "avg_nll_micros"
                ),
            )
        )
        out = out.localCheckpoint(eager=True)
    finally:
        tf.unpersist()
    return out


def unigram_surprisal_sql_duck(
    docs: str = "documents", text_col: str = "text"
) -> str:
    toks = TOKENS_SQL_DUCK.format(t=text_col)
    ln_m = _LN_M
    return f"""
WITH tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({toks}) AS w FROM {docs})
  GROUP BY doc_id, w
),
crel AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY w),
trel AS (SELECT CAST(sum(tf) AS BIGINT) AS t_tot FROM tf)
SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       CAST(CAST(sum(tf.tf * ({ln_m.format(x='trel.t_tot')} - {ln_m.format(x='crel.c')})) AS BIGINT)
            // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS avg_nll_micros
FROM tf JOIN crel ON tf.w = crel.w CROSS JOIN trel
GROUP BY tf.doc_id ORDER BY tf.doc_id"""
