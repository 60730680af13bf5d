"""Bigram-LM surprisal: per-document average negative log-likelihood
under an add-one-smoothed corpus bigram model.

`functions/tfidf.py`'s unigram surprisal scores documents by token
frequency alone; the CCNet/Gopher-style perplexity filters that motivate
it actually use *context* models (KenLM n-grams), which catch shuffled or
unnatural token ORDER that a unigram model cannot see. This is the
distributed bigram form — the smallest context model — kept inside the
repo's exact-integer contract discipline:

    p(w | v)      = (c(v,w) + 1) / (c(v,·) + V)        (add-one / Laplace)
    term(v,w)     = ln_m(c(v,·) + V) − ln_m(c(v,w) + 1)   (≥ 0 by c ≤ c·, 1 ≤ V)
    avg_nll2(d)   = Σ_bigram-occurrences term  DIV  n_bigrams(d)

with ln_m(x) = CAST(floor(1e6·ln(x)) AS BIGINT) — the same floor-ln-micros
device as BM25 / PMI / TF-IDF, so both engines state every row
bit-for-bit. c(v,·) is the context total (bigrams starting with v — NOT
the unigram count: doc-final occurrences have no continuation), and V the
corpus unigram vocabulary size, the standard Laplace denominator.

Overflow headroom: term ≤ ln_m(c(v,·)+V) ≈ 1e6·ln(10^13) < 3.1e7 at 100 TB,
so a document needs ~3·10^11 bigrams before its int64 sum matters.

Scale shape (100 TB): one explode→groupBy(doc, v, w) builds the per-doc
bigram tf relation (map-side combined); the model relations reduce from
it keyed on (v, w) and v; the joins back are keyed on the bigram — NOT
broadcast, a web-scale bigram vocabulary outgrows any driver — and V is
a broadcast 1-row aggregate. Document text never shuffles; (id, v, w,
count) rows do. Docs too short for a bigram surface with n_bigrams = 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.functions.textstats import TOKENS_SQL_DUCK, tokens_col

_LN_M = "CAST(floor(1000000 * ln({x})) AS BIGINT)"


def _bigram_tf(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = tokens_col(F.col(text_col))
    # sequence(1, size-1) would COUNT DOWN for single-token docs (Spark
    # auto-negates the step) — guard with an explicit empty array
    pairs = F.when(
        F.size(toks) >= 2,
        F.expr(
            f"transform(sequence(1, size({_TOKS_EXPR.format(t=text_col)}) - 1), "
            f"i -> struct(element_at({_TOKS_EXPR.format(t=text_col)}, i) AS v, "
            f"element_at({_TOKS_EXPR.format(t=text_col)}, i + 1) AS w))"
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<v: STRING, w: STRING>>)"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))
        .groupBy("doc_id", "v", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


_TOKS_EXPR = "split(trim(lower({t})), '\\\\s+')"


def bigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll2_micros) against the corpus add-one
    bigram model, unordered; every input document appears
    (n_bigrams = 0, avg 0 for docs shorter than two tokens)."""
    tf = _bigram_tf(docs, text_col, id_col).persist()
    try:
        cvw = tf.groupBy("v", "w").agg(F.sum("tf").cast("bigint").alias("c_vw"))
        cv = cvw.groupBy("v").agg(F.sum("c_vw").cast("bigint").alias("c_v"))
        vocab = (
            docs.select(F.explode(tokens_col(F.col(text_col))).alias("t"))
            .agg(F.countDistinct("t").cast("bigint").alias("vsz"))
        )
        per_doc = (
            tf.join(cvw, ["v", "w"])
            .join(cv, "v")
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc_id")
            .agg(
                F.sum("tf").cast("bigint").alias("n_bigrams"),
                F.sum(
                    F.expr(
                        f"tf * ({_LN_M.format(x='c_v + vsz')}"
                        f" - {_LN_M.format(x='c_vw + 1')})"
                    )
                )
                .cast("bigint")
                .alias("nll_sum"),
            )
        )
        out = (
            docs.select(F.col(id_col).alias("doc_id"))
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias(
                    "n_bigrams"
                ),
                F.coalesce(
                    F.expr("nll_sum DIV n_bigrams").cast("bigint"),
                    F.lit(0).cast("bigint"),
                ).alias("avg_nll2_micros"),
            )
        )
        out = out.localCheckpoint(eager=True)
    finally:
        tf.unpersist()
    return out


def bigram_surprisal_sql_duck(docs: str = "documents", text_col: str = "text") -> str:
    toks = TOKENS_SQL_DUCK.format(t=text_col)
    ln_m = _LN_M
    return f"""
WITH t AS (SELECT doc_id, {toks} AS ts FROM {docs}),
bi AS (
  SELECT doc_id, list_extract(ts, i) AS v, list_extract(ts, i + 1) AS w
  FROM t, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
),
tf AS (
  SELECT doc_id, v, w, CAST(count(*) AS BIGINT) AS tf
  FROM bi GROUP BY doc_id, v, w
),
cvw AS (SELECT v, w, CAST(sum(tf) AS BIGINT) AS c_vw FROM tf GROUP BY v, w),
cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v FROM cvw GROUP BY v),
vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
  FROM (SELECT unnest(ts) AS tok FROM t)
),
per_doc AS (
  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
         CAST(CAST(sum(tf.tf * ({ln_m.format(x='cv.c_v + vocab.vsz')}
                   - {ln_m.format(x='cvw.c_vw + 1')})) AS BIGINT)
              // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS avg_nll2_micros
  FROM tf JOIN cvw ON tf.v = cvw.v AND tf.w = cvw.w
          JOIN cv ON tf.v = cv.v
          CROSS JOIN vocab
  GROUP BY tf.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.avg_nll2_micros, 0) AS avg_nll2_micros
FROM {docs} d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id"""
