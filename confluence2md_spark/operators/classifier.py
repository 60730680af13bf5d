"""Distributed-trained Naive Bayes quality classifier.

The published curation stacks train a lightweight text classifier to
score documents for training-worthiness (GPT-3's LR quality filter over
WebText-vs-crawl, CCNet's fastText LM filter, FineWeb-Edu's classifier):
cheap rule-based signals label a seed set, a token-level model is trained
on those labels, and the model's score generalizes the rule. This module
is that pattern as pure DataFrame ops: multinomial Naive Bayes with
Laplace smoothing, trained AND applied distributed, with zero driver-side
model materialization.

Training is two aggregations: per-token class counts (one shuffle keyed
by token — the same tokenize pass everything else makes) and a 1-row
(N_pos, N_neg, V) stats relation. The "model" is a relation
(tok, lp_pos_micros, lp_neg_micros) of integer log-probability micros —
floor(1e6 * ln((c+1)/(N+V))) — produced by a crossJoin with the 1-row
stats (broadcast, trivially). Scoring broadcast-joins the model onto the
token stream and integer-sums per document: order-independent by
construction (the bm25 floor-micros-then-sum discipline), so the DuckDB
twin states every score bit-for-bit. ln parity between Spark
(StrictMath.log) and DuckDB (ln) on identical doubles is the same
contract bm25_topk has held green since round 3.

Scale shape: the model has |vocab| rows — broadcast here (and for any
real vocabulary up to ~10^7); past that, the scoring join degrades
gracefully to a hash join on `tok` by dropping the explicit broadcast
hint (parameter). Document text never shuffles: training shuffles
(tok, label-count) pairs, scoring shuffles (doc_id, partial integer sum).

Docs that contain NO in-vocabulary token (impossible when scoring the
training corpus, possible when scoring new data) score prior-only via the
left join + coalesce(0) — they are never silently dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import TOKENS_SQL_DUCK, tokens_col

# Contract-query label rule: the deterministic quality_stats score at its
# sf0.01 median — a balanced weak-label split (see __spark_entry__).
QUALITY_LABEL_THRESHOLD_MICROS = 211_000


def _lp_micros(c, n):
    # ONE fixed evaluation order, mirrored token-for-token in the twin:
    # floor(1e6 * ln((c + 1) / (N + V)))
    return F.floor(F.log((c + F.lit(1)) / n) * 1_000_000).cast("bigint")


def nb_quality_scores(
    docs: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Train multinomial NB on (doc_id, label in {0,1}) weak labels and
    score every document.

    Returns (doc_id, score_pos_micros, score_neg_micros, pred), unordered;
    scores are exact-integer sums of per-occurrence log-prob
    micros plus the class-prior micros; pred = 1 iff pos > neg (ties to
    the negative class, deterministically).
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    tl = tok.join(labels.select("doc_id", "label"), "doc_id")
    counts = tl.groupBy("tok").agg(
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_pos"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_neg"),
    )
    stats = counts.agg(
        F.sum("c_pos").cast("bigint").alias("n_pos_tok"),
        F.sum("c_neg").cast("bigint").alias("n_neg_tok"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    model = counts.crossJoin(F.broadcast(stats)).select(
        "tok",
        _lp_micros(F.col("c_pos"), F.col("n_pos_tok") + F.col("v")).alias(
            "lp_pos"
        ),
        _lp_micros(F.col("c_neg"), F.col("n_neg_tok") + F.col("v")).alias(
            "lp_neg"
        ),
    )
    priors = labels.agg(
        F.floor(
            F.log(F.sum(F.when(F.col("label") == 1, 1).otherwise(0)) / F.count(F.lit(1)))
            * 1_000_000
        )
        .cast("bigint")
        .alias("prior_pos"),
        F.floor(
            F.log(F.sum(F.when(F.col("label") == 0, 1).otherwise(0)) / F.count(F.lit(1)))
            * 1_000_000
        )
        .cast("bigint")
        .alias("prior_neg"),
    )
    model_side = F.broadcast(model) if broadcast_model else model
    sums = (
        tok.join(model_side, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("lp_pos").alias("s_pos"),
            F.sum("lp_neg").alias("s_neg"),
        )
    )
    base = labels.select("doc_id")
    return (
        base.join(sums, "doc_id", "left")
        .crossJoin(F.broadcast(priors))
        .select(
            "doc_id",
            (F.coalesce("s_pos", F.lit(0)) + F.col("prior_pos")).alias(
                "score_pos_micros"
            ),
            (F.coalesce("s_neg", F.lit(0)) + F.col("prior_neg")).alias(
                "score_neg_micros"
            ),
        )
        .withColumn(
            "pred",
            (F.col("score_pos_micros") > F.col("score_neg_micros")).cast(
                "bigint"
            ),
        )
    )


def nb_quality_calibration(
    docs: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bins: int = 10,
) -> DataFrame:
    """Calibration curve for the NB classifier: rank documents by score
    margin (pos - neg, ties by doc_id), cut the ranking into `n_bins`
    equal-width rank bins, and report per bin the predicted-positive rate
    next to the weak-label positive rate — the standard reliability
    diagnostic a curation stack runs before trusting a learned filter
    (FineWeb-Edu publishes exactly this curve for its classifier).

    Binning uses operators/ranking.py's distributed global rank — NOT a
    single-partition window — so the diagnostic itself survives corpus
    scale. bin = 1 + (rn-1)*n_bins DIV n is pure integer arithmetic and
    the rates are floor-micros, so every row is oracle-exact.

    Returns (bin, n_docs, n_label_pos, n_pred_pos, label_rate_micros,
    pred_rate_micros), unordered.
    """
    from .ranking import global_row_number

    scored = nb_quality_scores(
        docs, labels, text_col=text_col, id_col=id_col
    )
    j = scored.join(labels.select("doc_id", "label"), "doc_id").withColumn(
        "margin", F.col("score_pos_micros") - F.col("score_neg_micros")
    )
    ranked = global_row_number(j, ["margin", "doc_id"], rn_col="rn")
    n_rel = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_rel))
        .withColumn("bin", F.expr(f"1 + (rn - 1) * {n_bins} DIV n"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("label").cast("bigint").alias("n_label_pos"),
            F.sum("pred").cast("bigint").alias("n_pred_pos"),
        )
        .select(
            "bin",
            "n_docs",
            "n_label_pos",
            "n_pred_pos",
            F.expr("n_label_pos * 1000000 DIV n_docs").alias(
                "label_rate_micros"
            ),
            F.expr("n_pred_pos * 1000000 DIV n_docs").alias(
                "pred_rate_micros"
            ),
        )
    )


def nb_quality_calibration_sql_duck(
    docs_rel: str = "documents",
    labels_cte: str | None = None,
    n_bins: int = 10,
) -> str:
    """DuckDB twin: wraps the classifier twin as a subquery, re-joins the
    label rule, and applies the identical rank-bin integer arithmetic
    (row_number over (margin, doc_id) — tie-free because doc_id is)."""
    inner = nb_quality_sql_duck(docs_rel=docs_rel, labels_cte=labels_cte)
    return f"""
WITH scored AS ({inner}),
lab AS ({labels_cte}),
j AS (
  SELECT s.doc_id, s.pred, l.label,
         s.score_pos_micros - s.score_neg_micros AS margin
  FROM scored s JOIN lab l USING (doc_id)
),
r AS (
  SELECT *, row_number() OVER (ORDER BY margin, doc_id) AS rn,
         count(*) OVER () AS n
  FROM j
),
b AS (SELECT 1 + (rn - 1) * {n_bins} // n AS bin, label, pred FROM r)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(label) AS BIGINT) AS n_label_pos,
       CAST(sum(pred) AS BIGINT) AS n_pred_pos,
       CAST(sum(label) * 1000000 // count(*) AS BIGINT) AS label_rate_micros,
       CAST(sum(pred) * 1000000 // count(*) AS BIGINT) AS pred_rate_micros
FROM b GROUP BY bin ORDER BY bin"""


def nb_quality_sql_duck(
    docs_rel: str = "documents", labels_cte: str | None = None
) -> str:
    """DuckDB twin. `labels_cte` must be a SELECT yielding
    (doc_id, label); defaults to the quality-threshold rule used by the
    contract query (built by the caller to avoid an import cycle)."""
    assert labels_cte is not None, "caller supplies the label rule"
    toks = TOKENS_SQL_DUCK.format(t="text")
    return f"""
WITH labels AS ({labels_cte}),
tok AS (SELECT doc_id, unnest({toks}) AS tok FROM {docs_rel}),
tl AS (SELECT t.doc_id, t.tok, l.label FROM tok t JOIN labels l USING (doc_id)),
counts AS (
  SELECT tok,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
  FROM tl GROUP BY tok
),
stats AS (
  SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos_tok,
         CAST(sum(c_neg) AS BIGINT) AS n_neg_tok,
         CAST(count(*) AS BIGINT) AS v
  FROM counts
),
model AS (
  SELECT tok,
         CAST(floor(ln((c_pos + 1) / (n_pos_tok + v)) * 1000000) AS BIGINT) AS lp_pos,
         CAST(floor(ln((c_neg + 1) / (n_neg_tok + v)) * 1000000) AS BIGINT) AS lp_neg
  FROM counts, stats
),
priors AS (
  SELECT CAST(floor(ln(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) / count(*)) * 1000000) AS BIGINT) AS prior_pos,
         CAST(floor(ln(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) / count(*)) * 1000000) AS BIGINT) AS prior_neg
  FROM labels
),
sums AS (
  SELECT t.doc_id, sum(m.lp_pos) AS s_pos, sum(m.lp_neg) AS s_neg
  FROM tok t JOIN model m USING (tok) GROUP BY t.doc_id
)
SELECT l.doc_id,
       CAST(coalesce(s.s_pos, 0) + p.prior_pos AS BIGINT) AS score_pos_micros,
       CAST(coalesce(s.s_neg, 0) + p.prior_neg AS BIGINT) AS score_neg_micros,
       CAST(coalesce(s.s_pos, 0) + p.prior_pos
            > coalesce(s.s_neg, 0) + p.prior_neg AS BIGINT) AS pred
FROM labels l LEFT JOIN sums s USING (doc_id) CROSS JOIN priors p
ORDER BY l.doc_id"""
