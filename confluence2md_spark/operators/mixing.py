"""Temperature-sampled data-mixture weights (the multilingual /
multi-domain sampling step of a training-data pipeline).

Given per-domain token counts c_i, every published multilingual training
stack (mBERT/XLM-R's exponent-smoothed sampling, the Pile's per-set
epochs, LLaMA's per-source sampling proportions) computes mixture
weights w_i ∝ c_i^(1/T) with a temperature T > 1 so low-resource domains
are upsampled relative to their raw share. T = 2 (α = 0.5, i.e. sqrt
scaling) is the common default and has an EXACT integer form: isqrt(c_i)
— so the whole operator stays in the repo's exact-integer contract
discipline with no floor-ln-micros needed.

isqrt parity device: both engines compute s0 = floor(sqrt(CAST(c AS
DOUBLE))) — which can be off by one near perfect squares once c exceeds
the double mantissa — then Newton-correct with integer comparisons only:

    s = s0 + 1   if (s0+1)^2 <= c
        s0 - 1   if s0^2 > c
        s0       otherwise

After correction s = isqrt(c) exactly for any BIGINT c (the initial
estimate is always within ±1 for c < 2^63), so weights are bit-identical
under any partitioning and the DuckDB twin states them exactly.

Outputs per domain: raw share, sqrt-temperature weight (micros), and the
domain's token budget under a caller-given total budget — the numbers a
sampler consumes directly.

Scale shape (100 TB): ONE map-side-combined groupBy keyed on the domain
value (a handful of groups), one 1-row total aggregated and broadcast
back via cross join — no driver collect, no window over all domains.
Document text never leaves the scan; only (domain, token-count) rows
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.functions.textstats import TOKENS_SQL_DUCK, tokens_col

_ISQRT = (
    "CASE WHEN (s0 + 1) * (s0 + 1) <= {c} THEN s0 + 1 "
    "WHEN s0 * s0 > {c} THEN s0 - 1 ELSE s0 END"
)


def _isqrt_col(c: str) -> F.Column:
    """Exact integer sqrt of a BIGINT column (see module docstring)."""
    s0 = f"CAST(floor(sqrt(CAST({c} AS DOUBLE))) AS BIGINT)"
    return F.expr(
        f"CASE WHEN (({s0}) + 1) * (({s0}) + 1) <= {c} THEN ({s0}) + 1 "
        f"WHEN ({s0}) * ({s0}) > {c} THEN ({s0}) - 1 ELSE ({s0}) END"
    )


def mixture_weights(
    docs: DataFrame,
    domain_col: str = "lang",
    text_col: str = "text",
    budget_tokens: int = 1_000_000,
) -> DataFrame:
    """Per-domain sqrt-temperature mixture weights and token budgets.

    Returns (domain, n_docs, n_tokens, share_micros, weight_micros,
    budget_tokens), unordered. share_micros is the raw token
    share; weight_micros the T=2 temperature-sampled share; both floor
    micros of exact integer ratios, so Σ weight_micros ≤ 1e6 with the
    deficit < n_domains (flooring, never rounding — the twin states it).
    """
    per = (
        docs.select(
            F.col(domain_col).alias("domain"),
            F.size(tokens_col(F.col(text_col))).cast("bigint").alias("n_tok"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .withColumn("sqrt_tokens", _isqrt_col("n_tokens"))
    )
    totals = per.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.sum("sqrt_tokens").alias("tot_sqrt"),
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            # DECIMAL(38,0) before the ×1e6: per-domain token counts pass
            # int64×1e6 overflow at ~9.2e12 tokens — a single domain of a
            # 100 TB corpus reaches that (the stats_extendedprice lesson,
            # ADVICE r3 #1). DIV on decimals is still exact integer math.
            F.expr(
                "CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV tot_tokens AS BIGINT)"
            ).alias("share_micros"),
            F.expr(
                "CAST(CAST(sqrt_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV tot_sqrt AS BIGINT)"
            ).alias("weight_micros"),
            F.expr(
                f"CAST(CAST(sqrt_tokens AS DECIMAL(38,0)) * {budget_tokens}"
                " DIV tot_sqrt AS BIGINT)"
            ).alias("budget_tokens"),
        )
    )


def mixture_weights_sql_duck(
    docs_rel: str = "documents",
    domain_col: str = "lang",
    budget_tokens: int = 1_000_000,
) -> str:
    """DuckDB twin (identical isqrt correction; BIGINT casts pin the
    HUGEINT sum divergence)."""
    toks = TOKENS_SQL_DUCK.format(t="text")
    isqrt = _ISQRT.format(c="n_tokens")
    return f"""
WITH per0 AS (
  SELECT {domain_col} AS domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM {docs_rel} GROUP BY 1
),
per AS (
  SELECT *, ({isqrt}) AS sqrt_tokens
  FROM (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
        FROM per0)
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(sum(sqrt_tokens) AS BIGINT) AS tot_sqrt
  FROM per
)
SELECT domain, n_docs, n_tokens,
       CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot_tokens AS BIGINT)
         AS share_micros,
       CAST(CAST(sqrt_tokens AS HUGEINT) * 1000000 // tot_sqrt AS BIGINT)
         AS weight_micros,
       CAST(CAST(sqrt_tokens AS HUGEINT) * {budget_tokens} // tot_sqrt AS BIGINT)
         AS budget_tokens
FROM per, tot ORDER BY domain"""


# -------------------------------------------------------- budget sampler --


def mixture_sample(
    docs: DataFrame,
    budget_tokens: int = 1_000_000,
    domain_col: str = "lang",
    text_col: str = "text",
    salt: str = "v1",
) -> DataFrame:
    """APPLY the temperature weights: deterministically sample each domain
    at the rate that hits its `mixture_weights` token budget in
    expectation — rate_i = min(1, budget_i / tokens_i) — using the same
    portable sha256 24-bit key as `curation.stratified_sample` (so the
    kept set is byte-reproducible, monotone in budget, and engine-exact).
    Returns the kept (doc_id, domain) rows, unordered.

    Scale shape: mixture_weights' one domain groupBy produces a
    domains-sized rate relation that re-enters as a broadcast join onto
    the scan; the keep decision is a narrow integer filter — no RNG
    state, no shuffle of the corpus.
    """
    rates = (
        mixture_weights(docs, domain_col, text_col, budget_tokens)
        .select(
            "domain",
            F.expr(
                "CAST(least(CAST(1000000 AS DECIMAL(38,0)), "
                "CAST(budget_tokens AS DECIMAL(38,0)) * 1000000 DIV n_tokens)"
                " AS BIGINT)"
            ).alias("rate_micros"),
        )
    )
    from confluence2md_spark.operators.curation import _sample_key

    key = _sample_key(F.col("doc_id"), salt)
    return (
        docs.join(
            F.broadcast(rates), F.col(domain_col) == F.col("domain")
        )
        .filter(key * 1_000_000 < F.col("rate_micros") * (1 << 24))
        .select("doc_id", F.col(domain_col).alias("domain"))
    )


def mixture_sample_sql_duck(
    docs_rel: str = "documents",
    budget_tokens: int = 1_000_000,
    domain_col: str = "lang",
    salt: str = "v1",
) -> str:
    from confluence2md_spark.operators.curation import sample_key_sql_duck

    w = mixture_weights_sql_duck(docs_rel, domain_col, budget_tokens)
    key = sample_key_sql_duck(salt, id_expr="d.doc_id")
    return f"""
WITH w AS ({w}),
rates AS (
  SELECT domain,
         CAST(least(CAST(1000000 AS HUGEINT),
                    CAST(budget_tokens AS HUGEINT) * 1000000 // n_tokens)
              AS BIGINT) AS rate_micros
  FROM w
)
SELECT d.doc_id, d.{domain_col} AS domain
FROM {docs_rel} d JOIN rates ON d.{domain_col} = rates.domain
WHERE {key} * 1000000 < rate_micros * CAST({1 << 24} AS BIGINT)
ORDER BY d.doc_id"""
