"""Maximal cross-document duplicated-substring spans (ExactSubstr dedup).

`operators/dupspans.py` scores each document by how much of it is
corpus-duplicated (a per-doc fraction); this operator recovers the
SPANS themselves — the (doc_a, doc_b, a_start, b_start, length)
extents of every maximal duplicated token run — the primitive behind
suffix-array substring dedup in the published training-data stacks
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better": remove every duplicated substring of >= 50 tokens). A suffix
array is inherently sequential; the distributed-native equivalent used
here is positional n-gram anchoring + diagonal chaining:

  1. every n-token window becomes (doc, pos, gram);
  2. windows whose gram appears in 2..df_cap distinct docs survive
     (the df cap bounds the self-join fan-out — a corpus-stopword gram
     would otherwise pair quadratically; the cap is mirrored in the
     twin so both engines fragment identically);
  3. equi-join on gram across doc pairs (doc_a < doc_b) yields match
     points (pa, pb);
  4. points on one diagonal (pa - pb) with consecutive pa form an
     island (pa - row_number() is constant inside a run — the classic
     gaps-and-islands trick), and each island IS a maximal duplicated
     span: a duplicated run of L >= n tokens contributes exactly its
     L - n + 1 shared windows, all on one diagonal, consecutively.

Exact by construction (no sketching): for spans whose interior grams
survive the df cap, the recovered extent equals the true maximal
duplicated substring. Everything is integer positions and 64-bit gram
hashes — the DuckDB twin (grouping by the exact gram STRING, which
also pins hash-grouping collision-freedom at contract scale) states
every output row bit-for-bit.

Scale shape (100 TB): the exploded relation is (doc_id, pos, gram_h)
— 8-byte hash + two ints, never token strings. Shuffles: gram_h for
the df filter, gram_h again for the self-join (the df agg's
partitioning is reusable on one side), then (doc_a, doc_b, diag) for
the island window and its rollup — all skinny keys, and the df cap
caps every gram's join fan-out at df_cap·occurrences pairs. Diagonal
keys are fine-grained (a hot doc pair still splits across diagonals),
so no salting is needed where the pair-level ops would skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NGRAM_N = 4
MIN_SPAN_TOKENS = 8  # report spans of at least two chained windows
DF_CAP = 64  # grams in more docs than this are boilerplate, not spans


def duplicated_substring_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_N,
    min_len: int = MIN_SPAN_TOKENS,
    df_cap: int = DF_CAP,
) -> DataFrame:
    """(doc_a, doc_b, a_start, b_start, len_tokens), unordered, for every
    maximal duplicated token span of >= min_len tokens between two
    documents (doc_a < doc_b; starts are 1-based token positions)."""
    toks = F.split(F.col(text_col), " ")
    grams_expr = F.when(
        F.size(toks) >= n,
        F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - {n} + 1), "
            f"i -> xxhash64(concat_ws(' ', slice(split({text_col}, ' '), i, {n}))))"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(grams_expr).alias("pos0", "gram_h"),
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "gram_h"
    )
    kept_grams = (
        g.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= df_cap))
        .select("gram_h")
    )
    gk = g.join(kept_grams, "gram_h")
    m = (
        gk.alias("x")
        .join(
            gk.alias("y"),
            (F.col("x.gram_h") == F.col("y.gram_h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.pos").alias("pa"),
            F.col("y.pos").alias("pb"),
        )
        .distinct()  # two identical grams at the same (pa, pb) collapse
    )
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    isl = m.select(
        "doc_a",
        "doc_b",
        "pa",
        "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(w)).alias("island"),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.max("pa") - F.min("pa") + n).cast("bigint").alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
        .select("doc_a", "doc_b", "a_start", "b_start", "len_tokens")
    )


def duplicated_substring_spans_sql_duck(
    docs_rel: str = "documents",
    n: int = NGRAM_N,
    min_len: int = MIN_SPAN_TOKENS,
    df_cap: int = DF_CAP,
) -> str:
    """DuckDB twin over exact gram strings. Parallel unnest of two
    equal-length lists zips positions with grams; DuckDB list slicing is
    1-based inclusive and range(a, b) is empty when b <= a (short docs)."""
    return f"""
WITH base AS (SELECT doc_id, str_split(text, ' ') AS toks FROM {docs_rel}),
g AS (
  SELECT doc_id,
         CAST(unnest(range(1, len(toks) - {n} + 2)) AS BIGINT) AS pos,
         unnest(list_transform(range(1, len(toks) - {n} + 2),
                i -> list_aggregate(toks[i:i + {n} - 1], 'string_agg', ' ')))
           AS gram
  FROM base
),
kept AS (
  SELECT gram FROM g GROUP BY gram
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {df_cap}
),
gk AS (SELECT g.* FROM g JOIN kept USING (gram)),
m AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.pos AS pa, y.pos AS pb
  FROM gk x JOIN gk y ON x.gram = y.gram AND x.doc_id < y.doc_id
),
isl AS (
  SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
         pa - row_number() OVER (
           PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS island
  FROM m
)
SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
       CAST(max(pa) - min(pa) + {n} AS BIGINT) AS len_tokens
FROM isl GROUP BY doc_a, doc_b, diag, island
HAVING max(pa) - min(pa) + {n} >= {min_len}
ORDER BY doc_a, doc_b, a_start, b_start"""


# ------------------------------------------------------------- removal --
# The second half of the ExactSubstr recipe (Lee et al. 2022 §4.2: "remove
# every duplicated substring, keeping one occurrence"): the span finder
# above locates the extents; this pass deletes the doc_b-side copy of each
# span (doc_a < doc_b, so the lowest-id occurrence survives — the same
# keep-first rule as paragraph_dedup), merges overlapping removal
# intervals per document, and rebuilds the surviving token stream.
#
# Scale shape: intervals are (doc_id, start, end) triples — three ints —
# so the merge window and the per-doc rollup shuffle nothing wider than
# the span relation itself (which the finder already bounded via df_cap).
# Reconstruction joins the merged-interval lists back to the source
# relation keyed on doc_id and filters token positions with one array
# expression; document text crosses no exchange (output is length +
# sha256, the paradedup/PII device). Merged intervals per doc are
# disjoint, hence at most n_tokens/2 of them — the collect_list is
# bounded by the document's own length, never by the corpus.


def remove_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_N,
    min_len: int = MIN_SPAN_TOKENS,
    df_cap: int = DF_CAP,
) -> DataFrame:
    """Per-document summary after removing the doc_b-side copy of every
    maximal duplicated span: (doc_id, n_spans, n_tokens_removed, new_len,
    new_sha) over ALL input documents, unordered. new_sha pins
    the rebuilt text byte-for-byte (sha256 of '' for a fully-removed
    doc); tokenization is the span finder's plain space split."""
    spans = duplicated_substring_spans(
        docs, text_col, id_col, n=n, min_len=min_len, df_cap=df_cap
    )
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("len_tokens") - 1).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("s", "e")
    merged = (
        iv.withColumn("pme", F.max("e").over(w_prev))
        .withColumn(
            "grp",
            F.sum(
                F.when(
                    F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1
                ).otherwise(0)
            ).over(w_run),
        )
        .groupBy("doc_id", "grp")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("me") - F.col("ms") + 1).cast("bigint").alias("n_removed"),
        F.collect_list(F.struct("ms", "me")).alias("ivs"),
    )
    rebuilt = F.expr(
        f"concat_ws(' ', transform("
        f"  filter(sequence(1, CAST(size(split({text_col}, ' ')) AS BIGINT)),"
        f"         i -> ivs IS NULL OR NOT exists(ivs, v -> i >= v.ms AND i <= v.me)),"
        f"  i -> element_at(split({text_col}, ' '), CAST(i AS INT))))"
    )
    return (
        docs.join(
            per_doc.withColumnRenamed("doc_id", "_rm_doc_id"),
            F.col(id_col) == F.col("_rm_doc_id"),
            "left",
        )
        .select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).alias("n_spans"),
            F.coalesce(F.col("n_removed"), F.lit(0).cast("bigint")).alias(
                "n_tokens_removed"
            ),
            F.length(rebuilt).cast("bigint").alias("new_len"),
            F.sha2(rebuilt, 256).alias("new_sha"),
        )
    )


def remove_duplicated_spans_sql_duck(
    docs_rel: str = "documents",
    n: int = NGRAM_N,
    min_len: int = MIN_SPAN_TOKENS,
    df_cap: int = DF_CAP,
) -> str:
    """DuckDB twin: the exact-string span twin feeds the same interval
    merge (window running-max + island sum), and reconstruction keeps
    token positions via NOT EXISTS against the merged intervals — a
    row-algebra restatement that must agree with Spark's array-lambda
    rebuild bit-for-bit."""
    spans = duplicated_substring_spans_sql_duck(
        docs_rel, n=n, min_len=min_len, df_cap=df_cap
    )
    return f"""
WITH spans AS ({spans}),
iv AS (
  SELECT doc_b AS doc_id, b_start AS s, b_start + len_tokens - 1 AS e
  FROM spans
),
m1 AS (
  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS pme
  FROM iv
),
m2 AS (
  SELECT *, sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
  FROM m1
),
mg AS (SELECT doc_id, min(s) AS ms, max(e) AS me FROM m2 GROUP BY doc_id, grp),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(me - ms + 1) AS BIGINT) AS n_removed
  FROM mg GROUP BY doc_id
),
toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM {docs_rel}),
pos AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, list_extract(ts, u.i) AS tok
  FROM toks, UNNEST(generate_series(1, len(ts))) AS u(i)
),
kept AS (
  SELECT p.doc_id, p.i, p.tok FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM mg
                    WHERE mg.doc_id = p.doc_id AND p.i BETWEEN mg.ms AND mg.me)
),
reb AS (
  SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY i), '') AS nt
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(per.n_spans, 0) AS n_spans,
       coalesce(per.n_removed, 0) AS n_tokens_removed,
       CAST(length(coalesce(reb.nt, '')) AS BIGINT) AS new_len,
       lower(sha256(coalesce(reb.nt, ''))) AS new_sha
FROM {docs_rel} d
LEFT JOIN per ON d.doc_id = per.doc_id
LEFT JOIN reb ON d.doc_id = reb.doc_id
ORDER BY d.doc_id"""
