"""Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003).

The MOSS local-fingerprinting algorithm: hash every word k-gram, slide a
window of w consecutive gram hashes over the document, and select the
LEFTMOST minimum hash of each window. The selected (position, hash) pairs
are the document's fingerprints. Guarantee (the paper's point): any
shared substring of at least k + w - 1 tokens between two documents
yields at least one shared fingerprint, while only ~2/(w+1) of grams are
retained — the sketch that powers plagiarism/overlap detection at corpus
scale. It complements the other dedup signals here: dupspans counts
duplicated windows, containment scores whole-doc embedding, winnowing
gives the position-anchored evidence ("WHICH span is shared").

Hash portability: gram hashes use the repo's engine-portable polynomial
hash (h*31 + ascii, mod 2^31 - 1 — `textstats.FINGERPRINT_SPARK/_DUCK`),
because winnowing SELECTION depends on hash VALUES (min comparisons), so
the DuckDB twin must compute identical hashes — xxhash64, used where only
hash EQUALITY matters (dupspans, dedup), does not exist in DuckDB. At
production scale the polynomial hash costs one pass over gram characters;
swapping in xxhash64 changes WHICH grams are selected but preserves every
winnowing guarantee (any consistent hash does), so the portable hash is a
contract choice, not an algorithmic constraint.

Leftmost-minimum tie rule, identically in both engines: Spark takes
min(struct(h, pos)) over the forward window (lexicographic struct order =
smallest hash, then smallest position); DuckDB takes list_min of the
window slice and list_position (first occurrence) for the position.

Scale shape: one posexplode of gram hashes (doc_id, pos, h), one per-doc
window pass (partitionBy doc_id — the same shuffle key the tokenize
aggs use), one distinct. No self-joins, no corpus-sized driver state;
selected-fingerprint volume is ~2/(w+1) of the gram stream by the
density guarantee. The overlap report pairs documents on shared
fingerprints through `banding.band_join`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import FINGERPRINT_DUCK, FINGERPRINT_SPARK
from .banding import band_join

K_GRAM = 3
W_WINDOW = 4


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = K_GRAM,
    w: int = W_WINDOW,
) -> DataFrame:
    """(doc_id, pos, fp): winnowing-selected fingerprints, unordered.
    `pos` is the 0-based gram index of the selected gram. Documents with
    fewer than k + w - 1 tokens (no full window) emit no rows — mirrored
    by the twin's range() bounds."""
    toks = F.split(F.col(text_col), " ")
    gram_str = (
        f"transform(sequence(1, size(split({text_col}, ' ')) - {k} + 1), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {k})))"
    )
    hash_of = FINGERPRINT_SPARK.format(t="g")
    grams_hashed = F.when(
        F.size(toks) >= k + w - 1,
        F.expr(f"transform({gram_str}, g -> {hash_of})"),
    ).otherwise(F.array().cast("array<bigint>"))
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(grams_hashed).alias("pos", "h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_win = Window.partitionBy("doc_id")
    return (
        g.withColumn("sel", F.min(F.struct("h", "pos")).over(win))
        .withColumn("n_grams", F.count(F.lit(1)).over(n_win))
        # only full windows select (window starts 0 .. n_grams - w)
        .filter(F.col("pos") <= F.col("n_grams") - w)
        .select(
            "doc_id",
            F.col("sel.pos").alias("pos"),
            F.col("sel.h").alias("fp"),
        )
        .distinct()
    )


def winnow_sql_duck(
    docs_rel: str = "documents", k: int = K_GRAM, w: int = W_WINDOW
) -> str:
    """DuckDB twin: per-doc list lambdas (fine at contract scale); the
    identical polynomial gram hash and the identical leftmost-min rule."""
    toks = "str_split(text, ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {k}, -1) + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' '))"
    )
    hash_of = FINGERPRINT_DUCK.format(t="g")
    return f"""
WITH base AS (
  SELECT doc_id, list_transform({grams}, g -> {hash_of}) AS hs,
         len({toks}) AS n_tok
  FROM {docs_rel}
),
sel AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(hs) - {w} + 2),
           j -> {{'pos': j - 1 + list_position(list_slice(hs, j, j + {w} - 1),
                                list_min(list_slice(hs, j, j + {w} - 1))) - 1,
                 'fp': list_min(list_slice(hs, j, j + {w} - 1))}})) AS s
  FROM base WHERE n_tok >= {k} + {w} - 1
)
SELECT DISTINCT doc_id, CAST(s.pos AS INT) AS pos, CAST(s.fp AS BIGINT) AS fp
FROM sel ORDER BY doc_id, pos"""


MIN_SHARED_FPS = 5


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = K_GRAM,
    w: int = W_WINDOW,
    min_shared: int = MIN_SHARED_FPS,
    max_df: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped): `pairs` is (src, dst, n_shared), unordered,
    document pairs sharing >= min_shared winnowed fingerprint hashes — the
    MOSS overlap report. Because fingerprints are ~2/(w+1) of grams, this
    is the sketch-sized version of the all-grams co-occurrence join
    (operators/containment.py): the same `banding.band_join` over a far
    smaller relation. Fingerprints with corpus df > max_df are left out of
    the self-join (the standard stopword-gram cut, mirrored in the twin)
    and returned as `dropped`, the lazy (fp, rows) relation."""
    fps = (
        winnow_fingerprints(docs, text_col, id_col, k, w)
        .select(F.col("doc_id").alias("id"), "fp")
        .distinct()
    )
    shared, dropped = band_join(fps, max_bucket=max_df)
    return shared.filter(F.col("n_shared") >= min_shared), dropped


def winnow_overlap_sql_duck(
    docs_rel: str = "documents",
    k: int = K_GRAM,
    w: int = W_WINDOW,
    min_shared: int = MIN_SHARED_FPS,
    max_df: int = 1000,
) -> str:
    return f"""
WITH wfp AS ({winnow_sql_duck(docs_rel, k, w)}),
fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
dfc AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_df}),
rare AS (SELECT doc_id, fp FROM fps JOIN dfc USING (fp))
SELECT a.doc_id AS src, b.doc_id AS dst, CAST(count(*) AS BIGINT) AS n_shared
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
ORDER BY src, dst"""
