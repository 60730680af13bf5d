"""Training-data curation operators beyond dedup (driver mandate: "the
operations a large-scale training-data pipeline would need"):

* **Benchmark decontamination** — flag documents sharing word n-grams with
  an evaluation/benchmark set (the standard leakage guard before training).
  The benchmark side is small by definition → its distinct gram hashes are
  BROADCAST and joined map-side against the exploded document grams; the
  document text itself is never shuffled, only (doc_id, gram_hash) pairs,
  and the per-doc counts use partial aggregation. At 100 TB this is one
  scan + broadcast-hash-join + partial agg — no all-pairs term anywhere.
* **Deterministic stratified sampling** — per-stratum (language) keep-rates
  applied via a portable hash threshold: 3 bytes of sha256(doc_id:salt)
  form a uniform 24-bit key, kept iff key·1e6 < rate_micros·2^24 (exact
  integer compare, no floats). Pure narrow filter on the scan — zero
  shuffles, reproducible across engines/runs, and the same doc keeps its
  fate when the corpus grows (hash depends only on doc_id+salt).
* **Concat-and-chunk packing** — the standard "concatenate docs, cut the
  token stream at context_len boundaries" step before training. Needs a
  corpus-wide running token offset = a distributed prefix sum. A naive
  `Window.partitionBy(lang)` puts each language's whole stream in ONE task
  (dies at 100 TB), so this module implements the classic two-pass scan:
  range-partition by (lang, doc_id), per-partition partial sums (tiny:
  n_partitions × n_langs rows) are collected and turned into exclusive
  per-(partition, lang) offsets on the driver, then one mapInPandas pass
  adds offset + local running sum. Work per task is O(rows in task); the
  only global structure is the broadcast offset table.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.textstats import TOKENS_SQL_DUCK, tokens_col
from .linking import shingle_hashes_col

# ------------------------------------------------------- decontamination ---


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """(doc_id, n_grams, n_hit_grams, contaminated) — per-document count of
    DISTINCT word n-grams that also appear anywhere in the benchmark set.

    Gram identity is the xxhash64 of the n-token hash slice
    (`linking.shingle_hashes_col`, the shingles of the n-gram Jaccard and
    MinHash paths — grams are never materialized as strings).
    The benchmark gram set is broadcast; Spark's join then stays map-side.
    """
    bench_grams = (
        bench.select(F.explode(shingle_hashes_col(F.col(bench_text_col), n)).alias("g"))
        .distinct()
    )
    doc_grams = docs.select(
        "doc_id",
        F.explode_outer(shingle_hashes_col(F.col(text_col), n)).alias("g"),
    )
    hit = F.when(F.col("bg.g").isNotNull(), 1).otherwise(0)
    return (
        doc_grams.alias("dg")
        .join(F.broadcast(bench_grams.alias("bg")), on="g", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("dg.g")).alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_hit_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit_grams",
            (F.col("n_hit_grams") >= min_hits).cast("int").alias("contaminated"),
        )
    )


def decontaminate_sql_duck(
    docs: str = "documents",
    bench_sql: str = "SELECT text FROM documents WHERE doc_id % 37 = 0",
    n: int = 5,
    min_hits: int = 1,
) -> str:
    toks = TOKENS_SQL_DUCK.format(t="text")
    grams = (
        f"list_distinct(list_transform(range(0, greatest(len({toks}) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')))"
    )
    return f"""WITH bg AS (
  SELECT DISTINCT unnest({grams}) AS g FROM ({bench_sql})
), dg AS (
  SELECT doc_id, {grams} AS grams FROM {docs}
), e AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g FROM dg
)
SELECT e.doc_id,
       CAST(any_value(e.n_grams) AS BIGINT) AS n_grams,
       CAST(count(bg.g) AS BIGINT) AS n_hit_grams,
       CAST(count(bg.g) >= {min_hits} AS INT) AS contaminated
FROM e LEFT JOIN bg ON e.g = bg.g
GROUP BY e.doc_id"""


# --------------------------------------------------- stratified sampling ---


def _sample_key(doc_id_col, salt: str):
    """Uniform 24-bit key from sha256(doc_id || ':' || salt) — the first
    three digest bytes, portable to any engine with sha256 + substr."""
    hexd = F.sha2(F.concat(doc_id_col.cast("string"), F.lit(":" + salt)), 256)
    return F.conv(F.substring(hexd, 1, 6), 16, 10).cast("bigint")


def sample_key_sql_duck(salt: str, id_expr: str = "doc_id") -> str:
    """DuckDB expression for the same 24-bit sample key as `_sample_key`
    (first three sha256 digest bytes, decoded nibble-by-nibble — DuckDB has
    no conv())."""
    hexd = f"lower(sha256(CAST({id_expr} AS VARCHAR) || ':{salt}'))"
    nib = "CAST(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1 AS BIGINT)"
    return "(" + " + ".join(
        f"({nib.format(h=hexd, i=i + 1)}) * {16 ** (5 - i)}" for i in range(6)
    ) + ")"


def stratified_sample(
    docs: DataFrame,
    rates_micros: dict[str, int],
    default_micros: int = 0,
    strata_col: str = "lang",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff its 24-bit hash key
    falls under the stratum's rate (rate_micros per million). Narrow filter
    on the scan — no shuffle, no RNG state, byte-reproducible."""
    rate = None
    for lang, m in sorted(rates_micros.items()):
        cond = F.col(strata_col) == lang
        rate = F.when(cond, m) if rate is None else rate.when(cond, m)
    rate = (rate.otherwise(default_micros) if rate is not None
            else F.lit(default_micros)).cast("bigint")
    key = _sample_key(F.col("doc_id"), salt)
    # keep iff key/2^24 < rate/1e6  ==  key * 1e6 < rate * 2^24 (exact ints)
    return docs.filter(key * 1_000_000 < rate * (1 << 24)).select(
        "doc_id", strata_col
    )


def stratified_sample_sql_duck(
    rates_micros: dict[str, int],
    default_micros: int = 0,
    docs: str = "documents",
    strata_col: str = "lang",
    salt: str = "v1",
) -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {m}" for lang, m in sorted(rates_micros.items())
    )
    hexd = f"lower(sha256(CAST(doc_id AS VARCHAR) || ':{salt}'))"
    nib = (
        "CAST(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1 AS BIGINT)"
    )
    key = " + ".join(
        f"({nib.format(h=hexd, i=i + 1)}) * {16 ** (5 - i)}" for i in range(6)
    )
    return f"""SELECT doc_id, {strata_col} FROM {docs}
WHERE ({key}) * 1000000
    < CAST(CASE {strata_col} {cases} ELSE {default_micros} END AS BIGINT)
      * CAST({1 << 24} AS BIGINT)"""


# ------------------------------------------------ concat-and-chunk packing ---


def distributed_token_offsets(
    docs: DataFrame,
    text_col: str = "text",
    stream_col: str = "lang",
    order_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, stream, n_tokens, start_offset) where start_offset is the
    exclusive running token total within the stream ordered by order_col —
    a distributed prefix sum (two-pass scan; see module docstring). Unlike
    `Window.partitionBy(stream)`, a single stream spans MANY partitions."""
    spark = docs.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    base = (
        docs.select(
            F.col(order_col).alias("ord"),
            F.col(stream_col).alias("stream"),
            F.size(tokens_col(F.col(text_col))).cast("bigint").alias("n_tokens"),
        )
        .repartitionByRange(p, "stream", "ord")
        .sortWithinPartitions("stream", "ord")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # pass 1: per-(physical partition, stream) token sums — tiny relation
        part_sums = (
            base.select(F.spark_partition_id().alias("pid"), "stream", "n_tokens")
            .groupBy("pid", "stream")
            .agg(F.sum("n_tokens").alias("s"))
            .collect()
        )
        offsets: dict[tuple[int, str], int] = {}
        running: dict[str, int] = {}
        for r in sorted(part_sums, key=lambda r: (r["stream"], r["pid"])):
            offsets[(r["pid"], r["stream"])] = running.get(r["stream"], 0)
            running[r["stream"]] = running.get(r["stream"], 0) + r["s"]
        off_bc = spark.sparkContext.broadcast(offsets)

        # pass 2: local exclusive cumsum + broadcast offset. Rows arrive
        # sorted by (stream, ord) within the partition; the iterator walks
        # one partition's batches in order, so running state carries across
        # Arrow batches.
        def _scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            local: dict[str, int] = {}
            for pdf in it:
                starts = []
                for stream, n in zip(pdf["stream"], pdf["n_tokens"]):
                    cur = local.get(stream, off_bc.value.get((pid, stream), 0))
                    starts.append(cur)
                    local[stream] = cur + int(n)
                out = pdf.copy()
                out["start_offset"] = pd.Series(starts, dtype="int64")
                yield out

        result = base.mapInPandas(
            _scan,
            schema="ord long, stream string, n_tokens long, start_offset long",
        ).select(
            F.col("ord").alias(order_col),
            F.col("stream").alias(stream_col),
            "n_tokens",
            "start_offset",
        )
        # materialize before unpersisting the two-pass base
        result = result.localCheckpoint(eager=True)
    finally:
        base.unpersist()
    return result


def pack_chunks(
    docs: DataFrame,
    context_len: int = 512,
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """(doc_id, lang, n_tokens, start_offset, first_chunk, last_chunk,
    n_chunks_spanned) for concat-and-chunk packing at `context_len` tokens:
    each stream's docs are concatenated in doc_id order and the token
    stream is cut every context_len tokens."""
    off = distributed_token_offsets(docs, text_col=text_col, stream_col=stream_col)
    c = F.lit(context_len).cast("bigint")
    first = (F.col("start_offset") / c).cast("bigint")
    last = (
        (F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / c
    ).cast("bigint")
    return off.select(
        "doc_id",
        stream_col,
        "n_tokens",
        "start_offset",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint"))
        .otherwise(last - first + 1)
        .alias("n_chunks_spanned"),
    )


def pack_chunks_sql_duck(
    context_len: int = 512, docs: str = "documents", stream_col: str = "lang"
) -> str:
    toks = TOKENS_SQL_DUCK.format(t="text")
    return f"""WITH t AS (
  SELECT doc_id, {stream_col}, CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM {docs}
), o AS (
  SELECT doc_id, {stream_col}, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY {stream_col} ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM t
)
SELECT doc_id, {stream_col}, n_tokens, start_offset,
       start_offset // {context_len} AS first_chunk,
       (start_offset + greatest(n_tokens, 1) - 1) // {context_len} AS last_chunk,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE (start_offset + greatest(n_tokens, 1) - 1) // {context_len}
                 - start_offset // {context_len} + 1 END AS n_chunks_spanned
FROM o"""
