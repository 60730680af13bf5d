"""Streaming MinHash/LSH near-dup candidates (streaming/neardup.py):
cross-batch stateful candidate emission equals the batch banding's
candidate set, and the frozen-mega-bucket cap bounds state."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from confluence2md_spark.operators.banding import band_join
from confluence2md_spark.streaming import drain
from confluence2md_spark.streaming.incremental import DOCS_DDL
from confluence2md_spark.streaming.neardup import (
    banded_signatures,
    streaming_minhash_candidates,
)


def _batch_candidate_pairs(docs):
    """All unordered id pairs sharing >= 1 band bucket — the batch
    reference for what the stream must emit when no bucket exceeds the
    cap."""
    pairs, _ = band_join(banded_signatures(docs).drop("sig"))
    return pairs


def test_streaming_minhash_matches_batch_candidates(spark, sf_dir, tmp_path):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # precondition for set-equality: no band bucket reaches the cap on
    # this corpus (otherwise batch and stream legitimately diverge)
    max_bucket = (
        banded_signatures(docs)
        .groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket < 200

    docs.filter("doc_id < 250").write.mode("overwrite").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_minhash_candidates, out, ckpt).awaitTermination(120)
    docs.filter("doc_id >= 250").write.mode("append").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_minhash_candidates, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out)
    stream_pairs = {
        (r["src"], r["dst"]) for r in got.select("src", "dst").distinct().collect()
    }
    batch_pairs = {
        (r["src"], r["dst"]) for r in _batch_candidate_pairs(docs).collect()
    }
    assert stream_pairs == batch_pairs
    assert batch_pairs  # non-vacuous: the sf corpus has near-dups
    # the stateful part is exercised only if some pair straddles the drops
    assert any(a < 250 <= b for a, b in batch_pairs)

    # exact duplicates exist in the corpus -> identical signatures ->
    # estimate saturates at exactly 1.0 in micros
    assert got.agg(F.max("est_jaccard_micros")).collect()[0][0] == 1_000_000
    # estimates are k-slot fractions: always in [0, 1e6]
    assert got.filter(
        (F.col("est_jaccard_micros") < 0) | (F.col("est_jaccard_micros") > 1_000_000)
    ).count() == 0


def test_streaming_minhash_frozen_bucket_caps_state(spark, tmp_path):
    """Three identical docs with max_bucket_size=2: the pair of the first
    two is emitted, the third arrival finds the bucket frozen and emits
    nothing — state (and emission) stays bounded on degenerate buckets."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text, "en", "synthetic", len(text)) for i in (1, 2, 3)]
    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(rows, ddl)
    df.filter("doc_id <= 2").write.mode("overwrite").parquet(src)
    frozen = partial(streaming_minhash_candidates, max_bucket_size=2)
    drain(spark, DOCS_DDL, src, frozen, out, ckpt).awaitTermination(120)
    # doc 3 arrives in a later batch: every one of its buckets is full
    df.filter("doc_id = 3").write.mode("append").parquet(src)
    drain(spark, DOCS_DDL, src, frozen, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out)
    pairs = {(r["src"], r["dst"]) for r in got.select("src", "dst").distinct().collect()}
    assert pairs == {(1, 2)}
    assert got.agg(F.min("est_jaccard_micros")).collect()[0][0] == 1_000_000


def test_streaming_minhash_skips_duplicate_delivery(spark, tmp_path):
    """Re-dropping an already-seen doc id re-delivers it to its buckets;
    the fold must not re-pair it with the bucket (no self/duplicate
    emission)."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    text = "one two three four five six seven eight nine ten"
    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(
        [(1, text, "en", "s", len(text)), (2, text, "en", "s", len(text))], ddl
    ).write.mode("overwrite").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_minhash_candidates, out, ckpt).awaitTermination(120)
    # re-drop doc 1 verbatim
    spark.createDataFrame([(1, text, "en", "s", len(text))], ddl).write.mode(
        "append"
    ).parquet(src)
    drain(spark, DOCS_DDL, src, streaming_minhash_candidates, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out).collect()
    assert {(r["src"], r["dst"]) for r in got} == {(1, 2)}
    # emitted once per SHARED BAND in the first drain, nothing afterwards:
    # 8 identical-signature bands -> 8 rows, all from batch 1
    assert len(got) == 8
