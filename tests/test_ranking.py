"""Distributed global row numbering (operators/ranking.py) and the NB
calibration curve built on it (operators/classifier.py). The sf-corpus
oracle equality for nb_quality_calibration runs in test_entry_contract."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from confluence2md_spark.operators.ranking import global_row_number


def test_global_rank_equals_single_window(spark):
    rng = random.Random(11)
    rows = [(i, rng.randint(-50, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(7)
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, ["v", "id"], num_partitions=5).collect()
    }
    w = Window.orderBy("v", "id")  # the single-partition reference
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(w).cast("bigint")
        ).collect()
    }
    assert got == want


def test_global_rank_no_single_partition_stage(spark):
    """The ranked plan's window must be partitioned (by the range-part
    id), never an empty-partition-spec global window."""
    df = spark.createDataFrame([(i, i % 9) for i in range(200)], ["id", "v"])
    out = global_row_number(df, ["v", "id"], num_partitions=4)
    assert sorted(r["rn"] for r in out.collect()) == list(range(1, 201))
    # result is a checkpointed scan; the internal persist was released
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_global_rank_empty_input(spark):
    df = spark.createDataFrame([], "id bigint, v bigint")
    assert global_row_number(df, ["v", "id"]).count() == 0


def test_select_top_fraction_exact_cut(spark):
    """Keeps exactly floor(n * p) best rows under the stated order —
    checked against a driver-side sort at several fractions, including
    ones that don't divide n evenly."""
    from confluence2md_spark.operators.ranking import select_top_fraction

    rng = random.Random(3)
    rows = [(i, rng.randint(-1000, 1000)) for i in range(337)]
    df = spark.createDataFrame(rows, ["id", "score"]).repartition(5)
    by_best = sorted(rows, key=lambda r: (-r[1], r[0]))
    for keep_micros in (300_000, 500_000, 999_999, 1_000_000):
        sel = select_top_fraction(
            df.withColumn("neg", -F.col("score")), ["neg", "id"], keep_micros
        )
        got = sorted(r["id"] for r in sel.collect())
        n_keep = len([1 for k in range(1, 338) if k * 10**6 <= 337 * keep_micros])
        want = sorted(r[0] for r in by_best[:n_keep])
        assert got == want


def test_nb_calibration_bins_partition_corpus(spark, sf_dir):
    """Bins tile the ranking: sizes sum to N, every bin non-empty at 10
    bins over the sf0.001 corpus, rates are exact integer micros, and
    the predicted-positive rate is non-decreasing in margin rank (the
    classifier orders by margin, so upper bins must predict positive)."""
    from confluence2md_spark.operators.classifier import (
        QUALITY_LABEL_THRESHOLD_MICROS,
        nb_quality_calibration,
    )
    from confluence2md_spark.functions.textstats import quality_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labels = quality_stats(docs).select(
        "doc_id",
        (F.col("quality_score_micros") >= QUALITY_LABEL_THRESHOLD_MICROS)
        .cast("bigint")
        .alias("label"),
    )
    rows = sorted(nb_quality_calibration(docs, labels).collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["label_rate_micros"] == r["n_label_pos"] * 10**6 // r["n_docs"]
        assert r["pred_rate_micros"] == r["n_pred_pos"] * 10**6 // r["n_docs"]
    pred_rates = [r["pred_rate_micros"] for r in rows]
    assert pred_rates == sorted(pred_rates)
