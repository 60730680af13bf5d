"""Streaming heavy hitters (streaming/heavyhitters.py): SpaceSaving fold
unit properties, single-batch determinism vs the pure-Python fold, and
the published count/coverage bounds across multi-batch drains."""

from __future__ import annotations

import datetime as dt
from collections import Counter
from functools import partial

from pyspark.sql import functions as F

from confluence2md_spark.streaming import drain
from confluence2md_spark.streaming.heavyhitters import (
    HH_EVENTS_DDL,
    spacesaving_fold,
    streaming_heavy_hitters,
)

M = 8
N_BUCKETS = 4


def _zipfish_stream(n):
    """Deterministic skewed key stream: key i appears ~n/(i+1) times,
    interleaved (round-robin by rank) so arrival order is adversarial."""
    out = []
    rank = 0
    while len(out) < n:
        for i in range(1, 40):
            reps = 1 if rank % (i) == 0 else 0
            if reps:
                out.append(f"k{i:02d}")
            if len(out) >= n:
                break
        rank += 1
    return out


def test_fold_exact_under_capacity():
    items = ["a", "b", "a", "c", "a", "b"]
    s = spacesaving_fold({}, items, m=8)
    assert s == {"a": (3, 0), "b": (2, 0), "c": (1, 0)}


def test_fold_bounds_over_capacity():
    items = _zipfish_stream(500)
    truth = Counter(items)
    s = spacesaving_fold({}, items, m=M)
    assert len(s) <= M
    thresh = len(items) / M
    for k, c in truth.items():
        if c > thresh:  # guaranteed tracked
            assert k in s, (k, c, thresh)
    for k, (cnt, err) in s.items():
        assert truth[k] <= cnt <= truth[k] + err
        assert err <= thresh


def test_fold_eviction_deterministic():
    items = _zipfish_stream(300)
    a = spacesaving_fold({}, list(items), m=M)
    b = spacesaving_fold({}, list(items), m=M)
    assert a == b


def _write_events(spark, path, keys, t0, mode="overwrite"):
    rows = [
        (t0 + dt.timedelta(seconds=i), k) for i, k in enumerate(keys)
    ]
    spark.createDataFrame(rows, "ts TIMESTAMP, page STRING").coalesce(
        1
    ).write.mode(mode).parquet(path)


def _current_summary(spark, out_dir):
    snap = spark.read.parquet(out_dir)
    latest = snap.groupBy("bucket").agg(F.max("version").alias("version"))
    return {
        r["key"]: (r["count_max"], r["count_min"])
        for r in snap.join(latest, ["bucket", "version"]).collect()
    }


def test_stream_matches_pure_fold_and_bounds(spark, tmp_path):
    src, out, ckpt = (
        str(tmp_path / "drop"),
        str(tmp_path / "hh"),
        str(tmp_path / "ckpt"),
    )
    t0 = dt.datetime(2026, 1, 1)
    keys = _zipfish_stream(600)
    _write_events(spark, src, keys, t0)
    hh = partial(streaming_heavy_hitters, m=M, n_buckets=N_BUCKETS)
    q = drain(spark, HH_EVENTS_DDL, src, hh, out, ckpt)
    q.awaitTermination(120)
    got = _current_summary(spark, out)

    # reference: bucket the keys the same way, fold in (ts, key) order
    bucket_of = {
        r["page"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in set(keys)], "page STRING")
        .select(
            "page",
            F.pmod(F.xxhash64("page"), F.lit(N_BUCKETS)).cast("bigint").alias("b"),
        )
        .collect()
    }
    want = {}
    for b in range(N_BUCKETS):
        # events are 1 s apart, so (ts, key) order == arrival order
        items = [k for k in keys if bucket_of[k] == b]
        want.update(
            {
                k: (c, c - e)
                for k, (c, e) in spacesaving_fold({}, items, m=M).items()
            }
        )
    assert got == want

    # second drain: more events append, bounds must still hold per bucket
    _write_events(
        spark, src, _zipfish_stream(400), t0 + dt.timedelta(hours=1), mode="append"
    )
    q2 = drain(spark, HH_EVENTS_DDL, src, hh, out, ckpt)
    q2.awaitTermination(120)
    got2 = _current_summary(spark, out)

    all_keys = keys + _zipfish_stream(400)
    truth = Counter(all_keys)
    n_per_bucket = Counter(bucket_of[k] for k in all_keys)
    for b in range(N_BUCKETS):
        thresh = n_per_bucket[b] / M
        for k, c in truth.items():
            if bucket_of[k] == b and c > thresh:
                assert k in got2, (k, c, thresh)
    for k, (cmax, cmin) in got2.items():
        assert cmin <= truth[k] <= cmax, (k, cmin, truth[k], cmax)
