"""Streaming heavy hitters: SpaceSaving top-k with bounded state.

The one streaming primitive the family still lacked: "which keys are
trending RIGHT NOW" over an unbounded stream — hot repos in the ingest
feed, hot pages in an events stream, hot shingles during dedup — without
unbounded per-key state. Exact streaming counts (a running groupBy) keep
one counter per DISTINCT key forever; at 10^12-file scale that state IS
the dataset. The published answer is the SpaceSaving summary (Metwally,
Agrawal & El Abbadi 2005, "Efficient computation of frequent and top-k
elements in data streams"): m counters with guaranteed bounds —

    true_count <= count <= true_count + err,   err <= N/m,

and every key whose true frequency exceeds N/m is guaranteed tracked.

Distributed composition: keys are hash-partitioned into `n_buckets`
groups (`pmod(xxhash64(key), n_buckets)` — the same deterministic
bucketing discipline the LSH band join uses), and each bucket folds ONE
SpaceSaving summary of capacity `m` inside applyInPandasWithState. Key
spaces are disjoint, so each bucket's N in the bound is only ITS stream
share; the union of bucket summaries therefore keeps the global
guarantee with n_buckets·m total counters — constant state at any
stream length, and n_buckets is the shuffle parallelism knob.

Determinism discipline (the sessionize lesson): each micro-batch is
folded in (ts, key) sorted order and eviction ties break deterministically
(lowest count, then lexicographically LAST key evicted), so a given
sequence of micro-batches yields one reproducible summary; the pytest
contract pins the single-batch case against exact counts and the
multi-batch case against the published bounds, which hold for ANY batch
split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# drop-directory schema of (ts, page) events, the columns
# `streaming_heavy_hitters` reads by default
HH_EVENTS_DDL = "ts TIMESTAMP, page STRING"

HH_OUTPUT_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("version", LongType()),  # per-bucket snapshot number
        StructField("key", StringType()),
        StructField("count_max", LongType()),  # count (upper bound)
        StructField("count_min", LongType()),  # count - err (lower bound)
    ]
)

_HH_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
        StructField("version", LongType()),
    ]
)


def spacesaving_fold(summary: dict, items: list, m: int) -> dict:
    """Fold `items` (already in deterministic order) into a SpaceSaving
    summary {key: (count, err)} of capacity `m`. Pure function — shared by
    the streaming state fold and the tests' reference implementation."""
    for x in items:
        if x in summary:
            c, e = summary[x]
            summary[x] = (c + 1, e)
        elif len(summary) < m:
            summary[x] = (1, 0)
        else:
            # evict: lowest count; ties -> lexicographically LAST key, so
            # the survivor set is deterministic. Two-step (min count, then
            # max key among that count) — a single negated-tuple comparator
            # inverts prefix pairs ('ab' vs 'abc') and would evict the
            # lexicographically FIRST of them.
            min_count = min(c for c, _ in summary.values())
            victim = max(k for k, (c, _) in summary.items() if c == min_count)
            vc, _ = summary.pop(victim)
            summary[x] = (vc + 1, vc)
    return summary


def streaming_heavy_hitters(
    events: DataFrame,
    key_col: str = "page",
    ts_col: str = "ts",
    m: int = 32,
    n_buckets: int = 8,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Append-mode stream of VERSIONED per-bucket SpaceSaving snapshots.

    After each micro-batch a bucket emits its full summary stamped with a
    monotonically increasing `version`; a snapshot, once emitted, is never
    revised — honest append semantics, so the summary stream composes
    with any sink (the file-sink rule that rules out update mode). The
    consumer keeps max(version) per bucket, unions buckets, and sorts by
    count_max for the global top list. State: exactly n_buckets rows of
    <= m (key, count, err) triples plus one version counter.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _fold(key, pdf_iter, state: GroupState):
        import pandas as pd

        (bucket,) = key
        if state.exists:
            keys, counts, errs, version = state.get
            summary = {
                k: (c, e) for k, c, e in zip(keys, counts, errs)
            }
        else:
            summary, version = {}, 0
        rows = sorted(
            (t, k)
            for pdf in pdf_iter
            for t, k in zip(pdf[ts_col], pdf[key_col])
        )
        spacesaving_fold(summary, [k for _, k in rows], m)
        version += 1
        state.update(
            (
                list(summary.keys()),
                [c for c, _ in summary.values()],
                [e for _, e in summary.values()],
                version,
            )
        )
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(summary),
                "version": [version] * len(summary),
                "key": list(summary.keys()),
                "count_max": [c for c, _ in summary.values()],
                "count_min": [c - e for c, e in summary.values()],
            }
        )

    keyed = events.select(
        F.col(ts_col).alias(ts_col),
        F.col(key_col).cast("string").alias(key_col),
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets))
        .cast("bigint")
        .alias("bucket"),
    )
    return (
        keyed.withWatermark(ts_col, watermark_delay)
        .groupBy("bucket")
        .applyInPandasWithState(
            _fold,
            outputStructType=HH_OUTPUT_SCHEMA,
            stateStructType=_HH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
