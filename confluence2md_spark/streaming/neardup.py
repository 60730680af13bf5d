"""Incremental MinHash/LSH near-dup candidate detection on a document
stream — the streaming member of the near-dup family (the batch members
live in operators/dedup.py + operators/linking.py and share every
constant with this one: same word-n-gram shingles, same permutation
seeds, same band keys, same mega-bucket discipline).

Shape: the stream computes the SAME word-n-gram shingles and MinHash
signature the batch path computes, as column expressions (pure JVM exprs
— they run unchanged on a streaming DataFrame), explodes to (band, key)
rows, and an applyInPandasWithState operator keyed on the
band bucket holds the bucket's members (doc_id + signature) in state.
Each arriving document is compared against the bucket's existing members
and emits (src, dst, est_jaccard_micros) candidate pairs immediately —
including CROSS-micro-batch pairs, which is the point of keeping state.

est_jaccard_micros = matching-signature-slots * 1e6 // k, the standard
MinHash estimate as an exact integer. The batch operator instead verifies
candidates with EXACT Jaccard over the shingle sets; a stream cannot
re-read an old document's shingles without unbounded text state, so the
estimate is the contract here and exact verification belongs to the
periodic batch compaction pass (the same lambda split streaming_exact_dedup
documents for its watermark residual).

State bound (the 100-TB consideration): each bucket's state is at most
`max_bucket_size` members x (1 + k) int64s packed into ONE binary blob —
~264 B per member at k=32, never document text. A bucket that reaches the
cap is FROZEN: later arrivals in that bucket emit nothing and are not
recorded. This mirrors the batch mega-bucket drop (a degenerate bucket
keyed by a ubiquitous shingle would otherwise make state and emission
quadratic); the divergence is that the batch drops such buckets
*retroactively* while a stream cannot retract pairs it already emitted —
below the cap the two emit identical candidate sets (pinned by test).

A pair sharing several bands is emitted once per band (bucket operators
are independent); consumers dedup on (src, dst) — kept OUT of this
operator because stacking a second stateful dropDuplicates behind
applyInPandasWithState is not a supported streaming-operator combination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.operators.banding import minhash_bands
from confluence2md_spark.operators.linking import (
    minhash_signature_col,
    shingle_hashes_col,
)

CANDIDATE_SCHEMA = "src long, dst long, est_jaccard_micros long"
_STATE_SCHEMA = "n int, blob binary"


def banded_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(id, band, key, sig) — the shared batch/stream banding relation
    (`band_join`'s input once `sig` is dropped, which would otherwise join
    the bucket): identical shingles, permutations and band keys to
    operators/linking.lsh_candidate_pairs, so a batch run over the union
    of all drops lands every doc in the same buckets the stream did."""
    assert k % bands == 0, "k must be divisible by bands"
    sig = minhash_signature_col(shingle_hashes_col(F.col(text_col)), k=k, seed=seed)
    return docs.select(F.col(id_col).alias("id"), sig.alias("sig")).select(
        "id", F.posexplode(minhash_bands(F.col("sig"), bands)).alias("band", "key"), "sig"
    )


def streaming_minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int = 200,
    min_est_micros: int = 0,
) -> DataFrame:
    """Streaming (src, dst, est_jaccard_micros) near-dup candidates,
    src < dst, emitted the micro-batch the LATER document of each pair
    arrives. Deterministic given the same drop partitioning: members are
    processed in doc-id order within each (bucket, batch)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    width = 1 + k  # [doc_id, sig_0..sig_{k-1}] per member, packed int64

    def _fold(key, pdf_iter, state: GroupState):
        if state.exists:
            n, blob = state.get
            members = np.frombuffer(blob, dtype=np.int64).reshape(n, width).copy()
        else:
            members = np.empty((0, width), dtype=np.int64)
        rows = [
            (int(i), np.asarray(s, dtype=np.int64))
            for pdf in pdf_iter
            for i, s in zip(pdf["id"], pdf["sig"])
        ]
        rows.sort(key=lambda t: t[0])
        out_src: list[int] = []
        out_dst: list[int] = []
        out_est: list[int] = []
        seen = set(members[:, 0].tolist())
        for doc_id, sig in rows:
            if doc_id in seen:
                continue  # duplicate delivery of the same doc id
            if members.shape[0] >= max_bucket_size:
                break  # frozen mega-bucket (see module docstring)
            if members.shape[0]:
                eq = (members[:, 1:] == sig[None, :]).sum(axis=1)
                est = eq * 1_000_000 // k
                for other, e in zip(members[:, 0], est):
                    if e >= min_est_micros:
                        a, b = int(other), doc_id
                        out_src.append(min(a, b))
                        out_dst.append(max(a, b))
                        out_est.append(int(e))
            members = np.vstack([members, np.concatenate(([doc_id], sig))])
            seen.add(doc_id)
        state.update((int(members.shape[0]), members.tobytes()))
        if out_src:
            yield pd.DataFrame(
                {"src": out_src, "dst": out_dst, "est_jaccard_micros": out_est}
            )

    banded = banded_signatures(
        docs, id_col=id_col, text_col=text_col, k=k, bands=bands, seed=seed
    )
    return banded.groupBy("band", "key").applyInPandasWithState(
        _fold,
        outputStructType=CANDIDATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
