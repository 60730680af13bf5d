"""Connected components I3 (SURVEY.md §2.I) as iterative DataFrame joins
(no GraphFrames jar in this sandbox or guaranteed on a customer cluster).

Two paths, picked by the edge count: under `driver_max_edges` a driver
union-find labels the (small) alias graph in one collect; past it,
alternating large-star / small-star contraction runs distributed. Star
contraction converges in O(log n) rounds on ANY graph, including long
chains, where label propagation (hash-min) needs O(diameter). Its rounds
run through plans/iterate.fixpoint, which checkpoints every round (each
round reads the previous edge set several times), frees superseded
rounds, and raises if `max_iter` rounds do not reach the fixpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.plans.iterate import fixpoint, release


def _driver_union_find(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Small-graph path: collect the edge list, run union-find on the driver,
    broadcast the labels back. The alias graph is SPARSE relative to the
    corpus (pairs ∝ duplicated pages, ~0.1-10% of rows — 3.1k pairs at 36k
    docs, ~128k at 1.28M): under `driver_max_edges` a driver pass replaces
    O(log n) iterative join rounds (each full shuffles + a fixpoint-probe
    job) with ONE collect over an already-materialized relation. Same
    contract: component = min vertex id, every vertex labeled."""
    spark = edges.sparkSession
    id_type = dict(edges.dtypes)[src]
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges.select(src, dst).collect():
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the final label IS the component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    import pandas as pd

    # Arrow path: a pandas frame ships to the JVM as Arrow batches — the
    # list-of-tuples route pickles row-by-row and is the serial hot spot at
    # ~100k+ labels.
    ids = list(parent)
    pdf = pd.DataFrame({"id": ids, "component": [find(x) for x in ids]})
    return spark.createDataFrame(pdf, schema=f"id {id_type}, component {id_type}")


def _star_contraction(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond' — public algorithm):
    converges in O(log n) ROUNDS on ANY graph. Each round is two phases;
    each phase is one groupBy + one join over the (shrinking) edge set:

      large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
      small-star(u): connect every neighbor v ≤ u, and u itself, to m

    At the fixpoint the edge set is a star forest rooted at component
    minima; labels read off as (child -> root), roots/isolated map to self.
    Convergence detect: (count, folded-hash-sum) pair stable across a
    round — hashes folded into [0, 2^31) before the sum so ANSI mode
    cannot overflow below ~2^31 edges per partition aggregate."""
    e0 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def sym(df: DataFrame) -> DataFrame:
        return df.unionByName(
            df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def with_min(df: DataFrame) -> DataFrame:
        s = sym(df)
        mins = (
            s.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        return s.join(mins, "u")

    def signature(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**31))).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def contract(e: DataFrame) -> DataFrame:
        sm = with_min(e)
        large = sm.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        sm2 = with_min(large.filter(F.col("u") != F.col("v")).distinct())
        small = sm2.filter(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(sm2.select("u", F.col("m").alias("v")))
        return small.filter(F.col("u") != F.col("v")).distinct()

    sig = None

    def stable(_: DataFrame, e: DataFrame) -> bool:
        nonlocal sig
        prev, sig = sig, signature(e)
        return sig == prev

    def labels(e: DataFrame) -> DataFrame:
        vertices = (
            e0.select(F.col("u").alias("id"))
            .unionByName(e0.select(F.col("v").alias("id")))
            .distinct()
        )
        child_root = e.groupBy("u").agg(F.min("v").alias("root"))
        return vertices.join(
            child_root.withColumnRenamed("u", "id"), "id", "left"
        ).select("id", F.coalesce("root", F.col("id")).alias("component"))

    try:
        sig = signature(e0)
        return fixpoint(
            contract,
            e0,
            max_iter=max_iter,
            converged=stable,
            checkpoint_every=1,
            what="star contraction",
            finish=labels,
        )
    finally:
        release(e0)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(id, component) for every vertex appearing in `edges`;
    component = min vertex id in the component.

    Hybrid strategy: alias graphs are tiny relative to the corpus, so when
    the edge count is under `driver_max_edges` (~32 MB of id pairs) the
    labels come from a driver-side union-find — one collect job instead of
    O(log n) shuffle+probe rounds (measured 2.6-3.3 s -> ~0.4 s at 3.1k
    pairs on a fresh JVM). Past the cap — a corpus whose DUPLICATE set
    alone is tens of millions of pages — star contraction takes over
    (`driver_max_edges=0` forces it).

    Fixpoint guard (distributed path): if the edge set is STILL changing
    when `max_iter` rounds are exhausted the labels would be silently
    wrong, so it raises. Star contraction converges in O(log n) rounds, so
    hitting the guard means the input is far larger than `max_iter`
    accounts for — fail loudly, never return a wrong map.

    `driver_max_edges` defaults from the env (KG_CC_DRIVER_MAX_EDGES) so an
    end-to-end job can be forced onto the distributed path without
    threading parameters through every caller — how the x256 stress
    exercises it (BASELINE.md).
    """
    if driver_max_edges is None:
        driver_max_edges = int(os.environ.get("KG_CC_DRIVER_MAX_EDGES", 2_000_000))
    if driver_max_edges and edges.limit(driver_max_edges + 1).count() <= driver_max_edges:
        return _driver_union_find(edges, src, dst)
    return _star_contraction(edges, src, dst, max_iter)
