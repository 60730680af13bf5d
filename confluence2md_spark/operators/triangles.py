"""Triangle counting over the constructed KG link graph.

Triangles (mutual-link clusters) are the standard cohesion signal on a page
graph: a page whose neighbors also link each other is a hub of one topic,
which downstream curation uses to weight or sample pages. The reference
stops at edge extraction; this is SURVEY §2's graph-analytics row next to
PageRank (operators/graph.py).

Algorithm: degree-ordered orientation (the MapReduce-era standard from
Suri & Vassilvitskii's "Counting Triangles and the Curse of the Last
Reducer", WWW'11 — public algorithm, reimplemented from the paper's idea):

  1. undirected simple graph: a<b canonical pairs, distinct, no loops
  2. orient every edge from the lower (degree, id) endpoint to the higher
  3. a triangle {a<b<c} (in that total order) now appears as exactly one
     wedge b<-a->c whose closing edge b->c is also oriented — so
     wedges ⋈ edges counts each triangle exactly once, no division

Why this survives 100 TB: after orientation, every out-degree is
O(sqrt(m)) (a node keeps only edges toward HIGHER-degree neighbors, and
there can be at most 2*sqrt(m) nodes of degree >= sqrt(m)), so the wedge
relation is bounded by m^{3/2} instead of sum(deg^2) — the curse-of-the-
last-reducer hub blowup never happens. All joins shuffle on node ids only;
nothing is collected to the driver; the oriented edge relation is held
once as a local checkpoint, reused for wedge-build and wedge-close, and
released before returning (contract-driver sessions are long-lived).

Everything is exact integer arithmetic, so a DuckDB oracle can state the
result bit-for-bit; the local clustering coefficient is reported in micros
(2 * tri * 1_000_000 DIV (d * (d-1))) to keep floats out, the same
discipline as pagerank_micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.operators.graphview import undirected
from confluence2md_spark.plans.iterate import release


def triangle_participation(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over the undirected view of `edges`.

    Returns (node, n_tri, degree, cc_micros) for every node in >= 1
    triangle, unordered. `degree` is the simple
    undirected degree; `cc_micros` is the local clustering coefficient
    floor(2e6 * n_tri / (degree * (degree - 1))) as BIGINT micros.
    """
    und = undirected(edges)

    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )

    # Orient from lower (degree, id) to higher; carry BOTH endpoint degrees
    # so the wedge join can order its two spokes without re-joining deg.
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = F.struct("da", "a") < F.struct("db", "b")
    e = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dt"),
    ).localCheckpoint(eager=False)

    try:
        e1 = e.select(F.col("s"), F.col("t").alias("y"), F.col("dt").alias("dy"))
        e2 = e.select(F.col("s"), F.col("t").alias("z"), F.col("dt").alias("dz"))
        wedges = e1.join(e2, "s").filter(
            F.struct("dy", "y") < F.struct("dz", "z")
        )
        closing = e.select(F.col("s").alias("y"), F.col("t").alias("z"))
        tri = wedges.join(closing, ["y", "z"]).select(
            F.col("s").alias("x"), "y", "z"
        )

        per_node = (
            tri.select(F.col("x").alias("node"))
            .unionAll(tri.select(F.col("y").alias("node")))
            .unionAll(tri.select(F.col("z").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_tri"))
        )
        out = (
            per_node.join(deg.select(F.col("n").alias("node"), "d"), "node")
            .select(
                "node",
                "n_tri",
                F.col("d").cast("bigint").alias("degree"),
                F.expr("2 * n_tri * 1000000 DIV (d * (d - 1))").alias(
                    "cc_micros"
                ),
            )
        )
        # Materialize before releasing e (out's plan reads e twice).
        return out.localCheckpoint(eager=True)
    finally:
        release(e)


def triangle_total(edges: DataFrame) -> int:
    """Global triangle count (each triangle once) — small helper for tests."""
    rows = triangle_participation(edges).agg(
        F.sum("n_tri").alias("s")
    ).collect()
    s = rows[0]["s"] or 0
    return int(s) // 3
