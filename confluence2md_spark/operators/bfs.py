"""Multi-source BFS: link distance from a trusted seed set.

Distance-from-seeds is a standing curation signal (quality-by-proximity
to curated seeds — the idea behind Common Crawl seed-biased crawls and
link-distance spam scoring): pages far from every trusted page are
down-weighted or dropped. Over the canonical KG link graph this is
multi-source BFS on the undirected simple graph.

Contract variant: a FIXED round count of synchronous Bellman-Ford
relaxations —

    dist_0(v)   = 0 if v ∈ seeds else NULL (unreached)
    dist_{k+1}(v) = min(dist_k(v), 1 + min over neighbors dist_k(u))

— pure integer mins, so any aggregation order gives the same result and
an unrolled-CTE DuckDB twin states every row. Nodes still unreached
after `iters` rounds report -1 (a fixed-depth contract answer, exact in
both engines; convergence needs diameter rounds and callers wanting a
fixpoint raise `iters`).

Scale shape: one (node-keyed) join + groupBy-min shuffle per round —
the connected-components/PageRank loop shape — with the reached set
only growing. The NULL-as-unreached encoding keeps the relation at
|V| rows every round (no frontier blow-up bookkeeping);
min-relaxation is idempotent so stragglers/retries cannot corrupt it.
The adjacency (operators/graphview) is held as a local checkpoint that
every round reads.

Unlike the PageRank/LPA loops, each relaxation references the previous
dist relation TWICE (once for the neighbor candidates, once to keep
the old minimum), so a lazy loop DOUBLES the logical plan per round —
2^iters subtree copies, and Catalyst analysis time, not execution,
dominated the whole query (measured ~2 min at iters=6 on a 461-node
graph; the same trap hits_micros documents for its per-half-step
normalization). The rounds therefore run through plans/iterate.fixpoint
with a checkpoint every round: one eager node-sized materialization per
round, the same per-round state HITS and star-contraction CC accept,
with superseded checkpoints released as soon as the next round lands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.operators.graphview import adjacency
from confluence2md_spark.plans.iterate import fixpoint, release


def seed_distance(
    edges: DataFrame, seeds: DataFrame, iters: int = 6
) -> DataFrame:
    """(page, dist) for every node of the undirected simple graph induced
    by `edges`; dist = BFS hops to the nearest row of `seeds` (a `page`
    column), -1 if unreached within `iters` rounds."""
    adj = adjacency(edges).localCheckpoint(eager=False)

    def step(dist: DataFrame) -> DataFrame:
        cand = (
            adj.join(
                dist.filter(F.col("d").isNotNull()).select(
                    F.col("page").alias("u"), F.col("d").alias("du")
                ),
                "u",
            )
            .groupBy("v")
            .agg((F.min("du") + 1).alias("cand"))
        )
        return dist.join(cand.withColumnRenamed("v", "page"), "page", "left").select(
            "page",
            F.expr(
                "CASE WHEN d IS NULL THEN cand "
                "WHEN cand IS NULL THEN d "
                "ELSE LEAST(d, cand) END"
            )
            .cast("bigint")
            .alias("d"),
        )

    try:
        nodes = adj.select(F.col("v").alias("page")).distinct()
        dist = nodes.join(
            seeds.select("page").distinct().withColumn("_s", F.lit(1)),
            "page",
            "left",
        ).select(
            "page",
            F.when(F.col("_s") == 1, F.lit(0)).cast("bigint").alias("d"),
        )
        return fixpoint(
            step,
            dist,
            max_iter=iters,
            checkpoint_every=1,
            what="seed distance",
            finish=lambda dist: dist.select(
                "page", F.coalesce("d", F.lit(-1)).cast("bigint").alias("dist")
            ),
        )
    finally:
        release(adj)


def seed_distance_sql_duck(
    edges_cte_body: str, seeds_predicate: str, iters: int = 6
) -> str:
    """DuckDB twin: `seeds_predicate` is a boolean expression over `page`
    evaluated on the node list (same rule both engines); rounds are
    unrolled one MATERIALIZED CTE each."""
    parts = [
        f"""und AS (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM ({edges_cte_body}) WHERE subj <> obj
)""",
        "adj AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und)",
        "nodes AS (SELECT DISTINCT v AS page FROM adj)",
        f"""d0 AS MATERIALIZED (
  SELECT page, CASE WHEN {seeds_predicate} THEN CAST(0 AS BIGINT) END AS d
  FROM nodes
)""",
    ]
    for i in range(iters):
        parts.append(
            f"""d{i + 1} AS MATERIALIZED (
  SELECT p.page,
         CAST(CASE WHEN p.d IS NULL THEN c.cand
              WHEN c.cand IS NULL THEN p.d
              ELSE LEAST(p.d, c.cand) END AS BIGINT) AS d
  FROM d{i} p LEFT JOIN (
    SELECT adj.v, min(q.d) + 1 AS cand
    FROM adj JOIN d{i} q ON adj.u = q.page
    WHERE q.d IS NOT NULL
    GROUP BY adj.v
  ) c ON p.page = c.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT page, CAST(coalesce(d, -1) AS BIGINT) AS dist
FROM d{iters} ORDER BY page"""
    )
