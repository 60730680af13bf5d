"""Per-community rollup of the constructed KG — the composition query a
KG consumer runs right after community detection: for every LPA community,
how many pages, how much total PageRank mass, and which page leads it.

This is deliberately a COMPOSITION of two already-verified operators
(operators/communities.label_propagation × operators/graph.pagerank_micros)
rather than new algorithmic surface: the value it evidences is that the
exact-integer contracts compose — the DuckDB twin is the join of the two
unrolled-CTE twins and the result stays hash-exact, floats never entering
at any layer.

Scale shape: both inputs are node-keyed relations (the LPA assignment and
the full rank table); the rollup is one inner join on the node id plus one
community-keyed aggregate with map-side combine. min_by(page,
struct(-rank_micros, page)) picks the leader inside the aggregate — no
window over the full node set. Overflow headroom: rank mass per community
is bounded by total rank mass <= n_nodes * ~1e6 micros, under int64 to
~9e12 nodes.

Reference parity note: the reference CLI (aqueeb/confluence2md) stops at
triple emission; this is downstream KG analytics the mandate adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.operators.communities import (
    label_propagation,
    label_propagation_sql_duck,
)
from confluence2md_spark.operators.graph import pagerank_micros, pagerank_sql_duck


def community_pagerank_rollup(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters_lpa: int = 4,
    iters_pr: int = 5,
) -> DataFrame:
    """(community, n_pages, rank_mass_micros, top_page, top_rank_micros)
    per LPA community, unordered.

    The community assignment covers the de-looped undirected node set
    (LPA's contract); the inner join therefore scopes the rollup to those
    nodes — a self-loop-only page has no community and is excluded, in
    both engines."""
    comm = label_propagation(edges, src=src, dst=dst, iters=iters_lpa)
    ranks = pagerank_micros(edges, src=src, dst=dst, iters=iters_pr, topk=None)
    j = comm.join(ranks, "page")
    return (
        j.groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.sum("rank_micros").cast("bigint").alias("rank_mass_micros"),
            F.expr("min_by(page, struct(-rank_micros, page))").alias("top_page"),
            F.max("rank_micros").cast("bigint").alias("top_rank_micros"),
        )
    )


def community_rollup_sql_duck(
    edges_cte_body: str, iters_lpa: int = 4, iters_pr: int = 5
) -> str:
    """DuckDB twin: the LPA twin joined to the full-rank PageRank twin,
    with row_number() over (rank desc, page asc) standing in for Spark's
    min_by over struct(-rank, page) — the same total order."""
    lpa = label_propagation_sql_duck(edges_cte_body, iters=iters_lpa)
    pr = pagerank_sql_duck(edges_cte_body, iters=iters_pr, topk=None)
    return f"""
WITH comm AS ({lpa}),
ranks AS ({pr}),
j AS (
  SELECT c.community, c.page, r.rank_micros
  FROM comm c JOIN ranks r USING (page)
),
agg AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_pages,
         CAST(sum(rank_micros) AS BIGINT) AS rank_mass_micros
  FROM j GROUP BY community
),
sel AS (
  SELECT community, page AS top_page,
         CAST(rank_micros AS BIGINT) AS top_rank_micros,
         row_number() OVER (PARTITION BY community
                            ORDER BY rank_micros DESC, page ASC) AS rn
  FROM j
)
SELECT a.community, a.n_pages, a.rank_mass_micros,
       s.top_page, s.top_rank_micros
FROM agg a JOIN sel s ON a.community = s.community AND s.rn = 1
ORDER BY a.rank_mass_micros DESC, a.community ASC"""
