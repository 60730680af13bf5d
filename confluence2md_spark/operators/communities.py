"""Community detection on the constructed KG via synchronous label
propagation (LPA) — the classic near-linear community algorithm
(Raghavan et al. 2007), here in its DETERMINISTIC contract variant:

- the graph is undirected + simple (self-loops dropped, one edge per
  unordered pair), derived from any (subj, obj) relation;
- label(v) starts as v's own id;
- every round, SYNCHRONOUSLY, each node adopts the label that the most
  neighbors held LAST round, breaking count ties by the smallest label
  (bytewise string order — identical in Spark and DuckDB for these
  ASCII ids);
- a fixed round count, not convergence detection (same contract stance
  as the exact-integer PageRank in operators/graph.py: the point is a
  bit-reproducible answer both engines can state, not a convergence
  study — synchronous LPA can oscillate on bipartite-ish structure,
  and the twin oscillates identically).

There is no randomness and no float anywhere, so the full (page,
community) assignment is hash-exact against an unrolled-CTE DuckDB
twin (one CTE per round; SQL recursion can't aggregate in the
recursive term).

Scale shape: the adjacency (operators/graphview: both directions of the
de-looped edges, one row per pair) is built once, hash-partitioned on its
join key u, and held as a local checkpoint. Round 1 needs no join,
since every neighbor still holds its own id: it is the min neighbor id.
Each later round joins the labels
onto the adjacency's partitioning and takes a deterministic
mode(label) per node: the most frequent label, ties to the lowest, in
one aggregate. That is one shuffle per round, keyed on node ids, never
document text, and no window or sort over the node set. The rounds run
through plans/iterate.fixpoint, which localCheckpoints the labels every
5 rounds (each round reads the previous labels once, so the plan between
checkpoints stays 5 joins deep) — an iters=20 run on a 10^12-edge graph
must not carry a 20-join plan into every stage resubmission.

Reference parity note: the reference CLI (aqueeb/confluence2md) stops
at triple emission; community structure is downstream KG analytics the
mandate adds (grouping canonical pages into topical clusters for
curation), so the oracle is the spec here, not a reference fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.operators.graphview import adjacency, undirected
from confluence2md_spark.plans.iterate import fixpoint, release


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """(page, community) after `iters` synchronous LPA rounds over the
    undirected simple graph induced by `edges`. Deterministic: max
    neighbor-label count wins, ties to the bytewise-smallest label.
    Nodes whose only edges are self-loops drop out (both engines derive
    the node set from the de-looped edge list)."""
    adj = adjacency(edges).localCheckpoint(eager=False)

    def step(labels: DataFrame) -> DataFrame:
        return (
            adj.join(labels.select(F.col("page").alias("u"), "label"), "u")
            .groupBy(F.col("v").alias("page"))
            .agg(F.mode("label", True).alias("label"))
        )

    try:
        if iters < 1:  # own ids, the twin's l0
            labels = adj.select(F.col("u").alias("page"), F.col("u").alias("label"))
            labels = labels.distinct()
        else:  # round 1: every neighbor still votes its own id once
            page = F.col("v").alias("page")
            labels = adj.groupBy(page).agg(F.min("u").alias("label"))
        return fixpoint(
            step,
            labels,
            max_iter=max(iters - 1, 0),
            checkpoint_every=5,
            what="label propagation",
            finish=lambda labels: labels.select(
                "page", F.col("label").alias("community")
            ),
        )
    finally:
        release(adj)


def modularity_micros(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Newman modularity of the label-propagation partition, in exact
    integer micros — the standard "are these communities real structure"
    metric, reported per community so the contract states every row:

        q_micros(c) = m_c·1e6 DIV m  −  (d_c·1e6 DIV 2m)² DIV 1e6

    (m = undirected simple edge count, m_c = intra-community edges,
    d_c = summed degree). The two flooring DIVs lose sub-micro precision
    identically in both engines — parity is the contract, not the last
    decimal. Overflow headroom: d_c·1e6 <= 2m·1e6 stays under int64 to
    m ~ 4.6e12 edges, and the squared term is <= 1e12 by construction
    (the r3-advice overflow lesson applied up front).

    Scale shape: the LPA rounds dominate; the metric itself is two
    node-keyed joins of the assignment onto the edge list, a degree
    groupBy, and a broadcast 1-row m relation.

    Returns (community, n_nodes, m_intra, d_sum, q_micros), unordered.
    """
    und = undirected(edges).localCheckpoint(eager=False)
    comm = None
    try:
        comm = label_propagation(edges, iters=iters)
        m_rel = und.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        deg = (
            und.select(F.col("a").alias("page"))
            .unionByName(und.select(F.col("b").alias("page")))
            .groupBy("page")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )
        per_comm = (
            deg.join(comm, "page")
            .groupBy("community")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                F.sum("d").cast("bigint").alias("d_sum"),
            )
        )
        ca = comm.select(
            F.col("page").alias("a"), F.col("community").alias("comm_a")
        )
        cb = comm.select(
            F.col("page").alias("b"), F.col("community").alias("comm_b")
        )
        intra = (
            und.join(ca, "a")
            .join(cb, "b")
            .filter(F.col("comm_a") == F.col("comm_b"))
            .groupBy(F.col("comm_a").alias("community"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("m_intra"))
        )
        out = (
            per_comm.join(intra, "community", "left")
            .crossJoin(F.broadcast(m_rel))
            .select(
                "community",
                "n_nodes",
                F.coalesce("m_intra", F.lit(0)).cast("bigint").alias("m_intra"),
                "d_sum",
                F.expr(
                    "CAST(coalesce(m_intra, 0) * 1000000 DIV m "
                    "- (d_sum * 1000000 DIV (2 * m)) "
                    "* (d_sum * 1000000 DIV (2 * m)) DIV 1000000 AS BIGINT)"
                ).alias("q_micros"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        if comm is not None:
            release(comm)
        release(und)


def modularity_sql_duck(edges_cte_body: str, iters: int = 4) -> str:
    """DuckDB twin: reuses the LPA twin as a subquery and applies the
    identical flooring-integer modularity arithmetic."""
    lpa = label_propagation_sql_duck(edges_cte_body, iters=iters)
    return f"""
WITH comm AS ({lpa}),
und AS (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM ({edges_cte_body}) WHERE subj <> obj
),
mrel AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
deg AS (
  SELECT page, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS page FROM und UNION ALL SELECT b FROM und)
  GROUP BY page
),
per_comm AS (
  SELECT c.community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.d) AS BIGINT) AS d_sum
  FROM deg d JOIN comm c USING (page) GROUP BY c.community
),
intra AS (
  SELECT ca.community, CAST(count(*) AS BIGINT) AS m_intra
  FROM und u
  JOIN comm ca ON u.a = ca.page
  JOIN comm cb ON u.b = cb.page
  WHERE ca.community = cb.community
  GROUP BY ca.community
)
SELECT p.community, p.n_nodes,
       CAST(coalesce(i.m_intra, 0) AS BIGINT) AS m_intra, p.d_sum,
       CAST(coalesce(i.m_intra, 0) * 1000000 // mrel.m
            - (p.d_sum * 1000000 // (2 * mrel.m))
            * (p.d_sum * 1000000 // (2 * mrel.m)) // 1000000 AS BIGINT)
         AS q_micros
FROM per_comm p LEFT JOIN intra i ON p.community = i.community
CROSS JOIN mrel
ORDER BY p.community"""


def label_propagation_sql_duck(edges_cte_body: str, iters: int = 4) -> str:
    """DuckDB twin: `edges_cte_body` yields (subj, obj); rounds are
    unrolled one CTE each (AS MATERIALIZED — DuckDB re-inlines plain
    CTEs per reference and exhausts fds on deep chains). The
    row_number pick ordered by (c DESC, label ASC) is Spark's
    mode(label, deterministic): max count, ties to the lowest label."""
    parts = [
        f"""und AS (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM ({edges_cte_body}) WHERE subj <> obj
)""",
        "adj AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und)",
        "l0 AS MATERIALIZED (SELECT DISTINCT v AS page, v AS label FROM adj)",
    ]
    for i in range(iters):
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
  SELECT page, label FROM (
    SELECT adj.v AS page, l.label,
           row_number() OVER (
             PARTITION BY adj.v
             ORDER BY count(*) DESC, l.label ASC
           ) AS rn
    FROM adj JOIN l{i} l ON adj.u = l.page
    GROUP BY adj.v, l.label
  ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT page, label AS community FROM l{iters} ORDER BY page"""
    )
