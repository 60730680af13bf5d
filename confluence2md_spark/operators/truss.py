"""k-truss decomposition of the KG link graph.

The k-truss (Cohen 2008, "Trusses: cohesive subgraphs for social network
analysis") is the maximal subgraph in which EVERY EDGE closes at least
k-2 triangles — the edge-level tightening of the k-core
(operators/kcore.py): a k-core keeps barely-attached nodes whose edges
share no common neighbors, while a truss edge is certified by actual
co-citation. On a page graph the 4-truss is the classic "community
backbone" next to LPA communities (operators/communities.py). The
reference stops at edge extraction; this is SURVEY §2's graph-analytics
family, mandate-added.

Algorithm: synchronous support peeling. Repeat until fixpoint: count each
surviving edge's triangles (support) with the degree-ordered-orientation
wedge join of operators/triangles.py (Suri & Vassilvitskii WWW'11 — the
oriented wedge relation is bounded by m^1.5, so one hub cannot blow up
the join), drop edges with support < k-2, repeat. Edges in zero
triangles never appear in the support relation and are dropped the same
round — the inner join IS the filter.

Scale shape (100 TB): each round is one orientation (two node-keyed
degree joins), one wedge equi-join keyed on the spoke node, one closing
join keyed on the (y, z) pair, and one (a, b)-keyed support aggregation
— all skinny integer keys, |E| monotonically shrinking. The rounds run
through plans/iterate.fixpoint with a checkpoint every round (each round
re-reads `alive` many times; the kcore 3^rounds lesson applies with a
larger fan-in here). Rounds are bounded by `max_rounds` and
non-convergence RAISES — a silent truncation would return a superset of
the truss (the kcore discipline).

The DuckDB twin unrolls the same rounds; it enumerates each triangle
{p<q<r} once in plain id order (x=(p,q), y=(p,r), closing (q,r)) — a
different enumeration ORDER than Spark's degree orientation but the
identical triangle SET, so per-edge supports and therefore every peel
decision match exactly. Extra unrolled rounds past the fixpoint are
no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.plans.iterate import fixpoint, release


def _support(alive: DataFrame) -> DataFrame:
    """(a, b, sup): triangles per surviving canonical edge, via the
    degree-ordered orientation (each triangle found exactly once)."""
    deg = (
        alive.select(F.col("a").alias("n"))
        .unionAll(alive.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = alive.join(da, "a").join(db, "b")
    fwd = F.struct("da", "a") < F.struct("db", "b")
    e = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dt"),
    )
    e1 = e.select("s", F.col("t").alias("y"), F.col("dt").alias("dy"))
    e2 = e.select("s", F.col("t").alias("z"), F.col("dt").alias("dz"))
    wedges = e1.join(e2, "s").filter(F.struct("dy", "y") < F.struct("dz", "z"))
    closing = e.select(F.col("s").alias("y"), F.col("t").alias("z"))
    tri = wedges.join(closing, ["y", "z"]).select(
        F.col("s").alias("x"), "y", "z"
    )
    sides = (
        tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .unionAll(
            tri.select(
                F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
            )
        )
        .unionAll(
            tri.select(
                F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
            )
        )
    )
    return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))


def ktruss(
    edges: DataFrame,
    k: int = 4,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 12,
) -> DataFrame:
    """Edges of the k-truss of the undirected simple view of `edges`.

    Returns (a, b, support) — support counted WITHIN the truss subgraph,
    >= k-2 by construction — unordered.
    Raises RuntimeError if the peel has not converged in `max_rounds`
    rounds. An empty result (graph has no k-truss) is a valid outcome.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def peel(alive: DataFrame) -> DataFrame:
        return (
            alive.join(_support(alive), ["a", "b"])
            .filter(F.col("sup") >= k - 2)
            .select("a", "b")
        )

    try:
        return fixpoint(
            peel,
            und,
            max_iter=max_rounds,
            converged=lambda alive, nxt: alive.count() == nxt.count(),
            checkpoint_every=1,
            what=f"k-truss peel (k={k})",
            finish=lambda alive: alive.join(_support(alive), ["a", "b"], "left")
            .select(
                "a",
                "b",
                F.coalesce(F.col("sup"), F.lit(0)).cast("bigint").alias("support"),
            ),
        )
    finally:
        release(und)


def ktruss_sql_duck(edges_cte: str, k: int = 4, rounds: int = 12) -> str:
    """DuckDB oracle twin: the same synchronous support peel unrolled
    `rounds` times (AS MATERIALIZED — the kcore fd-exhaustion lesson).
    `edges_cte` must be the NAME of an in-scope CTE with (subj, obj)."""
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM {edges_cte} WHERE subj <> obj
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""t{r} AS MATERIALIZED (
  SELECT x.a AS p, x.b AS q, y.b AS r
  FROM e{r - 1} x
  JOIN e{r - 1} y ON x.a = y.a AND x.b < y.b
  JOIN e{r - 1} z ON z.a = x.b AND z.b = y.b
),
s{r} AS MATERIALIZED (
  SELECT a, b, count(*) AS sup FROM (
    SELECT p AS a, q AS b FROM t{r}
    UNION ALL SELECT p, r FROM t{r}
    UNION ALL SELECT q, r FROM t{r}
  ) GROUP BY a, b
),
e{r} AS MATERIALIZED (
  SELECT s.a, s.b FROM s{r} s WHERE s.sup >= {k - 2}
)"""
        )
    final = f"""SELECT e.a AS a, e.b AS b, coalesce(s.sup, 0)::BIGINT AS support
FROM e{rounds} e LEFT JOIN s{rounds} s ON e.a = s.a AND e.b = s.b
ORDER BY support DESC, e.a ASC, e.b ASC"""
    return ",\n".join(parts) + "\n" + final
