"""k-core decomposition of the KG link graph.

The k-core is the maximal subgraph in which every node has degree >= k —
the standard "dense backbone" signal next to PageRank (operators/graph.py)
and triangle counting (operators/triangles.py): curation uses it to find
the tightly self-referential cluster of pages worth boosting, and to
discard barely-connected leaves. The reference stops at edge extraction
(converter/markdown.go emits links only); this is SURVEY §2's
graph-analytics family.

Algorithm: synchronous peeling. Repeat until fixpoint: compute degrees
over the surviving edge set, drop nodes with degree < k, drop edges with a
dropped endpoint. Each round is ONE groupBy (degree count, node-id key)
plus two semi-joins (edge filter) — all shuffles keyed on node ids only,
nothing collected to the driver. The rounds run through
plans/iterate.fixpoint, bounded by `max_rounds`: it localCheckpoints every
2 rounds so lineage stays bounded at any depth, and raises if the peel has
not converged — a silent truncation would return a superset of the
k-core.

Why this survives 100 TB: each round's work is O(|E_alive|) with
monotonically shrinking E; worst-case round count is the graph's
degeneracy-peel depth, which for web/KG graphs is tens, not thousands.
The oracle twin unrolls the same synchronous rounds as a DuckDB CTE chain;
once the fixpoint is reached extra unrolled rounds are no-ops, so a
converged Spark result matches the r-round oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.plans.iterate import fixpoint, release


def _degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 12,
) -> DataFrame:
    """Nodes of the k-core of the undirected simple view of `edges`.

    Returns (node, core_degree) — degree WITHIN the k-core subgraph, which
    is >= k by construction — unordered.
    Raises RuntimeError if the peel has not converged in `max_rounds`
    synchronous rounds (callers pick a depth matching their graph; the
    contract query asserts convergence rather than silently truncating).

    Each round references `alive` three times (degree census + two semi
    joins), so the un-truncated logical plan grows 3^rounds between
    checkpoints — a checkpoint every 2 rounds caps that at 9 subtree
    copies (the seed_distance/hits lineage lesson; the per-round count()
    forces execution but not plan truncation).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def peel(alive: DataFrame) -> DataFrame:
        keep = _degrees(alive).filter(F.col("d") >= k).select("n")
        return (
            alive.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
        )

    try:
        return fixpoint(
            peel,
            und,
            max_iter=max_rounds,
            # converged when no edge was peeled this round
            converged=lambda alive, nxt: alive.count() == nxt.count(),
            checkpoint_every=2,
            what=f"k-core peel (k={k})",
            finish=lambda alive: _degrees(alive).select(
                F.col("n").alias("node"), F.col("d").alias("core_degree")
            ),
        )
    finally:
        release(und)


def kcore_sql_duck(
    edges_cte: str, k: int = 2, rounds: int = 12
) -> str:
    """DuckDB oracle twin: the same synchronous peel unrolled `rounds`
    times. `edges_cte` must be the NAME of an in-scope CTE with columns
    (subj, obj). Extra rounds past the fixpoint are no-ops, so this equals
    the converged Spark result exactly when Spark converges in <= rounds
    (kcore() raises otherwise, so a silent mismatch is impossible).

    Every round CTE is AS MATERIALIZED: each e{{r}} references e{{r-1}}
    several times, and DuckDB's default CTE inlining would expand the
    chain exponentially (observed: fd exhaustion from ~3^rounds re-opens
    of the base parquet view).
    """
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM {edges_cte} WHERE subj <> obj
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1})
  GROUP BY n
),
k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {k}),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r - 1} e
  WHERE e.a IN (SELECT n FROM k{r}) AND e.b IN (SELECT n FROM k{r})
)"""
        )
    final = f"""SELECT n AS node, count(*)::BIGINT AS core_degree
FROM (SELECT a AS n FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY n
ORDER BY core_degree DESC, node ASC"""
    return ",\n".join(parts) + "\n" + final
