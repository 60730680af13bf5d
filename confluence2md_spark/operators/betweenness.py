"""Seed-sampled betweenness centrality (Brandes subset) over the KG link
graph.

Betweenness — how often a page sits ON the shortest paths between other
pages — is the one classic centrality family member still missing next
to degree (kg_degree_histogram), eigenvector-style (kg_pagerank,
kg_hits), and proximity (kg_seed_distance): it finds the BRIDGE pages
that connect otherwise-separate documentation clusters, which both
curation (bridges are high-value context) and graph QA (a bridge with a
broken link partitions the corpus) care about. Exact all-pairs
betweenness is O(V·E) and unthinkable at 10^12 files; the standard
scale answer — Brandes' source-sampling estimator (Brandes 2001; the
pivot estimator of Bader et al.) — runs the two-phase dependency
accumulation from a SAMPLE of sources only. Here the sample is the same
deterministic trusted-seed rule kg_ppr/kg_seed_distance use, so the
result is a fixed, exactly-reproducible contract (the sampled estimator
itself, not an approximation being graded against all-pairs truth).

Two synchronous phases per the classic algorithm, all seeds advancing
TOGETHER in one (seed, page)-keyed relation:

  forward  — level-synchronous BFS on the undirected simple graph,
             accumulating sigma(seed, v) = number of shortest seed→v
             paths (integer sums, order-independent);
  backward — dependency accumulation walking levels DESCENDING:
             delta(v) = Σ_{w ∈ succ(v)} floor(sigma(v) · (10^6 +
             delta(w)) / sigma(w)), in flooring micros so both engines
             do identical integer division (the pagerank_micros
             determinism discipline);
  output   — betweenness_micros(v) = Σ_seeds delta(seed, v).

Scale shape: each forward level is one edge join + groupBy-sum keyed on
(seed, node) ids; each backward level the same; state is |S|·|V| rows of
ids and two BIGINTs — the textbook distributed Brandes layout. Both
phases run through plans/iterate.fixpoint with a checkpoint every level
(each level reads the previous state twice). Rounds are bounded by the
BFS depth from the seeds; the forward loop RAISES if a frontier survives
`max_depth` (a truncated BFS would silently corrupt sigma for longer
paths), which also guarantees the unrolled DuckDB twin — same levels,
same floor micros — matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.plans.iterate import fixpoint, release

MICROS = 1_000_000


def _int64_guard(bfs: DataFrame) -> None:
    """Magnitude guard: the backward step computes sigma·(10^6+delta)
    in BIGINT. delta itself is bounded by 10^6 per reachable successor,
    so delta ≤ 10^6·R where R = max nodes reachable from one seed; with
    sigma ≤ 10^6 the product stays under 10^6·10^6·(1+R), which fits
    int64 iff R ≲ 9.2·10^6. Guard BOTH factors — sigma alone is not
    enough on a large-diameter graph with millions of reachable nodes per
    seed — and RAISE with the DECIMAL(38,0) ladder advice (the
    stats_extendedprice lesson) rather than silently wrap. One pass over
    the checkpointed BFS relation yields both values."""
    guard = (
        bfs.groupBy("seed")
        .agg(F.count(F.lit(1)).alias("r"), F.max("sigma").alias("ms"))
        .agg(F.max("r").alias("mr"), F.max("ms").alias("msig"))
        .first()
    )
    max_sigma = guard["msig"] or 0
    max_reach = guard["mr"] or 0
    if max_sigma > MICROS:
        raise RuntimeError(
            f"betweenness sigma overflow guard: max sigma "
            f"{max_sigma} > 1e6; re-run with use_decimal=True "
            "(exact DECIMAL(38,0) ladder) for this graph"
        )
    if max_reach > 9_000_000:
        raise RuntimeError(
            f"betweenness delta overflow guard: {max_reach} nodes "
            "reachable from one seed bounds delta at "
            f"~{max_reach}e6, overflowing sigma*(1e6+delta) in "
            "BIGINT; re-run with use_decimal=True"
        )


def betweenness_micros(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_depth: int = 12,
    use_decimal: bool = False,
) -> DataFrame:
    """(page, betweenness_micros) over the undirected simple view of
    `edges`, dependency-accumulated from `seeds` (a `page` column),
    unordered, zero rows dropped.
    Raises RuntimeError if BFS from the seeds is deeper than `max_depth`.

    `use_decimal` switches the backward step's sigma·(10^6+delta) product
    to DECIMAL(38,0) with Spark's exact integral DIV — same floor result
    on non-negative integers, headroom to 10^38 — for graphs whose
    shortest-path counts exceed the int64 guard (dense small-world
    graphs reach astronomical sigma; the RESULT stays int64-safe because
    pair dependency is bounded by 10^6 × reachable-node count, only the
    intermediate product needs the ladder). The contract twin keeps
    BIGINT arithmetic: contract graphs are guarded to stay inside it,
    where the two paths are bit-identical.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("x"), F.greatest(a, b).alias("y"))
        .distinct()
    )
    adj = (
        und.select(F.col("x").alias("v"), F.col("y").alias("u"))
        .unionByName(und.select(F.col("y").alias("v"), F.col("x").alias("u")))
        .localCheckpoint(eager=True)
    )
    try:
        nodes = adj.select(F.col("v").alias("page")).distinct()
        s = seeds.select("page").distinct().join(nodes, "page", "semi")
        # bfs: (seed, page, dist, sigma) for settled nodes; the frontier is
        # the rows at the deepest level. sigma sums ride in DECIMAL(38,0)
        # on the ladder path so the FORWARD accumulation cannot wrap either.
        sigma_t = "decimal(38,0)" if use_decimal else "bigint"
        level = 0  # the level the last forward step settled

        def expand(bfs: DataFrame) -> DataFrame:
            nonlocal level
            level += 1
            frontier = bfs.filter(F.col("dist") == level - 1)
            cand = (
                frontier.join(adj, frontier["page"] == adj["v"])
                .select("seed", F.col("u").alias("page"), "sigma")
                .groupBy("seed", "page")
                .agg(F.sum("sigma").alias("sigma"))
            )
            nxt = cand.join(bfs.select("seed", "page"), ["seed", "page"], "anti")
            return bfs.unionByName(
                nxt.select(
                    "seed",
                    "page",
                    F.lit(level).cast("bigint").alias("dist"),
                    "sigma",
                )
            )

        # a level that settles nothing is the fixpoint; one past max_depth
        # must be it, or the BFS is deeper than max_depth
        bfs = fixpoint(
            expand,
            s.select(
                F.col("page").alias("seed"),
                F.col("page").alias("page"),
                F.lit(0).cast("bigint").alias("dist"),
                F.lit(1).cast(sigma_t).alias("sigma"),
            ),
            max_iter=max_depth + 1,
            converged=lambda _, bfs: bfs.filter(F.col("dist") == level).count()
            == 0,
            checkpoint_every=1,
            what=f"betweenness BFS (max_depth={max_depth})",
        )
        depth = level - 1
        # backward: delta at the deepest level is 0; walk levels down,
        # accumulating (seed, page, delta) for every level settled so far.
        lvl = depth

        def accumulate(acc: DataFrame) -> DataFrame:
            nonlocal lvl
            lvl -= 1
            cur = bfs.filter(F.col("dist") == lvl)
            succ = (
                bfs.filter(F.col("dist") == lvl + 1)
                .select("seed", F.col("page").alias("w"), F.col("sigma").alias("sw"))
                .join(
                    acc.select("seed", F.col("page").alias("w"), "delta"),
                    ["seed", "w"],
                    "left",
                )
                .select("seed", "w", "sw", F.coalesce("delta", F.lit(0)).alias("dw"))
            )
            contrib = (
                cur.join(adj, cur["page"] == adj["v"])
                .select("seed", "page", "sigma", F.col("u").alias("w"))
                .join(succ, ["seed", "w"])
                .select(
                    "seed",
                    "page",
                    # pure integer multiply + exact integral DIV: identical
                    # floor semantics in both engines on non-negative
                    # operands, no double rounding. BIGINT under the
                    # magnitude guard; DECIMAL(38,0) ladder for graphs
                    # whose sigma outgrows it (same floor, 10^38 headroom).
                    F.expr(
                        f"CAST((CAST(sigma AS DECIMAL(38,0)) * ({MICROS} + dw))"
                        " DIV sw AS BIGINT)"
                        if use_decimal
                        else f"CAST((sigma * ({MICROS} + dw)) DIV sw AS BIGINT)"
                    ).alias("c"),
                )
                .groupBy("seed", "page")
                .agg(F.sum("c").alias("delta"))
            )
            return acc.unionByName(
                cur.select("seed", "page")
                .join(contrib, ["seed", "page"], "left")
                .select(
                    "seed", "page", F.coalesce("delta", F.lit(0)).alias("delta")
                )
            )

        def betweenness(acc: DataFrame) -> DataFrame:
            per_node = (
                acc.filter(F.col("page") != F.col("seed"))
                .groupBy("page")
                .agg(F.sum("delta").alias("bc"))
            )
            return (
                nodes.join(per_node, "page", "left")
                .select(
                    "page",
                    F.coalesce("bc", F.lit(0))
                    .cast("bigint")
                    .alias("betweenness_micros"),
                )
            )

        try:
            if not use_decimal:
                _int64_guard(bfs)
            return fixpoint(
                accumulate,
                bfs.filter(F.col("dist") == depth).select(
                    "seed", "page", F.lit(0).cast("bigint").alias("delta")
                ),
                max_iter=depth,
                checkpoint_every=1,
                what="betweenness backward walk",
                finish=betweenness,
            )
        finally:
            release(bfs)
    finally:
        release(adj)


def betweenness_sql_duck(
    edges_cte_body: str, seeds_predicate: str, max_depth: int = 12
) -> str:
    """DuckDB twin: the same level-synchronous Brandes, unrolled
    `max_depth` levels each way. Levels past the true BFS depth are empty
    relations, so the unroll equals the converged Spark loop exactly
    (betweenness_micros RAISES beyond max_depth, so silent divergence is
    impossible). `seeds_predicate` is a boolean over `page` on the node
    list — the same rule the Spark caller applies."""
    parts = [
        f"""und AS (
  SELECT DISTINCT LEAST(subj, obj) AS x, GREATEST(subj, obj) AS y
  FROM ({edges_cte_body}) WHERE subj <> obj
)""",
        "adj AS (SELECT x AS v, y AS u FROM und UNION ALL SELECT y, x FROM und)",
        "nodes AS (SELECT DISTINCT v AS page FROM adj)",
        f"""f0 AS MATERIALIZED (
  SELECT page AS seed, page, CAST(0 AS BIGINT) AS dist,
         CAST(1 AS BIGINT) AS sigma
  FROM nodes WHERE {seeds_predicate}
)""",
        "vis0 AS MATERIALIZED (SELECT seed, page FROM f0)",
    ]
    for l in range(1, max_depth + 1):
        parts.append(
            f"""f{l} AS MATERIALIZED (
  SELECT c.seed, c.page, CAST({l} AS BIGINT) AS dist, c.sigma
  FROM (
    SELECT f.seed, adj.u AS page, sum(f.sigma) AS sigma
    FROM f{l - 1} f JOIN adj ON f.page = adj.v
    GROUP BY f.seed, adj.u
  ) c ANTI JOIN vis{l - 1} v ON c.seed = v.seed AND c.page = v.page
),
vis{l} AS MATERIALIZED (
  SELECT seed, page FROM vis{l - 1} UNION ALL SELECT seed, page FROM f{l}
)"""
        )
    bfs_all = " UNION ALL ".join(
        f"SELECT * FROM f{l}" for l in range(max_depth + 1)
    )
    parts.append(f"bfs AS MATERIALIZED ({bfs_all})")
    # backward: delta for the deepest unrolled level is all-zero.
    parts.append(
        f"""d{max_depth} AS MATERIALIZED (
  SELECT seed, page, CAST(0 AS BIGINT) AS delta FROM f{max_depth}
)"""
    )
    for l in range(max_depth - 1, -1, -1):
        parts.append(
            f"""d{l} AS MATERIALIZED (
  SELECT c.seed, c.page, CAST(coalesce(k.delta, 0) AS BIGINT) AS delta
  FROM f{l} c LEFT JOIN (
    SELECT cur.seed, cur.page,
           sum(CAST((cur.sigma * (1000000 + s.delta)) // s.sigma
               AS BIGINT)) AS delta
    FROM f{l} cur
    JOIN adj ON cur.page = adj.v
    JOIN (
      SELECT f.seed, f.page, f.sigma, d.delta
      FROM f{l + 1} f JOIN d{l + 1} d ON f.seed = d.seed AND f.page = d.page
    ) s ON adj.u = s.page AND cur.seed = s.seed
    GROUP BY cur.seed, cur.page
  ) k ON c.seed = k.seed AND c.page = k.page
)"""
        )
    dall = " UNION ALL ".join(
        f"SELECT * FROM d{l}" for l in range(max_depth + 1)
    )
    parts.append(f"dacc AS MATERIALIZED ({dall})")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT n.page,
       CAST(coalesce(sum(d.delta), 0) AS BIGINT) AS betweenness_micros
FROM nodes n LEFT JOIN dacc d ON d.page = n.page AND d.page <> d.seed
GROUP BY n.page
ORDER BY betweenness_micros DESC, n.page ASC"""
    )
