"""Strongly connected components of the directed KG link graph.

Every components path so far (operators/components.py, and the curation
queries built on it) works on the UNDIRECTED alias/link graph; links_to
is directed, and the directed notion — mutual reachability — is what a
KG consumer means by "these pages form a self-referential cluster":
2-cycles (A links B links A) and longer citation loops collapse to one
strongly connected component, while a hub that only points outward stays
a singleton no matter how many links it emits. The reference stops at
edge extraction (converter/markdown.go emits links only); SCC belongs to
SURVEY §2's graph-analytics family alongside PageRank / HITS / k-core.

Algorithm: distributed forward-backward coloring (the standard
iterative/MapReduce SCC scheme — Orzan's coloring, also the shape of
FW-BW-Trim in the multistep literature). Each OUTER round on the active
subgraph:

  1. forward min-label fixpoint: color(v) = min id over active nodes that
     reach v (including v). Within one SCC every member provably gets the
     same color — the minimal node r that reaches any member reaches all
     of them — and that color is r itself iff r is in the SCC.
  2. backward mark within the color class: starting from the roots
     (color(v) == v), propagate "reaches its root" ACROSS REVERSED edges
     restricted to same-colored endpoints. Any intermediate node on a
     member→root path is itself in the SCC (root reaches it via the
     member, it reaches the root), so the same-color restriction loses
     nothing, and every marked node is mutually reachable with its root.
  3. emit marked nodes as (page, scc_id = color); remove them from the
     active set. Unmarked color classes re-color next round against the
     shrunken graph.

Every inner iteration is one node-id-keyed join + groupBy-min (the
seed-distance loop shape) over the full edge set: the joins against the
active nodes' colors restrict it to the active subgraph, so no per-round
edge relation is built. Nothing but (id, id) pairs ever shuffles and
nothing is collected to the driver. Each outer round removes at least
the SCC of the minimum active node (it is always a root), and on real
link graphs — shallow, with many independent root color classes per
round — the peel finishes in a handful of outer rounds. `max_rounds`
bounds the TOTAL inner-iteration budget and the loop RAISES if
unconverged: a silent truncation would mislabel nodes, and the DuckDB
twin (exact transitive closure + mutual-reach minimum via one recursive
CTE) is exact at any depth, so a converged Spark answer must match it
bit-for-bit.

Lineage discipline: both inner loops run through plans/iterate.fixpoint
with a checkpoint every step (each step references the previous relation
twice, so a lazy loop doubles the logical plan per step — the
seed_distance/hits lesson). The backward mark's result is the next
round's (page, scc_id) assignment, so each outer round materializes
exactly one node-sized relation besides the inner loops' own; the outer
loop frees the superseded one through plans/iterate.release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.plans.iterate import fixpoint, release


def _unchanged(col: str):
    """Convergence probe: no row's `col` differs between two states."""

    def probe(old: DataFrame, new: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), "page")
            .filter(F.col(f"n.{col}") != F.col(f"o.{col}"))
            .count()
            == 0
        )

    return probe


def scc(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 64,
) -> DataFrame:
    """(page, scc_id) for every node of the directed simple graph induced
    by `edges`; scc_id is the minimum page id of the component.
    Unordered. Raises RuntimeError if the coloring peel exhausts
    `max_rounds` total inner iterations before the active set empties.
    """
    e_all = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .distinct()
        .persist()
    )
    budget = max_rounds

    def color_step(color: DataFrame) -> DataFrame:
        # color(v) = min(color(v), colors of active in-neighbors)
        nonlocal budget
        budget -= 1
        cand = (
            e_all.join(
                color.select(F.col("page").alias("s"), F.col("color").alias("cu")),
                "s",
            )
            .groupBy("t")
            .agg(F.min("cu").alias("cand"))
        )
        return color.join(
            cand.withColumnRenamed("t", "page"), "page", "left"
        ).select(
            "page",
            F.least(F.col("color"), F.coalesce("cand", F.col("color"))).alias(
                "color"
            ),
        )

    def mark_step(mark: DataFrame) -> DataFrame:
        # m(v) |= v has an edge to a marked node of its own color
        nonlocal budget
        budget -= 1
        cand = (
            e_all.join(
                mark.filter(F.col("m")).select(
                    F.col("page").alias("t"), F.col("color").alias("ct")
                ),
                "t",
            )
            .select(F.col("s").alias("page"), F.col("ct").alias("color"))
            .distinct()
            .withColumn("_hit", F.lit(True))
        )
        return mark.join(cand, ["page", "color"], "left").select(
            "page",
            "color",
            (F.col("m") | F.coalesce("_hit", F.lit(False))).alias("m"),
        )

    labels = None
    try:
        labels = (
            e_all.select(F.col("s").alias("page"))
            .unionByName(e_all.select(F.col("t").alias("page")))
            .distinct()
            .select("page", F.lit(None).cast(dict(e_all.dtypes)["s"]).alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        while True:
            active = labels.filter(F.col("scc_id").isNull()).select("page")
            if active.count() == 0:
                out, labels = labels, None  # the result: the caller owns it
                return out
            # 1. forward min-color fixpoint over the active subgraph.
            color = fixpoint(
                color_step,
                active.select("page", F.col("page").alias("color")),
                max_iter=budget,
                converged=_unchanged("color"),
                checkpoint_every=1,
                what=f"scc coloring (max_rounds={max_rounds} in total)",
            )
            # 2. backward mark within the color class, seeded at roots;
            # 3. the marked nodes take their color as scc_id.
            done = labels
            try:
                labels = fixpoint(
                    mark_step,
                    color.select(
                        "page", "color", (F.col("page") == F.col("color")).alias("m")
                    ),
                    max_iter=budget,
                    converged=_unchanged("m"),
                    checkpoint_every=1,
                    what=f"scc backward mark (max_rounds={max_rounds} in total)",
                    finish=lambda mark: done.join(
                        mark.filter(F.col("m")).select(
                            "page", F.col("color").alias("_id")
                        ),
                        "page",
                        "left",
                    ).select("page", F.coalesce("scc_id", "_id").alias("scc_id")),
                )
            finally:
                release(color)
            release(done)
    finally:
        if labels is not None:
            release(labels)
        e_all.unpersist()


def scc_sql_duck(edges_cte_body: str) -> str:
    """DuckDB oracle twin: exact transitive closure via one recursive CTE
    (UNION set semantics guarantees termination), then
    scc_id(u) = min({u} ∪ {v : u →* v AND v →* u}). Exact at any graph
    depth — no round count to match, so a converged scc() result must
    equal it bit-for-bit."""
    return f"""WITH RECURSIVE
e AS MATERIALIZED (
  SELECT DISTINCT subj AS s, obj AS t FROM ({edges_cte_body}) WHERE subj <> obj
),
reach(s, t) AS (
  SELECT s, t FROM e
  UNION
  SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s
),
nodes AS (SELECT DISTINCT s AS page FROM e UNION SELECT DISTINCT t FROM e),
mutual AS (
  SELECT a.s AS u, a.t AS v FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
)
SELECT n.page, LEAST(n.page, coalesce(min(m.v), n.page)) AS scc_id
FROM nodes n LEFT JOIN mutual m ON m.u = n.page
GROUP BY n.page
ORDER BY n.page"""
