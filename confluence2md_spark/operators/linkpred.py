"""Link prediction over the constructed KG: common-neighbor count and
Adamic–Adar score for NON-adjacent node pairs (Liben-Nowell & Kleinberg
2003) — "which pages should probably link but don't", the standard
missing-edge / recommendation signal a KG consumer derives next after
ranking (reference parity note: the reference CLI stops at triple
emission; this is downstream analytics the mandate adds, so the DuckDB
twin is the spec, not a reference fixture).

Exact-integer contract: the Adamic–Adar term for middle node z is

    term(z)  = 1_000_000_000_000 DIV ln_micros(deg(z))
    ln_micros = CAST(floor(1e6 · ln(deg)) AS BIGINT)

so a pair's score is an INTEGER sum of integer terms — order-independent
and hash-exact against DuckDB (java.lang.StrictMath.log and DuckDB's ln
agree on these small-integer arguments; the same floor-ln-micros device
the BM25 and NB-classifier contracts use). deg(z) >= 2 for any middle
node (it touches both endpoints), so ln_micros >= 693_147 and the
division never sees 0; each term is <= 1.45e6, so int64 needs ~6e12
common neighbors on one pair before overflow. That deg >= 2 fact is
ENFORCED as an explicit filter before the term is projected (not merely
implied by the wedge join): Catalyst is free to evaluate the projection
before the self-join prunes degree-1 rows, and under Spark 4's default
ANSI mode ln(1)=0 then raises DIVIDE_BY_ZERO (plan-dependent — this
exact failure occurred in the round-4 driver run).

Scale shape (the part that must survive 100 TB):
- wedges are generated by self-joining the adjacency on the MIDDLE node
  — one shuffle keyed on a node id; candidate volume is Σ_z deg(z)², so
  hub middles are the quadratic term. `max_degree` excludes middles
  above the cap BEFORE the self-join (the same df-cap discipline as
  dedup_containment / bm25_topk_dfcap); that is also principled, not
  just defensive — Adamic–Adar exists precisely because high-degree
  middles carry near-zero evidence (1/ln(deg)), so the cap removes the
  most expensive, least informative wedges. The cap is part of the
  contract and mirrored in the twin.
- the existing-edge anti-join and the final top-k
  (TakeOrderedAndProject) are keyed on id pairs; document text never
  enters any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.operators.graphview import adjacency
from confluence2md_spark.plans.iterate import release

# 1e12 DIV ln_micros(deg): integer Adamic-Adar contribution of one middle
_TERM_SQL = "CAST(1000000000000 DIV CAST(floor(1000000 * ln(d)) AS BIGINT) AS BIGINT)"


def link_prediction(
    edges: DataFrame, max_degree: int = 64, topk: int = 50
) -> DataFrame:
    """(a, b, common_neighbors, aa_micros) for the `topk` non-adjacent
    unordered pairs of the undirected simple graph induced by `edges`,
    ranked by (aa_micros desc, a asc, b asc). Middle nodes with degree
    > `max_degree` contribute to neither score (capped contract)."""
    adj = adjacency(edges).localCheckpoint(eager=False)
    try:
        deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        # d >= 2 BEFORE the term projection: degree-1 nodes can never be
        # wedge middles (a middle touches two distinct neighbors), so the
        # bound changes no result — but whether Catalyst evaluates the
        # projection before or after the self-join is plan-dependent, and
        # ln(1)=0 makes the DIV term blow up under ANSI mode if it runs
        # first (observed: driver DIVIDE_BY_ZERO, round 4).
        mid = (
            adj.join(
                deg.filter((F.col("d") >= 2) & (F.col("d") <= max_degree)), "v"
            )
            .select("v", "u", F.expr(_TERM_SQL).alias("term"))
        )
        wedges = (
            mid.alias("l")
            .join(mid.select("v", F.col("u").alias("u2")).alias("r"), "v")
            .filter(F.col("u") < F.col("u2"))
        )
        scored = (
            wedges.groupBy(F.col("u").alias("a"), F.col("u2").alias("b"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
                F.sum("term").cast("bigint").alias("aa_micros"),
            )
            # the adjacency holds both directions, so (a, b) is an edge
            # iff it holds (v=a, u=b)
            .join(
                adj.select(F.col("v").alias("a"), F.col("u").alias("b")),
                ["a", "b"],
                "left_anti",
            )
            .orderBy(F.desc("aa_micros"), F.asc("a"), F.asc("b"))
            .limit(topk)
        )
        return scored.localCheckpoint(eager=True)
    finally:
        release(adj)


def link_prediction_sql_duck(
    edges_cte_body: str, max_degree: int = 64, topk: int = 50
) -> str:
    """DuckDB twin: identical cap, identical integer term arithmetic."""
    return f"""
WITH und AS (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM ({edges_cte_body}) WHERE subj <> obj
),
adj AS (SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v),
mid AS (
  SELECT adj.v, adj.u,
         CAST(1000000000000 // CAST(floor(1000000 * ln(deg.d)) AS BIGINT) AS BIGINT) AS term
  FROM adj JOIN deg ON adj.v = deg.v WHERE deg.d >= 2 AND deg.d <= {max_degree}
),
scored AS (
  SELECT l.u AS a, r.u AS b,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum(l.term) AS BIGINT) AS aa_micros
  FROM mid l JOIN mid r ON l.v = r.v AND l.u < r.u
  GROUP BY l.u, r.u
)
SELECT s.a, s.b, s.common_neighbors, s.aa_micros
FROM scored s LEFT JOIN und ON s.a = und.a AND s.b = und.b
WHERE und.a IS NULL
ORDER BY s.aa_micros DESC, s.a ASC, s.b ASC LIMIT {topk}"""
