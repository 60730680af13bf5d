"""Graph analytics over the constructed KG (beyond triple extraction:
once the edge table exists, ranking its nodes is the first query a KG
consumer runs — e.g. pick canonical-page importance for curation weights).

PageRank here is EXACT-INTEGER power iteration: ranks live as BIGINT
"micros" (1.0 == 1_000_000) and every step uses integer division only —
    contrib(u)   = rank(u) DIV outdeg(u)
    rank'(v)     = 150_000 + (Σ contrib) * 850_000 DIV 1_000_000
so there is NO floating point anywhere: the result is bit-identical under
any partitioning / aggregation order and a DuckDB oracle can state it
exactly (unrolled one CTE per iteration — SQL recursion can't aggregate in
the recursive term, and a fixed small iteration count is the point: this is
the deterministic-contract variant of the algorithm, not a convergence
study). Classic simplifications, mirrored in both engines: simple graph
(distinct edges), dangling-node mass leaks (no redistribution).

Scale shape: each iteration is (edges ⋈ ranks on src) -> groupBy(dst) —
one shuffle per iteration keyed on node ids (never strings longer than the
id), with edges/outdeg persisted once and reused across iterations (and
unpersisted before returning — long-lived sessions like the contract driver
would otherwise leak cached blocks across queries). The iterations run
through plans/iterate.fixpoint, which localCheckpoints the ranks every 5
iterations (each reads the previous ranks once, so the plan between
checkpoints stays 5 joins deep) and frees every superseded checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from confluence2md_spark.plans.iterate import fixpoint, release

DAMPING_MICROS = 850_000
BASE_MICROS = 1_000_000 - DAMPING_MICROS  # (1 - d) in micros


def _rank_iterate(
    e: DataFrame,
    norm: DataFrame,
    contrib: str,
    base: DataFrame,
    iters: int,
    topk: int | None,
    what: str,
) -> DataFrame:
    """The power iteration the three PageRank variants share: `e` holds
    (src, dst[, w]), `norm` (src, <out-normalizer>), `base` (page,
    base_micros, init_micros); `contrib` is the per-edge SQL contribution.
        rank'(v) = base_micros(v) + (Σ contrib) * 850_000 DIV 1_000_000
    With `topk`, the result is the top-k by (rank desc, page asc)."""

    def step(ranks: DataFrame) -> DataFrame:
        sums = (
            e.join(ranks.withColumnRenamed("page", "src"), "src")
            .join(norm, "src")
            .select(F.col("dst").alias("page"), F.expr(contrib).alias("c"))
            .groupBy("page")
            .agg(F.sum("c").alias("c"))
        )
        return base.join(sums, "page", "left").select(
            "page",
            (
                F.col("base_micros")
                + F.expr(f"coalesce(c, 0) * {DAMPING_MICROS} DIV 1000000")
            )
            .cast("bigint")
            .alias("rank_micros"),
        )

    return fixpoint(
        step,
        base.select("page", F.col("init_micros").alias("rank_micros")),
        max_iter=iters,
        checkpoint_every=5,
        what=what,
        finish=(
            None
            if topk is None
            else lambda r: r.orderBy(F.desc("rank_micros"), F.asc("page")).limit(topk)
        ),
    )


def _uniform_base(nodes: DataFrame) -> DataFrame:
    return nodes.select(
        "page",
        F.lit(BASE_MICROS).alias("base_micros"),
        F.lit(1_000_000).cast("bigint").alias("init_micros"),
    )


def pagerank_micros(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 5,
    topk: int | None = None,
) -> DataFrame:
    """(page, rank_micros) after `iters` exact-integer power iterations.

    `edges` is any (src, dst) relation; duplicates are dropped. If `topk`
    is set, returns the top-k by (rank desc, page asc).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("page"))
        .unionByName(e.select(F.col("dst").alias("page")))
        .distinct()
        .persist()
    )
    try:
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        return _rank_iterate(
            e, outdeg, "rank_micros DIV d", _uniform_base(nodes), iters, topk,
            "pagerank",
        )
    finally:
        e.unpersist()
        nodes.unpersist()


def pagerank_sql_duck(
    edges_cte_body: str, iters: int = 5, topk: int | None = 20
) -> str:
    """DuckDB twin: `edges_cte_body` is a SELECT yielding (subj, obj);
    iterations are unrolled one CTE each with the identical integer
    arithmetic (// is flooring division; all values non-negative, matching
    Spark's DIV). topk=None returns the FULL rank table unordered — the
    form composition twins (operators/communityrollup.py) embed as a
    subquery."""
    parts = [
        f"e AS (SELECT DISTINCT subj AS src, obj AS dst FROM ({edges_cte_body}))",
        "nodes AS (SELECT src AS page FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src, count(*) AS d FROM e GROUP BY src)",
        "r0 AS (SELECT page, CAST(1000000 AS BIGINT) AS rank_micros FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS (
  SELECT n.page,
         CAST({BASE_MICROS} + COALESCE(s.c, 0) * {DAMPING_MICROS} // 1000000 AS BIGINT) AS rank_micros
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS page, CAST(sum(r.rank_micros // o.d) AS BIGINT) AS c
    FROM e JOIN r{i} r ON e.src = r.page JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.page = s.page
)"""
        )
    tail = (
        f"SELECT page, rank_micros FROM r{iters}"
        if topk is None
        else f"""SELECT page, rank_micros FROM r{iters}
ORDER BY rank_micros DESC, page ASC LIMIT {topk}"""
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


def weighted_pagerank_micros(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    weight: str = "w",
    iters: int = 5,
    topk: int | None = None,
) -> DataFrame:
    """PageRank with integer edge weights (e.g. the canonical edge
    table's n_sources multiplicity — a link asserted by more source
    pages carries proportionally more mass):

        contrib(u -> v) = rank(u) * w(u, v) DIV W(u)     (W = out-weight)
        rank'(v)        = 150_000 + (Σ contrib) * 850_000 DIV 1_000_000

    Same exact-integer discipline as pagerank_micros (DIV-only, dangling
    mass leaks, bit-identical under any aggregation order); per-edge
    multiplication keeps int64 headroom (rank ~1e6-scale × bounded
    multiplicity). Duplicate (src, dst) rows are summed into one weighted
    edge. One node-id-keyed shuffle per iteration, iterated like the
    unweighted loop."""
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("bigint").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("page"))
        .unionByName(e.select(F.col("dst").alias("page")))
        .distinct()
        .persist()
    )
    try:
        outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
        return _rank_iterate(
            e, outw, "rank_micros * w DIV tw", _uniform_base(nodes), iters,
            topk, "weighted pagerank",
        )
    finally:
        e.unpersist()
        nodes.unpersist()


def weighted_pagerank_sql_duck(
    edges_cte_body: str, iters: int = 5, topk: int = 20
) -> str:
    """DuckDB twin: `edges_cte_body` yields (subj, obj, w); identical
    per-edge integer arithmetic, unrolled one CTE per iteration."""
    parts = [
        f"e AS (SELECT subj AS src, obj AS dst, CAST(sum(w) AS BIGINT) AS w "
        f"FROM ({edges_cte_body}) GROUP BY subj, obj)",
        "nodes AS (SELECT src AS page FROM e UNION SELECT dst FROM e)",
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw FROM e GROUP BY src)",
        "r0 AS (SELECT page, CAST(1000000 AS BIGINT) AS rank_micros FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS (
  SELECT n.page,
         CAST({BASE_MICROS} + COALESCE(s.c, 0) * {DAMPING_MICROS} // 1000000 AS BIGINT) AS rank_micros
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS page, CAST(sum(r.rank_micros * e.w // o.tw) AS BIGINT) AS c
    FROM e JOIN r{i} r ON e.src = r.page JOIN outw o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.page = s.page
)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT page, rank_micros FROM r{iters}
ORDER BY rank_micros DESC, page ASC LIMIT {topk}"""
    )


def hits_micros(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 4,
    topk: int | None = None,
) -> DataFrame:
    """Kleinberg HITS (hubs & authorities) on the DIRECTED edge set, in
    exact integer micros:

        auth_raw(v) = Σ over in-edges  hub(u)
        hub_raw(u)  = Σ over out-edges auth(v)     (using the NEW auth)

    each normalized to max = 1_000_000 after its half-step (L∞
    normalization — HITS rankings are scale-invariant, and the max-norm
    keeps every value within ~2e6 (the 1e6 scale plus flooring slack on
    tiny graphs), so the arithmetic is overflow-safe at any graph size:
    raw <= degree·2e6 needs ~4.6e12 in-edges on one node before int64
    matters). The normalizing division is computed as
        raw DIV (max_raw DIV 1_000_000)
    (divide-before-multiply — raw * 1e6 would overflow on hub nodes);
    the flooring-order choice is mirrored in the DuckDB twin, so parity
    is exact. max_raw >= 1e6 always holds (the argmax of the previous
    half-step has an incident edge), so the divisor is never 0.

    Returns (page, auth_micros, hub_micros); with `topk`, the top-k by
    (auth desc, page asc).

    Scale shape: unlike PageRank's per-iteration constant (1-d) offset,
    HITS normalizes by a GLOBAL max each half-step, so every half-step
    needs a full materialization regardless — we make that explicit with
    an eager localCheckpoint per half-step, then normalize against a
    broadcast 1-row max relation (the PPR stats pattern — no per-iteration
    driver collect, so no driver round-trip of job latency per half-step
    on a cluster). Both the max-agg and the projection reference the
    CHECKPOINTED relation, so lineage stays flat; referencing the raw
    relation lazily in both instead would double the logical plan per
    half-step
    (2^(2·iters) subtree copies — measured minutes of Catalyst time at
    iters=4 on a 6-edge graph). Superseded checkpoints are released as
    soon as the next half-step materializes past them (through
    plans/iterate.release), so peak cache is two node-sized relations.
    This loop stays outside plans/iterate.fixpoint: a step carries two
    relations and materializes twice, once per half-step."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("page"))
        .unionByName(e.select(F.col("dst").alias("page")))
        .distinct()
        .persist()
    )
    ckpts: list[DataFrame] = []

    def _norm(rel: DataFrame, col: str) -> DataFrame:
        rel = rel.localCheckpoint(eager=True)
        ckpts.append(rel)
        # the two live checkpoints are the current auth and hub; anything
        # older has been folded into a newer materialization
        while len(ckpts) > 2:
            release(ckpts.pop(0))
        mx = rel.agg(F.max(col).alias("_mx"))
        # max_raw >= 1e6 always (the previous argmax has an incident
        # edge), so `_mx DIV 1e6` is never 0 — same flooring order as the
        # literal-divisor form this replaces, mirrored in the twin.
        return rel.crossJoin(F.broadcast(mx)).select(
            "page",
            F.expr(f"{col} DIV (_mx DIV 1000000)").cast("bigint").alias(col),
        )

    try:
        auth = nodes.select(
            "page", F.lit(1_000_000).cast("bigint").alias("auth")
        )
        hub = nodes.select(
            "page", F.lit(1_000_000).cast("bigint").alias("hub")
        )
        for _ in range(iters):
            a_raw = (
                e.join(
                    hub.select(F.col("page").alias("src"), "hub"), "src"
                )
                .groupBy("dst")
                .agg(F.sum("hub").alias("auth"))
            )
            auth = nodes.join(
                a_raw.withColumnRenamed("dst", "page"), "page", "left"
            ).select(
                "page", F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth")
            )
            auth = _norm(auth, "auth")
            h_raw = (
                e.join(
                    auth.select(F.col("page").alias("dst"), "auth"), "dst"
                )
                .groupBy("src")
                .agg(F.sum("auth").alias("hub"))
            )
            hub = nodes.join(
                h_raw.withColumnRenamed("src", "page"), "page", "left"
            ).select(
                "page", F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub")
            )
            hub = _norm(hub, "hub")
        out = auth.join(hub, "page").select(
            "page",
            F.col("auth").alias("auth_micros"),
            F.col("hub").alias("hub_micros"),
        )
        if topk is not None:
            out = out.orderBy(
                F.desc("auth_micros"), F.asc("page")
            ).limit(topk)
        return out.localCheckpoint(eager=True)
    finally:
        for c in ckpts:
            release(c)
        e.unpersist()
        nodes.unpersist()


def hits_sql_duck(edges_cte_body: str, iters: int = 4, topk: int = 20) -> str:
    """DuckDB twin: identical half-step order and the identical
    divide-before-multiply flooring normalization."""
    parts = [
        f"e AS (SELECT DISTINCT subj AS src, obj AS dst FROM ({edges_cte_body}))",
        "nodes AS (SELECT src AS page FROM e UNION SELECT dst FROM e)",
        "a0 AS (SELECT page, CAST(1000000 AS BIGINT) AS auth FROM nodes)",
        "h0 AS (SELECT page, CAST(1000000 AS BIGINT) AS hub FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"""ar{i + 1} AS MATERIALIZED (
  SELECT n.page, CAST(COALESCE(s.a, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS page, sum(h.hub) AS a
    FROM e JOIN h{i} h ON e.src = h.page GROUP BY e.dst
  ) s ON n.page = s.page
)"""
        )
        parts.append(
            f"""a{i + 1} AS MATERIALIZED (
  SELECT page, CAST(auth // ((SELECT max(auth) FROM ar{i + 1}) // 1000000) AS BIGINT) AS auth
  FROM ar{i + 1}
)"""
        )
        parts.append(
            f"""hr{i + 1} AS MATERIALIZED (
  SELECT n.page, CAST(COALESCE(s.h, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.src AS page, sum(a.auth) AS h
    FROM e JOIN a{i + 1} a ON e.dst = a.page GROUP BY e.src
  ) s ON n.page = s.page
)"""
        )
        parts.append(
            f"""h{i + 1} AS MATERIALIZED (
  SELECT page, CAST(hub // ((SELECT max(hub) FROM hr{i + 1}) // 1000000) AS BIGINT) AS hub
  FROM hr{i + 1}
)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT a.page, a.auth AS auth_micros, h.hub AS hub_micros
FROM a{iters} a JOIN h{iters} h USING (page)
ORDER BY a.auth DESC, a.page ASC LIMIT {topk}"""
    )


def personalized_pagerank_micros(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 5,
    topk: int | None = None,
) -> DataFrame:
    """Personalized PageRank: restart mass goes only to `seeds` (a
    DataFrame with a `page` column) instead of uniformly to every node —
    the KG-navigation primitive ("what matters near THESE pages") used for
    seed-based corpus expansion and entity-neighborhood curation.

    Same exact-integer discipline as pagerank_micros, with the restart
    vector scaled so total injected mass matches the uniform variant:
        base(v) = (1-d)·1e6 · N DIV |S|   if v ∈ S else 0
        init(v) = 1e6 · N DIV |S|          if v ∈ S else 0
    N and |S| enter via a broadcast 1-row stats relation (no driver
    collect). Dangling mass leaks, duplicates dropped — mirrored exactly
    in the unrolled-CTE DuckDB twin. One node-id-keyed shuffle per
    iteration, iterated like the uniform loop."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("page"))
        .unionByName(e.select(F.col("dst").alias("page")))
        .distinct()
        .persist()
    )
    base_rel = None
    try:
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        stats = (
            nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(
                seeds.select("page")
                .distinct()
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_seeds"))
            )
        )
        base_rel = (
            nodes.join(
                seeds.select("page").distinct().withColumn("is_seed", F.lit(1)),
                "page",
                "left",
            )
            .crossJoin(F.broadcast(stats))
            .select(
                "page",
                F.when(
                    F.col("is_seed") == 1,
                    F.expr(f"{BASE_MICROS} * n_nodes DIV n_seeds"),
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("base_micros"),
                F.when(
                    F.col("is_seed") == 1,
                    F.expr("1000000 * n_nodes DIV n_seeds"),
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("init_micros"),
            )
            .persist()
        )
        return _rank_iterate(
            e, outdeg, "rank_micros DIV d", base_rel, iters, topk,
            "personalized pagerank",
        )
    finally:
        e.unpersist()
        nodes.unpersist()
        if base_rel is not None:
            base_rel.unpersist()


def personalized_pagerank_sql_duck(
    edges_cte_body: str, seeds_predicate: str, iters: int = 5, topk: int = 20
) -> str:
    """DuckDB twin. `seeds_predicate` is a boolean SQL expression over the
    `page` column selecting the seed set (evaluated on the node list, so
    both engines derive seeds from the same rule)."""
    parts = [
        f"e AS (SELECT DISTINCT subj AS src, obj AS dst FROM ({edges_cte_body}))",
        "nodes AS (SELECT src AS page FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src, count(*) AS d FROM e GROUP BY src)",
        f"seeds AS (SELECT page FROM nodes WHERE {seeds_predicate})",
        "stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes, "
        "(SELECT CAST(count(*) AS BIGINT) FROM seeds) AS n_seeds)",
        f"""base AS (
  SELECT n.page,
         CAST(CASE WHEN s.page IS NOT NULL
              THEN {BASE_MICROS} * st.n_nodes // st.n_seeds ELSE 0 END AS BIGINT) AS base_micros,
         CAST(CASE WHEN s.page IS NOT NULL
              THEN 1000000 * st.n_nodes // st.n_seeds ELSE 0 END AS BIGINT) AS init_micros
  FROM nodes n LEFT JOIN seeds s ON n.page = s.page CROSS JOIN stats st
)""",
        "r0 AS (SELECT page, init_micros AS rank_micros FROM base)",
    ]
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS (
  SELECT b.page,
         CAST(b.base_micros + COALESCE(s.c, 0) * {DAMPING_MICROS} // 1000000 AS BIGINT) AS rank_micros
  FROM base b LEFT JOIN (
    SELECT e.dst AS page, CAST(sum(r.rank_micros // o.d) AS BIGINT) AS c
    FROM e JOIN r{i} r ON e.src = r.page JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON b.page = s.page
)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT page, rank_micros FROM r{iters}
ORDER BY rank_micros DESC, page ASC LIMIT {topk}"""
    )
