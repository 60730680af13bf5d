"""One-off scale smoke for the round-4 graph loops (SCC, seeded
betweenness): drive them over synthetic graphs orders of magnitude past
contract scale and report wall, rounds-shape, and invariant checks.

    python scripts/graph_scale_smoke.py [n_nodes] [n_edges] [n_seeds]

The graph is a deterministic pseudo-random digraph (xxhash64-derived
endpoints, planted cycles so SCC has real multi-member components). Not
a timing benchmark — an existence proof that the loop shapes (per-step
checkpoints, converge-or-raise budgets, id-only shuffles) survive a
graph ~1000x the contract's 890 edges without driver-side collapse.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_seeds = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from pyspark.sql import functions as F

    from confluence2md_spark.operators.betweenness import betweenness_micros
    from confluence2md_spark.operators.scc import scc
    from confluence2md_spark.session import get_spark

    spark = get_spark()  # width from the machine; SPARK_GRAFT_CPUS overrides
    out: dict = {"n_nodes": n_nodes, "n_edges": n_edges, "n_seeds": n_seeds}

    # deterministic digraph: endpoints from xxhash64(i), plus a planted
    # ring over every 1000th node so multi-member SCCs exist at scale
    base = spark.range(n_edges).select(
        F.concat(
            F.lit("page:"),
            (F.pmod(F.xxhash64(F.col("id") * 2 + 1), F.lit(n_nodes))),
        ).alias("subj"),
        F.concat(
            F.lit("page:"),
            (F.pmod(F.xxhash64(F.col("id") * 2 + 2), F.lit(n_nodes))),
        ).alias("obj"),
    )
    ring_n = n_nodes // 1000
    ring = spark.range(ring_n).select(
        F.concat(F.lit("page:"), F.col("id") * 1000).alias("subj"),
        F.concat(
            F.lit("page:"), (F.pmod(F.col("id") + 1, F.lit(ring_n))) * 1000
        ).alias("obj"),
    )
    edges = base.unionByName(ring).localCheckpoint(eager=True)

    t0 = time.monotonic()
    bc_seeds = (
        edges.select(F.col("subj").alias("page"))
        .distinct()
        .orderBy("page")
        .limit(n_seeds)
    )
    bc = betweenness_micros(edges, bc_seeds, max_depth=24, use_decimal=True)
    out["betweenness_wall_s"] = round(time.monotonic() - t0, 1)
    out["betweenness_rows"] = bc.count()
    out["betweenness_nonzero"] = bc.filter(
        F.col("betweenness_micros") > 0
    ).count()

    t0 = time.monotonic()
    comp = scc(edges, max_rounds=256)
    out["scc_wall_s"] = round(time.monotonic() - t0, 1)
    out["scc_rows"] = comp.count()
    sizes = comp.groupBy("scc_id").count()
    out["scc_components"] = sizes.count()
    out["scc_largest"] = sizes.agg(F.max("count")).first()[0]
    out["scc_multi_member"] = sizes.filter(F.col("count") > 1).count()
    # invariant: the planted ring must be one SCC of exactly ring_n nodes
    ring_ids = comp.filter(
        F.col("page").isin([f"page:{i * 1000}" for i in range(ring_n)])
    )
    out["ring_one_component"] = (
        ring_ids.select("scc_id").distinct().count() == 1
    )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
