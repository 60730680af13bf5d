"""plans/iterate.fixpoint and the graph operators built on it: no cached
or checkpointed blocks outlive a call except the result's own checkpoint,
on the converging, fixed-round and raising paths alike. The near-dup
family (the band_join callers) is held to the same rule.

Leftovers are read from the RDD storage info (RDDs created during the
call that still hold blocks), not from getPersistentRDDs().size(): that
map holds weak values, so its size moves with JVM GC timing."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from confluence2md_spark.operators.betweenness import betweenness_micros
from confluence2md_spark.operators.bfs import seed_distance
from confluence2md_spark.operators.communities import (
    label_propagation,
    modularity_micros,
)
from confluence2md_spark.operators.communityrollup import community_pagerank_rollup
from confluence2md_spark.operators.components import connected_components
from confluence2md_spark.operators.containment import containment_pairs
from confluence2md_spark.operators.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from confluence2md_spark.operators.graph import (
    hits_micros,
    pagerank_micros,
    personalized_pagerank_micros,
    weighted_pagerank_micros,
)
from confluence2md_spark.operators.kcore import kcore
from confluence2md_spark.operators.linkpred import link_prediction
from confluence2md_spark.operators.portable_dedup import (
    minhash_portable_pairs,
    simhash_portable_pairs,
)
from confluence2md_spark.operators.scc import scc
from confluence2md_spark.operators.similarity import (
    embedding_near_dup_lsh,
    planted_cluster_vectors,
)
from confluence2md_spark.operators.triangles import triangle_participation
from confluence2md_spark.operators.truss import ktruss
from confluence2md_spark.operators.winnow import winnow_overlap_pairs
from confluence2md_spark.plans.iterate import fixpoint, release

# a seeded 120-node random link graph plus a 12-node chain (the chain
# makes the k-core peel take several rounds)
_rng = random.Random(3)
_EDGES = sorted(
    {(f"p{_rng.randrange(120):03d}", f"p{_rng.randrange(120):03d}") for _ in range(360)}
    | {(f"c{i:02d}", f"c{i + 1:02d}") for i in range(11)}
)

_OPS = {
    "pagerank": lambda g: pagerank_micros(g.edges, iters=7),
    "weighted_pagerank": lambda g: weighted_pagerank_micros(
        g.weighted, iters=7, topk=10
    ),
    "ppr": lambda g: personalized_pagerank_micros(g.edges, g.seeds, iters=7),
    "hits": lambda g: hits_micros(g.edges, iters=3),
    "lpa": lambda g: label_propagation(g.edges, iters=7),
    "modularity": lambda g: modularity_micros(g.edges, iters=3),
    "seed_distance": lambda g: seed_distance(g.edges, g.seeds, iters=4),
    "betweenness": lambda g: betweenness_micros(g.edges, g.seeds),
    "kcore": lambda g: kcore(g.edges, k=2),
    "ktruss": lambda g: ktruss(g.edges, k=3),
    "scc": lambda g: scc(g.edges.filter("subj >= 'p'")),
    "triangles": lambda g: triangle_participation(g.edges),
    "link_prediction": lambda g: link_prediction(g.edges, topk=20),
    "community_rollup": lambda g: community_pagerank_rollup(g.edges),
    "cc_distributed": lambda g: connected_components(
        g.edges, src="subj", dst="obj", driver_max_edges=0
    ),
}


class _Graph:
    def __init__(self, spark):
        self.edges = spark.createDataFrame(_EDGES, ["subj", "obj"])
        self.weighted = self.edges.withColumn(
            "w", (F.hash("subj", "obj") % 3 + 4).cast("bigint")
        )
        self.seeds = spark.createDataFrame(
            [("p000",), ("p007",), ("p042",)], ["page"]
        )


@pytest.fixture(scope="module")
def graph(spark):
    return _Graph(spark)


def _marker(spark) -> int:
    return spark.sparkContext.parallelize([0]).id()


def _left_behind(spark, marker: int, result=None) -> list[int]:
    """Ids of RDDs created after `marker` that still hold blocks, not
    counting the result's own checkpoint (if the result is one)."""
    keep = None
    if result is not None:
        plan = result._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            keep = plan.rdd().id()
    return [
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() > marker and info.numCachedPartitions() > 0 and info.id() != keep
    ]


@pytest.mark.parametrize("op", sorted(_OPS))
def test_operator_leaves_only_its_result(spark, graph, op):
    marker = _marker(spark)
    out = _OPS[op](graph)
    assert out.count() > 0
    assert _left_behind(spark, marker, out) == []


_NEAR_DUP = {
    "minhash": lambda docs, emb: minhash_near_dup_pairs(docs),
    "simhash": lambda docs, emb: simhash_near_dup_pairs(docs),
    "minhash_portable": lambda docs, emb: minhash_portable_pairs(docs),
    "simhash_portable": lambda docs, emb: simhash_portable_pairs(docs),
    "embedding_lsh": lambda docs, emb: embedding_near_dup_lsh(
        planted_cluster_vectors(emb), threshold=0.85, tables=16
    ),
    "containment": lambda docs, emb: containment_pairs(docs)[0],
    "winnow": lambda docs, emb: winnow_overlap_pairs(docs)[0],
    "ngram_jaccard": lambda docs, emb: ngram_jaccard_pairs(docs)[0],
}


@pytest.mark.parametrize("op", sorted(_NEAR_DUP))
def test_near_dup_operator_leaves_only_its_result(spark, sf_dir, op):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    marker = _marker(spark)
    out = _NEAR_DUP[op](docs, emb)
    assert len(out.collect()) > 0
    assert _left_behind(spark, marker, out) == []


# the modules of the graph operators, and the operators among them that
# read the KG edge relation (subj, obj) through operators/graphview
_GRAPH_MODULES = (
    "betweenness", "bfs", "communities", "communityrollup", "components",
    "graph", "graphview", "kcore", "linkpred", "scc", "triangles", "truss",
)
_VIEW_READERS = {
    "pagerank_micros", "weighted_pagerank_micros",
    "personalized_pagerank_micros", "hits_micros", "label_propagation",
    "modularity_micros", "community_pagerank_rollup", "seed_distance",
    "kcore", "ktruss", "scc", "triangle_participation", "triangle_total",
    "link_prediction", "betweenness_micros",
}


def test_graph_operators_hold_one_view_one_way():
    """The graph operators hold what their loops re-read as local
    checkpoints (no `.persist(`/`.unpersist(` in their modules), and the
    ones reading the edge relation take no `src`/`dst` column names."""
    import ast
    from pathlib import Path

    ops = Path(__file__).resolve().parent.parent / "confluence2md_spark" / "operators"
    caches, params, seen = [], [], set()
    for mod in _GRAPH_MODULES:
        for node in ast.walk(ast.parse((ops / f"{mod}.py").read_text())):
            if isinstance(node, ast.Attribute) and node.attr in ("persist", "unpersist"):
                caches.append(f"{mod}.py:{node.lineno}")
            if isinstance(node, ast.FunctionDef) and node.name in _VIEW_READERS:
                seen.add(node.name)
                args = {a.arg for a in node.args.args + node.args.kwonlyargs}
                params += [f"{node.name}({a})" for a in sorted(args & {"src", "dst"})]
    assert caches == []
    assert params == []
    assert seen == _VIEW_READERS


def test_raising_peel_leaves_nothing(spark, graph):
    marker = _marker(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(graph.edges, k=2, max_rounds=2)
    assert _left_behind(spark, marker) == []


def test_fixed_rounds_run_exactly_max_iter(spark):
    steps = []

    def step(df):
        steps.append(1)
        return df.select((F.col("x") + 1).alias("x"))

    out = fixpoint(
        step,
        spark.range(3).select(F.col("id").alias("x")),
        max_iter=7,
        checkpoint_every=3,
        what="counter",
    )
    assert len(steps) == 7
    assert sorted(r["x"] for r in out.collect()) == [7, 8, 9]
    assert "Project" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_round_guard_message(spark):
    with pytest.raises(RuntimeError, match="counter did not converge.*fixpoint"):
        fixpoint(
            lambda df: df.select((F.col("x") + 1).alias("x")),
            spark.range(3).select(F.col("id").alias("x")),
            max_iter=3,
            converged=lambda old, new: False,
            checkpoint_every=1,
            what="counter",
        )


def test_entry_cmap_leaves_only_its_memo(spark, sf_dir, monkeypatch):
    """The entry's canonical map on the distributed CC path: the CC label
    checkpoint under it is freed once the memo's checkpoint holds the map."""
    import __spark_entry__ as entrymod

    monkeypatch.setenv("KG_CC_DRIVER_MAX_EDGES", "0")
    entrymod._pages(spark, sf_dir)  # the map's input, memoized before the marker
    cache = {k: v for k, v in entrymod._CACHE.items() if k != ("cmap", sf_dir)}
    monkeypatch.setattr(entrymod, "_CACHE", cache)
    marker = _marker(spark)
    cmap = entrymod._cmap(spark, sf_dir)
    try:
        assert cmap.count() > 0
        assert _left_behind(spark, marker, cmap) == []
    finally:
        release(cmap)
