"""Per-community PageRank rollup (operators/communityrollup.py):
composition consistency with the two verified constituents, and
deterministic leader pick under rank ties."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from confluence2md_spark.operators.communities import label_propagation
from confluence2md_spark.operators.communityrollup import community_pagerank_rollup
from confluence2md_spark.operators.graph import pagerank_micros


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "subj string, obj string")


def test_rollup_matches_recomposed_constituents(spark):
    # two link clusters bridged by nothing: LPA must split them, and the
    # rollup per community must equal a driver-side recomposition of the
    # two constituent operators
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("z", "x"), ("w", "x"), ("w", "y"),
    ]
    e = _edges(spark, pairs)
    got = community_pagerank_rollup(e).collect()

    comm = {r["page"]: r["community"] for r in label_propagation(e, iters=4).collect()}
    ranks = {r["page"]: r["rank_micros"] for r in pagerank_micros(e, iters=5).collect()}
    by_comm = defaultdict(list)
    for page, c in comm.items():
        by_comm[c].append((page, ranks[page]))
    expected = {}
    for c, members in by_comm.items():
        mass = sum(r for _, r in members)
        top = sorted(members, key=lambda t: (-t[1], t[0]))[0]
        expected[c] = (len(members), mass, top[0], top[1])

    assert len(got) == len(expected) >= 2
    for row in got:
        n, mass, top_page, top_rank = expected[row["community"]]
        assert row["n_pages"] == n
        assert row["rank_mass_micros"] == mass
        assert row["top_page"] == top_page
        assert row["top_rank_micros"] == top_rank


def test_rollup_tie_breaks_leader_by_page_id(spark):
    # a perfectly symmetric directed 3-cycle: every node has the same
    # rank and LPA converges to one community (an odd cycle is
    # non-bipartite, so synchronous updates cannot oscillate) — the
    # leader must be the bytewise-smallest page
    pairs = [("n1", "n2"), ("n2", "n3"), ("n3", "n1")]
    got = community_pagerank_rollup(_edges(spark, pairs)).collect()
    assert len(got) == 1
    assert got[0]["n_pages"] == 3
    assert got[0]["top_page"] == "n1"
    assert got[0]["rank_mass_micros"] == 3 * got[0]["top_rank_micros"]


def test_rollup_excludes_selfloop_only_nodes(spark):
    # 's' has only a self-loop: PageRank ranks it, LPA's de-looped node
    # set omits it, and the rollup (inner join) must therefore omit it in
    # both engines — the documented contract
    pairs = [("a", "b"), ("b", "a"), ("s", "s")]
    got = community_pagerank_rollup(_edges(spark, pairs)).collect()
    assert sum(r["n_pages"] for r in got) == 2
