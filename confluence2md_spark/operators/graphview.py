"""The simple graph views of the KG edge relation (subj, obj).

Every graph operator reads its input through one of these, and each
DuckDB twin states the same view in its first CTE:

- `directed`: (src, dst), distinct, self-loops kept (the PageRank/HITS
  twins keep them; SCC drops them itself);
- `undirected`: (a, b) with a < b, self-loops dropped, distinct;
- `adjacency`: (v, u), both directions of every loop-free edge, one row
  per ordered pair;
- `node_ids`: (page), the distinct endpoints of a directed view.

The views are lazy. An operator whose loop re-reads one holds it as a
local checkpoint and frees it with plans/iterate.release in its
`finally`: a checkpoint is a plan leaf, so every reference costs a scan,
not the view's plan again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def directed(edges: DataFrame) -> DataFrame:
    """(src, dst): the distinct directed edges, self-loops kept."""
    return edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).distinct()


def undirected(edges: DataFrame) -> DataFrame:
    """(a, b): one row per unordered pair, a < b, self-loops dropped."""
    s, o = F.col("subj"), F.col("obj")
    return (
        edges.filter(s != o)
        .select(F.least(s, o).alias("a"), F.greatest(s, o).alias("b"))
        .distinct()
    )


def adjacency(edges: DataFrame) -> DataFrame:
    """(v, u): both directions of every loop-free edge, one row per
    ordered pair, hash-partitioned on the join key u. The distinct reuses
    the u partitioning, so building it is one exchange."""
    e = edges.select(F.col("subj").alias("v"), F.col("obj").alias("u")).filter(
        F.col("v") != F.col("u")
    )
    return (
        e.unionByName(e.select(F.col("u").alias("v"), F.col("v").alias("u")))
        .repartition("u")
        .distinct()
    )


def node_ids(e: DataFrame) -> DataFrame:
    """(page): the distinct endpoints of a (src, dst, ...) relation."""
    return (
        e.select(F.col("src").alias("page"))
        .unionByName(e.select(F.col("dst").alias("page")))
        .distinct()
    )
