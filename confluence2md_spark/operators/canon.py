"""Canonicalization I4/I5 (SURVEY.md §2.I): alias components -> canonical ids,
triple rewrite, node materialization.

`build_canonical_map` returns one row PER PAGE (identity included) — that is
the contract its consumers (the canon_map sink, the kg_canon_map oracle)
expect. The rewrite joins, however, only ever need the NON-identity remnant:
a page whose canon_id equals its doc_id rewrites to itself, which the
`coalesce` on the left join already produces without any map row. So
`canonicalize_triples`/`build_nodes` filter the map to `canon_id != doc_id`
(alias-component members only — ~0.1% of pages) BEFORE the broadcast; at
10^9 pages the full map would be a multi-GB forced broadcast, while the
alias remnant stays comfortably under the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .linking import token_block_pairs


def build_canonical_map(
    pages: DataFrame,
    threshold: float = 0.8,
    num_partitions: int | None = None,
    scratch: list[DataFrame] | None = None,
) -> DataFrame:
    """(doc_id, canon_id) for every page; identity where no alias exists.

    Alias edges come from the deterministic df-capped token inverted index
    over page titles (I2's short-string path; `linking.token_block_pairs` —
    documents use MinHash/LSH); components from the hybrid CC operator (I3:
    driver union-find under the pair cap, star contraction above it);
    canonical id = min doc_id in the component.

    `num_partitions` should track the TITLE volume, not the cluster width —
    title rows are tiny, and oversizing this stage drowns it in task
    scheduling (measured: 3× slower at 64 partitions than at 8 for 36k
    titles). The pipeline passes one partition per 100k pages, clamped
    to [4, cluster width]: max(4, min(n, rows // 100_000 + 1)).

    The returned plan reads the CC labels, which past the driver cap are a
    local checkpoint. With `scratch`, that checkpoint is appended to it,
    for the caller to free (`iterate.release`) once the map is
    materialized.
    """
    spark = pages.sparkSession
    # Whole-stage codegen OFF for this stage's actions: linking+CC is a
    # LATENCY-bound chain of small jobs over skinny rows, and per fresh JVM
    # the Janino/JIT compile of its generated classes costs more than
    # interpreted execution saves (measured: 17.5 s -> 14.1 s cold,
    # 8.5 s -> 6.0 s warm at 581k titles). Restored in the finally.
    prev_codegen = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        return _build_canonical_map(pages, threshold, num_partitions, scratch)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev_codegen)


def _build_canonical_map(
    pages: DataFrame,
    threshold: float,
    num_partitions: int | None,
    scratch: list[DataFrame] | None,
) -> DataFrame:
    ok = pages.filter(F.col("status") == "ok").select("doc_id", "title")
    # Word tokens for titles: char n-grams over-merge short strings
    # ('Page 1' vs 'Page 10' share ≥80% of 3-grams); token sets only collide
    # on (near-)identical titles, which is the alias semantics we want.
    # Candidate generation is the deterministic df-capped token inverted
    # index (round 2): for 2-3-token sets MinHash banding is probabilistic
    # AND pays ~9 s of cold-JIT for its nested array exprs per fresh JVM —
    # measured as the single non-scaling stage of the whole pipeline.
    # Documents (large shingle sets) go through lsh_candidate_pairs instead
    # (word-n-gram MinHash, banded by band_join); titles never do.
    pairs = token_block_pairs(
        ok,
        id_col="doc_id",
        text_col="title",
        threshold=threshold,
        num_partitions=num_partitions,
    )
    # CC materializes the pairs once, before it iterates (components.py)
    comp = connected_components(pairs)  # (id, component) — only linked pages
    if scratch is not None:
        scratch.append(comp)
    return (
        ok.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canon_id"),
        )
    )


def alias_only(cmap: DataFrame) -> DataFrame:
    """The non-identity remnant of a canonical map — the only rows a rewrite
    join needs (identity rewrites fall out of the left-join `coalesce`).
    This is what makes the explicit broadcast below scale-safe: the remnant
    is proportional to the number of ALIASED pages, not the corpus size."""
    return cmap.filter(F.col("canon_id") != F.col("doc_id"))


def canonicalize_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite page-typed subj/obj to canonical page ids; then re-dedup
    (distinct aliases can collapse onto the same canonical triple)."""
    cmap = alias_only(cmap)
    subj_map = cmap.select(
        F.concat(F.lit("page:"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("page:"), F.col("canon_id").cast("string")).alias("subj_canon"),
    )
    obj_map = cmap.select(
        F.concat(F.lit("page:"), F.col("doc_id").cast("string")).alias("obj"),
        F.concat(F.lit("page:"), F.col("canon_id").cast("string")).alias("obj_canon"),
    )
    # Explicit broadcast: after alias_only() the map holds only
    # alias-component members (tiny at any corpus size); pinning the strategy
    # avoids AQE occasionally picking a shuffle join for these small sides.
    t = (
        triples.join(F.broadcast(subj_map), "subj", "left")
        .join(F.broadcast(obj_map), "obj", "left")
        .select(
            F.coalesce("subj_canon", F.col("subj")).alias("subj"),
            "pred",
            F.coalesce("obj_canon", F.col("obj")).alias("obj"),
            "subj_type",
            "obj_type",
            "doc_id",
            "repo",
            "confidence",
        )
    )
    return t.groupBy("subj", "pred", "obj", "subj_type", "obj_type").agg(
        F.max("confidence").alias("confidence"),
        F.count(F.lit(1)).alias("n_sources"),
        F.min("repo").alias("repo"),
    )


def build_nodes(pages: DataFrame, cmap: DataFrame, edges: DataFrame) -> DataFrame:
    """Node table: canonical page nodes with alias sets, plus every non-page
    node referenced by an edge (user/file/section/url)."""
    ok = pages.filter(F.col("status") == "ok").select("doc_id", "title", "repo")
    page_nodes = (
        ok.join(F.broadcast(alias_only(cmap)), "doc_id", "left")
        .withColumn("canon_id", F.coalesce("canon_id", F.col("doc_id")))
        .groupBy("canon_id")
        .agg(
            F.sort_array(F.collect_set(F.concat(F.lit("page:"), F.col("doc_id").cast("string")))).alias("aliases"),
            F.min("title").alias("canonical_name"),
            F.min("repo").alias("repo"),
        )
        .select(
            F.concat(F.lit("page:"), F.col("canon_id").cast("string")).alias("node_id"),
            F.lit("page").alias("node_type"),
            "canonical_name",
            "aliases",
            "repo",
        )
    )
    obj_nodes = (
        edges.filter(F.col("obj_type") != "page")
        .groupBy(F.col("obj").alias("node_id"), F.col("obj_type").alias("node_type"))
        .agg(F.min("repo").alias("repo"))
        .select(
            "node_id",
            "node_type",
            F.substring_index("node_id", ":", -1).alias("canonical_name"),
            F.array().cast("array<string>").alias("aliases"),
            "repo",
        )
    )
    return page_nodes.unionByName(obj_nodes)
