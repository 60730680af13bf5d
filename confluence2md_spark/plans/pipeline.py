"""End-to-end KG build (SURVEY.md §3.4), checkpoint-resumable with lineage.

  S1 pages    raw_files -> B1 prefilter -> salted repartition -> mapInPandas convert
  S2 triples  H1-H4 extraction + I5 dedup
  S3 cmap     MinHash/LSH linking + connected components -> canonical map
  S4 edges    canonical triple rewrite (partitioned by pred on disk)
  S5 nodes    canonical page nodes + referenced obj nodes

One runner, `stage`, runs every stage under a per-stage policy (the table
in `build_kg`'s docstring): it owns resume (K2), timing, the per-partition
lineage rows (K3), the manifest and the in-memory copy. The jobs a stage
runs carry its name in the `kg.stage` local property.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.canon import build_canonical_map, build_nodes, canonicalize_triples
from ..operators.convert import convert_pages, is_confluence_mime_col
from ..operators.mentions import extract_mentions
from ..operators.triples import extract_all_triples
from ..sources.catalog import load_table, stored_schema, table_files, write_table
from .checkpoint import CheckpointManager
from .iterate import release
from .lineage import LineageLog, file_census, partition_census
from .skew import key_layout_census, needs_rebalance, salted_repartition

# stage -> policy in (full, lean, dry-run) mode; see build_kg's docstring
_POLICY = {
    "pages": ("sink", "sink_keep", "ephemeral"),
    "mentions": ("sink", "skip", "ephemeral"),
    "triples_raw": ("sink", "lazy", "ephemeral"),
    "canon_map": ("sink", "ephemeral", "ephemeral"),
    "edges": ("sink", "sink", "ephemeral"),
    "nodes": ("sink", "sink", "ephemeral"),
}


@dataclass
class KgBuildResult:
    run_id: str
    warehouse: str
    stage_rows: dict = field(default_factory=dict)
    stage_wall_s: dict = field(default_factory=dict)
    resumed_stages: list = field(default_factory=list)

    @property
    def total_wall_s(self) -> float:
        return sum(self.stage_wall_s.values())


def pages_stage(raw_files: DataFrame, num_partitions: int) -> DataFrame:
    """S1: the converted pages of `raw_files`. Runs the skew census (one
    small job) now; the conversion itself stays a lazy plan."""
    # Hot-repo skew (60% of the synthetic corpus lives in 'repo-hot';
    # worse at 10^12-file scale) is defused BEFORE the Python stage —
    # but ONLY when the physical layout needs it: shuffling terabytes of
    # content that parquet splits already spread evenly would double the
    # stage's IO for nothing. The census runs on a content-free
    # projection (repo derives from doc_id; the content column is never
    # evaluated for it), fused into ONE job (r6: hot_keys + layout were
    # three driver round-trips; the per-(partition, key) census derives
    # all of it in one collect of a tiny relation).
    hot, census = key_layout_census(raw_files.select("repo"), "repo")
    # B1 prefilter under a pushdown barrier (r6): when `content` is a
    # DERIVED column (the synthetic corpus, or any view that computes
    # payloads), Catalyst pushes the deterministic filter below the
    # spreading exchange and inlines the full content expression into
    # the predicate — at the bench corpus that lands it in the
    # single-partition crossJoin stage, so the whole detect-over-
    # synthesized-content pass runs on ONE core and the payload is
    # synthesized again in the projection above (measured 1.5 s ->
    # 7-9 s on the synth+filter step at sf1.0×8). Wrapping the
    # predicate in a trivially-true non-deterministic guard keeps it
    # above the exchange — evaluated data-parallel in the same fused
    # stage as the conversion (2.2-2.8 s; plans/r06/kg_pages_stage_*).
    # For STORED corpora the barrier costs nothing: the scan-level
    # pushdown it blocks would only re-read a materialized column.
    # (Plan shape pinned by test_pages_prefilter_stays_above_the_input_exchange.)
    conf = raw_files.filter(
        F.when(
            F.monotonically_increasing_id() >= 0,
            is_confluence_mime_col(F.col("content")),
        ).otherwise(F.lit(False))
    )
    if needs_rebalance(census, num_partitions):
        conf = salted_repartition(
            conf, "repo", num_partitions, hot=hot, salt_source="path"
        )
    return convert_pages(conf, prefilter=False)


def build_kg(
    spark: SparkSession,
    raw_files: DataFrame,
    warehouse: str,
    run_id: str = "run0",
    num_partitions: int | None = None,
    dry_run: bool = False,
    materialize_intermediates: bool = True,
) -> KgBuildResult:
    """Run the five stages (plus the mentions audit table) under one
    policy per stage, picked by the two flags:

      stage        full   lean (materialize_intermediates=False)   dry_run
      pages        sink   sink_keep                                 ephemeral
      mentions     sink   skip                                      ephemeral
      triples_raw  sink   lazy                                      ephemeral
      canon_map    sink   ephemeral                                 ephemeral
      edges        sink   sink                                      ephemeral
      nodes        sink   sink                                      ephemeral

    - sink: write the table; downstream stages read the table (with the
      schema it was written with, so no inference job). A resume point.
    - sink_keep: a local checkpoint, filled by the job that writes the
      table; downstream stages read the checkpoint. A resume point.
    - ephemeral: a local checkpoint only, filled by its lineage census
      (status `ephemeral`); nothing is written, so never resumed.
    - lazy: a plan fused into its consumers' jobs; not timed or counted.
    - skip: not computed.

    `dry_run=True` is the reference's --dry-run (main.go:204-207) at
    pipeline scale: every stage is computed and counted (lineage
    recorded), but nothing is written and no manifests are created.

    Lean mode drops the sinks that are not products: on a single shared
    disk the intermediate sink+readback traffic is the measured residual
    holding N->4N scaling below the 0.8 gate (BASELINE.md); on a cluster
    it removes two full write+read round-trips from the critical path.
    Keeping pages in memory serves its three consumers (canon_map titles,
    edges extraction, nodes) from memory bandwidth, which scales with
    cores, instead of re-reading the table from disk, which did not
    (edges scaled 1.3x from 2->8 cores). The trade: triples_raw and
    canon_map are no longer resume points.

    A sink stage's lineage census and manifest come from the files it
    wrote (`catalog.table_files`), not from a Spark job. A stage resumes
    only when its manifest is complete and its table's file listing
    (names, bytes, footer rows) still equals the manifest's; it is then
    read with the manifest's schema, with no Spark job. Otherwise it is
    recomputed. Every checkpoint the run made is released before
    `build_kg` returns, also when a stage raises."""
    ckpt = CheckpointManager(warehouse, run_id)
    lineage = LineageLog(warehouse, run_id)
    res = KgBuildResult(run_id=run_id, warehouse=warehouse)
    sc = spark.sparkContext
    if num_partitions is None:
        num_partitions = sc.defaultParallelism
    mode = 2 if dry_run else (0 if materialize_intermediates else 1)
    kept: list[DataFrame] = []
    cmap_inputs: list[DataFrame] = []

    def resume(name: str) -> DataFrame | None:
        manifest = ckpt.completed(name)
        if manifest is None:
            return None
        try:
            if table_files(spark, warehouse, name) != manifest.get("files"):
                return None
        except (OSError, ValueError, AnalysisException, Py4JJavaError):  # unreadable
            return None
        res.resumed_stages.append(name)
        res.stage_rows[name] = manifest["rows"]
        res.stage_wall_s[name] = 0.0
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        return load_table(spark, warehouse, name, schema)

    def run(name: str, compute, policy: str, partition_by) -> DataFrame:
        sinks = policy != "ephemeral"
        if sinks and (df := resume(name)) is not None:
            return df
        t0 = time.monotonic()
        out = compute()
        schema = stored_schema(out.schema, partition_by)
        if policy != "sink":
            out = out.localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            kept.append(out)
        if sinks:
            path = write_table(out, warehouse, name, partition_by=partition_by)
            if policy == "sink":
                out = load_table(spark, warehouse, name, schema)
            files = table_files(spark, warehouse, name)
            parts = file_census(files)
            ckpt.mark_complete(name, path, files, schema.json())
        else:
            parts = partition_census(out)
        wall = time.monotonic() - t0
        lineage.record_stage(
            name, parts, wall * 1000, status="ok" if sinks else "ephemeral"
        )
        res.stage_rows[name] = sum(p["rows_out"] for p in parts)
        res.stage_wall_s[name] = wall
        return out

    def stage(name: str, compute, policy: str, partition_by=None):
        if policy == "skip":
            return None
        if policy == "lazy":
            return compute()
        # a local property, not the job group: the caller's job group
        # (a benchmark's traced span, say) keeps the build's jobs
        prev = sc.getLocalProperty("kg.stage")
        sc.setLocalProperty("kg.stage", name)
        try:
            return run(name, compute, policy, partition_by)
        finally:
            sc.setLocalProperty("kg.stage", prev)

    plan = {name: policies[mode] for name, policies in _POLICY.items()}
    try:
        pages = stage(
            "pages", lambda: pages_stage(raw_files, num_partitions), plan["pages"]
        )
        # Linking/CC operate on titles (tiny rows): partition by data
        # volume, not cluster width — oversizing these stages costs more in
        # task scheduling than the work itself (measured at 1.16M titles on
        # local[32]: 59 partitions 4.6-10.8 s vs 8-16 partitions 3.4-3.8 s).
        # ~100k title rows (~5 MB) per partition; a 10^9-title corpus still
        # fans out to 10k tasks.
        p_small = max(4, min(num_partitions, res.stage_rows["pages"] // 100_000 + 1))
        # first-class mentions table (SURVEY §1.2): raw mention occurrences
        # for auditing linking recall; not on the edges critical path
        stage("mentions", lambda: extract_mentions(pages), plan["mentions"])
        triples = stage(
            "triples_raw", lambda: extract_all_triples(pages), plan["triples_raw"]
        )
        cmap = stage(
            "canon_map",
            lambda: build_canonical_map(
                pages, num_partitions=p_small, scratch=cmap_inputs
            ),
            plan["canon_map"],
        )
        # the map is materialized now (written or checkpointed): free the
        # CC labels its plan read
        for df in cmap_inputs:
            release(df)
        edges = stage(
            "edges",
            lambda: canonicalize_triples(triples, cmap),
            plan["edges"],
            partition_by=["pred"],
        )
        stage("nodes", lambda: build_nodes(pages, cmap, edges), plan["nodes"])
    finally:
        for df in kept + cmap_inputs:
            release(df)
    return res
