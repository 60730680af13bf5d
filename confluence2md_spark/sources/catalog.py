"""Catalog seam: parquet locally, Iceberg on a real cluster.

On a cluster with the Iceberg runtime this becomes
``spark.read.table(f"{namespace}.{name}")`` / ``df.writeTo(...).append()``
with partition transforms (``bucket(N, repo)`` for raw_files,
``pred``/``repo`` for edges).  The sandbox has no Iceberg jars
(SURVEY.md §0), so tables are partitioned parquet under a warehouse dir with
the identical schema — every consumer goes through this seam, so swapping the
backend is a two-function change.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

def _use_iceberg() -> bool:
    # read at CALL time (not import) so tests and long-lived drivers can
    # toggle the backend without re-importing the module
    return os.environ.get("KG_USE_ICEBERG", "") == "1"


def _namespace() -> str:
    return os.environ.get("KG_NAMESPACE", "kg")


# Cluster-side DDL (documented here, executed when KG_USE_ICEBERG=1 on a
# Spark with the Iceberg runtime): partition transforms chosen per table —
# raw_files bucketed by repo so one repo's files spread over N buckets
# (pre-defusing hot-repo scan skew), edges partitioned by predicate (every
# downstream query filters on pred), nodes by node_type.
#
# A FUNCTION, not a module constant: the namespace must resolve at the same
# time load_table/write_table resolve it (call time), otherwise setting
# KG_NAMESPACE after import would create tables in one namespace and
# read/write another.
def iceberg_ddl() -> dict[str, str]:
    ns = _namespace()
    return {
        "raw_files": f"""
CREATE TABLE IF NOT EXISTS {ns}.raw_files (
  repo STRING, path STRING, commit STRING, lang STRING, content STRING)
USING iceberg PARTITIONED BY (bucket(256, repo))""",
        "pages": f"""
CREATE TABLE IF NOT EXISTS {ns}.pages (
  doc_id BIGINT, repo STRING, path STRING, commit STRING, status STRING,
  title STRING, markdown STRING, content_sha256 STRING, md_chars INT,
  authors ARRAY<STRUCT<username: STRING, display_name: STRING>>,
  attachments ARRAY<STRUCT<filename: STRING, media_type: STRING,
                           size_bytes: BIGINT, sha256: STRING>>)
USING iceberg PARTITIONED BY (bucket(64, repo))""",
        "edges": f"""
CREATE TABLE IF NOT EXISTS {ns}.edges (
  subj STRING, pred STRING, obj STRING, subj_type STRING, obj_type STRING,
  confidence DOUBLE, n_sources BIGINT, repo STRING)
USING iceberg PARTITIONED BY (pred)""",
        "nodes": f"""
CREATE TABLE IF NOT EXISTS {ns}.nodes (
  node_id STRING, node_type STRING, canonical_name STRING,
  aliases ARRAY<STRING>, repo STRING)
USING iceberg PARTITIONED BY (node_type)""",
        "mentions": f"""
CREATE TABLE IF NOT EXISTS {ns}.mentions (
  doc_id BIGINT, kind STRING, surface STRING, target_raw STRING,
  pos INT, context STRING)
USING iceberg PARTITIONED BY (kind)""",
    }


def ensure_tables(spark: SparkSession) -> None:
    """Create the Iceberg tables (no-op in the parquet-backed sandbox)."""
    if _use_iceberg():
        for ddl in iceberg_ddl().values():
            spark.sql(ddl)


def load_table(
    spark: SparkSession, warehouse: str, name: str, schema: StructType | None = None
) -> DataFrame:
    """Read a stage table. With a known `schema` (see `stored_schema`)
    the parquet backend skips schema inference, which is a Spark job of
    its own; Iceberg takes the schema from its catalog either way."""
    if _use_iceberg():
        return spark.read.table(f"{_namespace()}.{name}")
    if schema is not None:
        return spark.read.schema(schema).parquet(os.path.join(warehouse, name))
    return spark.read.parquet(os.path.join(warehouse, name))


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(t.keyType, _nullable(t.valueType), True)
    return t


def stored_schema(schema: StructType, partition_by: list[str] | None = None) -> StructType:
    """The schema a table `write_table` wrote from a DataFrame of `schema`
    reads back as: Spark's file writers store every field nullable, and
    the partition columns come last. (Partition values are typed from the
    directory names on inference; the partition columns here — pred,
    kind, node_type — are strings either way.)"""
    parts = partition_by or []
    fields = [f for f in schema if f.name not in parts] + [schema[c] for c in parts]
    return _nullable(StructType(fields))


_TASK = re.compile(r"^(?:part-)?(\d+)-")


def write_task(file: str) -> int:
    """The index of the write task that wrote a data file: parquet names
    its files `part-NNNNN-...`, Iceberg `NNNNN-<task>-...`."""
    return int(_TASK.match(os.path.basename(file)).group(1))


def table_files(spark: SparkSession, warehouse: str, name: str) -> list[dict]:
    """The data files of a written table, sorted: {"file", "bytes",
    "rows"}. Parquet: the files Spark would read (names not starting with
    `_` or `.`), relative to the table root, with the row count from each
    file's footer, read on the driver with no Spark job; a file without a
    valid footer raises (OSError or ValueError). Iceberg: each data file's
    `record_count`, from the table's `files` metadata table, which reads
    the manifests and no data file."""
    if _use_iceberg():
        rows = (
            spark.read.table(f"{_namespace()}.{name}.files")
            .select("file_path", "file_size_in_bytes", "record_count")
            .collect()
        )
        files = [{"file": r[0], "bytes": r[1], "rows": r[2]} for r in rows]
        return sorted(files, key=lambda f: f["file"])
    import pyarrow.parquet as pq

    root = os.path.join(warehouse, name)
    files = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")):
                continue
            path = os.path.join(d, n)
            files.append(
                {
                    "file": os.path.relpath(path, root),
                    "bytes": os.path.getsize(path),
                    "rows": pq.read_metadata(path).num_rows,
                }
            )
    return sorted(files, key=lambda f: f["file"])


def write_table(
    df: DataFrame,
    warehouse: str,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> str:
    """Write a stage table; returns its path (the checkpoint manifest key)."""
    if _use_iceberg():
        ns = _namespace()
        writer = df.writeTo(f"{ns}.{name}")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return f"{ns}.{name}"
    path = os.path.join(warehouse, name)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


# -------------------------------------------------------- incremental merge

MERGE_EDGES_SQL = """
MERGE INTO {ns}.edges t
USING edges_delta d
ON t.subj = d.subj AND t.pred = d.pred AND t.obj = d.obj
WHEN MATCHED THEN UPDATE SET
  t.n_sources = t.n_sources + d.n_sources,
  t.confidence = greatest(t.confidence, d.confidence)
WHEN NOT MATCHED THEN INSERT *
"""


def merge_edges_delta(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Upsert semantics of MERGE_EDGES_SQL as a DataFrame transform — the
    parquet-backend twin (and the definition the Iceberg path must match).

    Keyed on (subj, pred, obj): matched rows ADD n_sources (edge weights are
    source counts, so merging the edges of corpus A with the edge-delta of
    NEW corpus B equals re-aggregating A∪B from scratch — the exact property
    tests pin) and keep the max confidence; unmatched delta rows insert.
    Re-converted (changed) documents are NOT addable — they need doc-level
    retraction first, i.e. per-doc_id source tracking; this operator covers
    the append-only incremental case the streaming triples sink produces.

    One shuffle per side on the merge key; no broadcast (both sides can be
    huge at 10^12-file scale — this is the classic SMJ-shaped upsert, and
    Iceberg executes its MERGE the same way)."""
    on = ["subj", "pred", "obj"]
    e = existing.alias("t")
    d = delta.alias("d")
    merged = e.join(d, on, "full_outer")
    keep = [c for c in existing.columns if c not in on + ["n_sources", "confidence"]]
    from pyspark.sql import functions as F

    return merged.select(
        *on,
        *[F.coalesce(f"t.{c}", f"d.{c}").alias(c) for c in keep],
        (
            F.coalesce(F.col("t.n_sources"), F.lit(0))
            + F.coalesce(F.col("d.n_sources"), F.lit(0))
        ).alias("n_sources"),
        F.greatest(
            F.coalesce(F.col("t.confidence"), F.lit(0.0)),
            F.coalesce(F.col("d.confidence"), F.lit(0.0)),
        ).alias("confidence"),
    ).select(*existing.columns)


def merge_edges(
    spark: SparkSession, warehouse: str, delta: DataFrame
) -> str:
    """Merge an edge delta into the edges table (Iceberg MERGE INTO on a
    cluster; read-merge-overwrite on the parquet backend)."""
    if _use_iceberg():
        delta.createOrReplaceTempView("edges_delta")
        spark.sql(MERGE_EDGES_SQL.format(ns=_namespace()))
        return f"{_namespace()}.edges"
    return _swap_edges(spark, warehouse, delta, lambda t: merge_edges_delta(t, delta))


def _swap_edges(
    spark: SparkSession,
    warehouse: str,
    delta: DataFrame,
    merge: Callable[[DataFrame], DataFrame],
) -> str:
    """The parquet edges table replaced by `merge(existing)`, or by `delta`
    when there is no table yet: staged, then swapped in by two renames.

    A missing edges dir is NOT automatically "first delta": a crash in the
    window between the two swap renames leaves the previous table parked
    at edges.bak-* with no final dir, and bootstrapping would silently
    shrink the table to just this delta. The parked table is restored
    first, and the merge goes on as normal."""
    final = os.path.join(warehouse, "edges")
    if not os.path.exists(final):
        remnants = sorted(glob.glob(f"{final}.bak-*"), key=os.path.getmtime)
        if not remnants:
            # genuinely first delta: the delta IS the table
            delta.write.mode("overwrite").partitionBy("pred").parquet(final)
            return final
        os.rename(remnants[-1], final)
        for r in remnants[:-1]:  # older orphans, already superseded
            shutil.rmtree(r)
        for s in glob.glob(os.path.join(warehouse, "edges_merge_*")):
            shutil.rmtree(s)  # incomplete/unswapped staging writes
    merged = merge(load_table(spark, warehouse, "edges"))
    # parquet cannot rewrite in place while reading — stage then swap.
    # Swap order: final -> backup, staging -> final, drop backup.
    staging = tempfile.mkdtemp(prefix="edges_merge_", dir=warehouse)
    merged.write.mode("overwrite").partitionBy("pred").parquet(staging)
    backup = f"{final}.bak-{os.path.basename(staging)}"
    os.rename(final, backup)
    try:
        os.rename(staging, final)
    except OSError:
        os.rename(backup, final)  # roll back: old table restored
        raise
    shutil.rmtree(backup)
    return final


# ------------------------------------------------- re-export retraction

# Cluster-side form (KG_USE_ICEBERG=1): one transaction-worth of two
# statements — retract every edge ASSERTED BY a re-exported canonical
# subject, then append that subject set's fresh extraction.  Iceberg's
# MERGE cannot delete target rows absent from the source relation, so
# re-export is canonically DELETE + APPEND (both statements partition-prune
# on pred and use the subj equality pushed into the delete scan).
RETRACT_REEXPORTED_SQL = """
DELETE FROM {ns}.edges
WHERE subj IN (SELECT subj FROM reexported_subjects)
"""

# DELETE + APPEND is two Iceberg commits, not one atomic swap: a failure
# between them would otherwise durably lose every edge for the re-exported
# subjects. reexport_merge records the current snapshot id before the DELETE
# and rolls back to it if the append does not commit — the Iceberg twin of
# the parquet path's bak-restore discipline. After a hard driver crash (no
# in-process handler left), recover by hand: read the pre-retraction
# snapshot id from {ns}.edges.history and run the same CALL.
CURRENT_SNAPSHOT_SQL = """
SELECT snapshot_id FROM {ns}.edges.history
WHERE is_current_ancestor ORDER BY made_current_at DESC LIMIT 1
"""
ROLLBACK_SNAPSHOT_SQL = """
CALL {catalog}.system.rollback_to_snapshot('{ns}.edges', {snapshot_id})
"""


def _catalog() -> str:
    # catalog half of the CALL procedure target — the namespace knob may or
    # may not embed it, so it resolves independently (and at call time,
    # like _namespace)
    return os.environ.get("KG_CATALOG", "spark_catalog")


def reexport_merge_delta(
    existing: DataFrame, delta: DataFrame, reexported_subjects: DataFrame
) -> DataFrame:
    """Re-export semantics as a DataFrame transform (the parquet twin and
    the definition the Iceberg DELETE+APPEND path must match).

    A Confluence space re-export supersedes every edge its pages asserted
    before: upsert semantics (merge_edges_delta) would double-count
    n_sources and keep stale links a page no longer makes.  Contract:
    `delta` is the COMPLETE fresh extraction for the canonical subjects in
    `reexported_subjects` (a `subj` column; the set must be closed over
    alias groups — re-export whole spaces, which is what the reference's
    per-space export produces), and the result equals a from-scratch
    rebuild with the new content:

        reexport_merge_delta(build(old), extract(new_B), subjects(B))
            == build(old \\ B ∪ new_B)

    — the property the pipeline-level test pins exactly.

    Scale shape: ONE subj-keyed anti join (broadcastable when the
    re-exported space list is small, the common case) + a union; no key
    wider than the edge key, no driver collect."""
    retained = existing.join(
        reexported_subjects.select("subj").distinct(), "subj", "anti"
    )
    return retained.unionByName(delta.select(*existing.columns))


def reexport_merge(
    spark: SparkSession,
    warehouse: str,
    delta: DataFrame,
    reexported_subjects: DataFrame,
) -> str:
    """Apply a re-export (retraction + fresh edges) to the edges table:
    DELETE + append on Iceberg, staged read-merge-swap on parquet (the
    merge_edges crash-recovery discipline, including bak-restore)."""
    if _use_iceberg():
        ns = _namespace()
        reexported_subjects.createOrReplaceTempView("reexported_subjects")
        pre = spark.sql(CURRENT_SNAPSHOT_SQL.format(ns=ns)).collect()
        pre_snapshot = pre[0][0] if pre else None
        spark.sql(RETRACT_REEXPORTED_SQL.format(ns=ns))
        try:
            delta.writeTo(f"{ns}.edges").append()
        except BaseException:
            if pre_snapshot is not None:
                spark.sql(
                    ROLLBACK_SNAPSHOT_SQL.format(
                        catalog=_catalog(), ns=ns, snapshot_id=pre_snapshot
                    )
                )
            raise
        return f"{ns}.edges"
    return _swap_edges(
        spark,
        warehouse,
        delta,
        lambda t: reexport_merge_delta(t, delta, reexported_subjects),
    )
