"""K3 — per-partition lineage + metrics (north_rule requirement).

Per stage we record one row per output partition:
(run_id, stage, partition_id, rows_out, wall_ms, status, ts). A stage that
writes a table takes its census from the files it wrote, with no Spark
job: one row per write task (the `part-NNNNN` index), rows from the file
footers (`catalog.table_files`). An ephemeral stage, which writes nothing,
counts its checkpoint per partition with a JVM-side
`groupBy(spark_partition_id())` — the job that also fills the checkpoint.
Stage wall time is measured by the pipeline driver, census and manifest
included, and stamped onto every partition row of that stage.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import write_task


def partition_census(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows_out": r["rows_out"]} for r in rows]


def file_census(files: list[dict]) -> list[dict]:
    """Per-write-task rows of a table listing (`catalog.table_files`); a
    task that wrote into several partition directories is one row."""
    rows: dict[int, int] = {}
    for f in files:
        task = write_task(f["file"])
        rows[task] = rows.get(task, 0) + f["rows"]
    return [{"partition_id": t, "rows_out": n} for t, n in sorted(rows.items())]


class LineageLog:
    """Append-only JSONL lineage sink (parquet/Iceberg `lineage` table on a
    cluster; JSONL locally keeps it readable and append-atomic)."""

    def __init__(self, warehouse: str, run_id: str):
        self.run_id = run_id
        self.path = os.path.join(warehouse, "_lineage", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)

    def record_stage(
        self, stage: str, parts: list[dict], wall_ms: float, status: str = "ok"
    ) -> None:
        ts = time.time()
        with open(self.path, "a") as f:
            for p in parts:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "stage": stage,
                            "partition_id": p["partition_id"],
                            "rows_out": p["rows_out"],
                            "wall_ms": round(wall_ms, 1),
                            "status": status,
                            "ts": ts,
                        }
                    )
                    + "\n"
                )
