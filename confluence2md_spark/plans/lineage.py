"""K3 — per-partition lineage + metrics (north_rule requirement).

Per stage we record one row per physical output partition:
(run_id, stage, partition_id, rows_out, wall_ms, status, ts). The census is
a JVM-side `groupBy(spark_partition_id())` — a map-side-combined count, no
extra Python. Stage wall time is measured around the stage's action by the
pipeline driver and stamped onto every partition row of that stage.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_census(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows_out": r["rows_out"]} for r in rows]


class LineageLog:
    """Append-only JSONL lineage sink (parquet/Iceberg `lineage` table on a
    cluster; JSONL locally keeps it readable and append-atomic)."""

    def __init__(self, warehouse: str, run_id: str):
        self.run_id = run_id
        self.path = os.path.join(warehouse, "_lineage", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)

    def record_stage(self, stage: str, df: DataFrame, wall_ms: float, status: str = "ok") -> int:
        parts = partition_census(df)
        ts = time.time()
        total = 0
        with open(self.path, "a") as f:
            for p in parts:
                total += p["rows_out"]
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
        return total
