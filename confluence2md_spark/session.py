"""SparkSession factory with the engine's tuned defaults.

Every knob here is scale-motivated (SURVEY.md §4.3): AQE for runtime
re-planning + skew-join splitting, Arrow for vectorized pandas-UDF transport
(the only Python in the hot path is the MIME->Markdown stage, and it moves in
Arrow batches, never rows), and a shuffle-partition default of one per local
task slot that AQE coalesces downward on small inputs and the caller raises
for cluster runs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(24g, half of physical memory). Local mode is a driver-only JVM:
    its heap IS the whole cluster memory, so it is sized like the
    executors it stands in for (24g: 32 concurrent tasks' hash maps and
    sorts plus cached broadcasts OOM'd at 8g on a 1.28M-doc run) — but
    never past half the machine, or the kernel's OOM killer takes the JVM
    down mid-run. SPARK_GRAFT_DRIVER_MEM overrides it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(24 * 1024, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "24g"


def _local_width(master: str) -> int:
    """Task slots of a `local`, `local[N]` or `local[*]` master; the
    machine's CPU count for any other master."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[(\d+)(?:,\s*\d+)?\]", master)
    return int(m.group(1)) if m else os.cpu_count() or 1


def get_spark(
    app_name: str = "confluence2md-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = (
        master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count() or 1}]"
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE") or _local_width(master)
        )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # MIME documents are ~1-10 KB; 10k rows/batch keeps Arrow batches in
        # the tens of MB — large enough to amortize the JVM<->Python hop,
        # small enough to never blow a Python worker at 100 TB row sizes.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
