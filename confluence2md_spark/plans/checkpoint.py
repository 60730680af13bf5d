"""K2 — stage-granular checkpoint/resume.

Each completed stage writes its output table plus a manifest row
(stage, path, rows, schema, complete, ts). On restart with the same run_id,
a completed stage is read back instead of recomputed — Spark has no
cross-job resume, so this lives at the orchestration layer (SURVEY.md §4.3)
— but only if the table still reads back with the manifest's row count and
schema; the runner recomputes it otherwise. Manifests are written
atomically (tmp + rename). On a cluster the warehouse dir is object storage
and the same protocol applies (rename -> conditional put).
"""

from __future__ import annotations

import json
import os
import time


class CheckpointManager:
    def __init__(self, warehouse: str, run_id: str):
        self.warehouse = warehouse
        self.run_id = run_id
        self.dir = os.path.join(warehouse, "_manifests", run_id)
        os.makedirs(self.dir, exist_ok=True)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def completed(self, stage: str) -> dict | None:
        """The manifest of a completed stage, or None."""
        p = self._manifest(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            m = json.load(f)
        return m if m.get("complete") else None

    def mark_complete(self, stage: str, path: str, rows: int, schema: str) -> None:
        """`rows` and `schema` (a `StructType.json()`) are what the table
        must read back as for a later run to resume from it."""
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "path": path,
                    "rows": rows,
                    "schema": schema,
                    "complete": True,
                    "ts": time.time(),
                },
                f,
            )
        os.replace(tmp, self._manifest(stage))
