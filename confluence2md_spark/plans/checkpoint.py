"""K2 — stage-granular checkpoint/resume.

Each completed stage writes its output table plus a manifest row
(stage, path, rows, schema, files, complete, ts), where `files` is the
table's data-file listing — relative name, bytes and footer rows of each
file (`catalog.table_files`). On restart with the same run_id, a completed
stage is read back instead of recomputed — Spark has no cross-job resume,
so this lives at the orchestration layer (SURVEY.md §4.3) — but only if
the table's listing and footers still match the manifest; the table is
then read with the manifest's schema, so a resumed stage runs no Spark
job. A missing, extra, resized or footer-less file makes the runner
recompute the stage. Manifests are written atomically (tmp + rename). On a
cluster the warehouse dir is object storage and the same protocol applies
(rename -> conditional put).
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

    def mark_complete(
        self, stage: str, path: str, files: list[dict], schema: str
    ) -> None:
        """`files` (the table listing) and `schema` (a `StructType.json()`)
        are what a later run verifies and reads the table with."""
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as out:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "path": path,
                    "rows": sum(f["rows"] for f in files),
                    "schema": schema,
                    "files": files,
                    "complete": True,
                    "ts": time.time(),
                },
                out,
            )
        os.replace(tmp, self._manifest(stage))
