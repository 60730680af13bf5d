"""Detect + convert stages (SURVEY.md §2.B/C/D/E/F/G).

* `with_is_confluence_mime` — B1 as a PURE COLUMN EXPRESSION (whole-stage
  codegen, zero Python): the reference predicate scans at most the first 10
  lines (mime.go:17-22,106-126); `split(content, '\\n', 11)` caps the work per
  row no matter how large the document is.
* `convert_pages` — C1-C7 (MIME split + QP/base64 decode), D (entities),
  E (pre-HTML), F (HTML->GFM), G (post-Markdown) fused into ONE `mapInPandas`
  stage = one Arrow round-trip per batch (SURVEY.md §2.J22 porting rule).
  Attachment payload bytes are reduced to sha256 inside the UDF so binary
  bodies never cross a shuffle (SURVEY.md §4.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core import convert_document
from ..core.detect import MIME_HEADER_SCAN_LIMIT

# ---------------------------------------------------------------- B1 detect

def is_confluence_mime_col(content: Column) -> Column:
    """Reference predicate (mime.go:93-126) as a codegen-able expression:
    prefix-match Date:/MIME-Version:, substring-match the Confluence marker,
    all within the first 10 lines."""
    lines = F.slice(F.split(content, "\n", MIME_HEADER_SCAN_LIMIT + 1), 1, MIME_HEADER_SCAN_LIMIT)
    return (
        F.exists(lines, lambda l: l.startswith("Date:"))
        & F.exists(lines, lambda l: l.startswith("MIME-Version:"))
        & F.exists(lines, lambda l: l.contains("Exported From Confluence"))
    )


def output_name_col(path: Column) -> Column:
    """A5 output-name mapping (main.go:260-272): .doc -> .md, '+' -> '-'.
    The reference applies the '+' replacement to the BASENAME only (it works
    on filepath.Base); a '+' in a directory component must survive, so the
    path is split at the last '/' and only the final segment is rewritten."""
    base = F.substring_index(path, "/", -1)
    dirp = F.substr(path, F.lit(1), F.length(path) - F.length(base))
    new_base = F.regexp_replace(F.regexp_replace(base, r"\.doc$", ".md"), r"\+", "-")
    return F.concat(dirp, new_base)


# ------------------------------------------------------------- C-G convert

AUTHOR_TYPE = StructType(
    [
        StructField("username", StringType()),
        StructField("display_name", StringType()),
    ]
)
ATTACHMENT_TYPE = StructType(
    [
        StructField("filename", StringType()),
        StructField("media_type", StringType()),
        StructField("size_bytes", LongType()),
        StructField("sha256", StringType()),
    ]
)

PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("status", StringType()),
        StructField("title", StringType()),
        StructField("markdown", StringType()),
        StructField("content_sha256", StringType()),
        StructField("md_chars", IntegerType()),
        StructField("authors", ArrayType(AUTHOR_TYPE)),
        StructField("attachments", ArrayType(ATTACHMENT_TYPE)),
    ]
)


# Reference parity: 2-minute per-document conversion budget
# (/root/reference/converter/markdown.go:19-20) plus a deterministic size
# cap; over-budget documents land in the over_budget quarantine status and
# the batch keeps going. Env-overridable so operators can tighten/disable
# per deployment (0 disables a guard).
_DEFAULT_TIMEOUT_S = 120.0
_DEFAULT_MAX_BYTES = 64 * 1024 * 1024


def _budgets() -> tuple[float | None, int | None]:
    import os

    t = float(os.environ.get("KG_CONVERT_TIMEOUT_S", _DEFAULT_TIMEOUT_S))
    b = int(os.environ.get("KG_CONVERT_MAX_BYTES", _DEFAULT_MAX_BYTES))
    return (t or None), (b or None)


def _convert_batches(
    batches: Iterator[pd.DataFrame],
    timeout_s: float | None = None,
    max_bytes: int | None = None,
) -> Iterator[pd.DataFrame]:
    if timeout_s is None and max_bytes is None:
        timeout_s, max_bytes = _budgets()  # read on the EXECUTOR, per task
    timeout_s, max_bytes = timeout_s or None, max_bytes or None  # 0 = off
    for pdf in batches:
        out = {k: [] for k in PAGES_SCHEMA.fieldNames()}
        for doc_id, repo, path, commit, content in zip(
            pdf["doc_id"], pdf["repo"], pdf["path"], pdf["commit"], pdf["content"]
        ):
            r = convert_document(
                content or "", max_bytes=max_bytes, timeout_s=timeout_s
            )
            out["doc_id"].append(doc_id)
            out["repo"].append(repo)
            out["path"].append(path)
            out["commit"].append(commit)
            out["status"].append(r.status)
            out["title"].append(r.title)
            out["markdown"].append(r.markdown)
            out["content_sha256"].append(r.content_sha256)
            out["md_chars"].append(len(r.markdown))
            out["authors"].append(
                [{"username": u, "display_name": d} for u, d in r.authors]
            )
            out["attachments"].append(
                [
                    {
                        "filename": fn,
                        "media_type": mt,
                        "size_bytes": sz,
                        "sha256": sha,
                    }
                    for fn, mt, sz, sha in r.attachments
                ]
            )
        yield pd.DataFrame(out)


def convert_pages(
    raw_files: DataFrame,
    prefilter: bool = True,
    num_partitions: int | None = None,
    timeout_s: float | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """raw_files (repo,path,commit,lang,content[,doc_id]) -> pages.

    `prefilter=True` applies the cheap JVM-side B1 predicate BEFORE the
    Python stage so non-Confluence rows (the bulk of a source-code corpus)
    never pay the Arrow hop — the reference's dir-mode prefilter
    (main.go:160-175) expressed as Catalyst filter pushdown.

    `num_partitions` repartitions before the Python stage (a small parquet
    input arrives as one partition and would serialize the UDF onto one
    core). The pipeline passes None: it salts hot repos with
    salted_repartition (plans/skew.py) only when the skew census asks,
    and otherwise keeps the input's layout.

    `timeout_s` / `max_bytes`: per-document conversion budget (reference's
    2-minute pandoc timeout, markdown.go:19-20). Defaults (None, None)
    resolve from KG_CONVERT_TIMEOUT_S / KG_CONVERT_MAX_BYTES env on the
    executor, falling back to 120 s / 64 MiB; over-budget docs land in the
    `over_budget` quarantine status and the batch keeps going.
    """
    df = raw_files
    if "doc_id" not in df.columns:
        # Stable synthetic id at cluster scale: hash of (repo,path,commit).
        df = df.withColumn("doc_id", F.xxhash64("repo", "path", F.col("commit")))
    if prefilter:
        df = df.filter(is_confluence_mime_col(F.col("content")))
    if num_partitions:
        df = df.repartition(num_partitions)
    cols = ["doc_id", "repo", "path", "commit", "content"]
    if timeout_s is None and max_bytes is None:
        fn = _convert_batches  # budgets resolved from env on the executor
    else:
        from functools import partial

        fn = partial(_convert_batches, timeout_s=timeout_s, max_bytes=max_bytes)
    return df.select(*cols).mapInPandas(fn, schema=PAGES_SCHEMA)
