"""Structured Streaming surface: stateless batch operators and stateful
stream-only operators drained from a parquet drop directory.

The reference is a batch CLI (no streaming operators exist there —
SURVEY.md §2.J21); this package is the target-side extension that lets the
same per-document transforms run incrementally as new repo exports land.
`drain` is the one source and sink: `drain(spark, RAW_FILES_DDL, drop,
convert_pages, out, ckpt)` appends pages, `incremental_triples` in its
place appends raw triples, and the windowed, sessionize, dedup, join,
near-dup and heavy-hitter operators drain the same way."""

from .incremental import drain, incremental_triples

__all__ = ["drain", "incremental_triples"]
