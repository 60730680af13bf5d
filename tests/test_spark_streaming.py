"""Structured Streaming smoke: incremental ingest produces the same pages as
the batch path, and a second drained run picks up only new files."""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from confluence2md_spark.operators.convert import convert_pages
from confluence2md_spark.sources.corpus import synth_raw_files
from confluence2md_spark.streaming import drain, incremental_triples
from confluence2md_spark.streaming.incremental import (
    DOCS_DDL,
    EVENTS_DDL,
    RAW_FILES_DDL,
)


def test_incremental_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "drop")
    out = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    raw = synth_raw_files(spark, sf_dir)
    first = raw.filter("doc_id < 100")
    first.write.mode("overwrite").parquet(src)

    q = drain(spark, RAW_FILES_DDL, src, convert_pages, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # batch-equivalent: pages for confluence rows among doc_id < 100
    want = convert_pages(first).select("doc_id", "status", "title").collect()
    got_map = {r["doc_id"]: (r["status"], r["title"]) for r in got.collect()}
    assert len(got_map) == len(want)
    for r in want:
        assert got_map[r["doc_id"]] == (r["status"], r["title"])

    # incremental: append more files, drain again -> only new docs added
    raw.filter("doc_id >= 100 AND doc_id < 150").write.mode("append").parquet(src)
    q2 = drain(spark, RAW_FILES_DDL, src, convert_pages, out, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out)
    new_ids = {r["doc_id"] for r in got2.collect()} - set(got_map)
    assert new_ids and all(100 <= i < 150 for i in new_ids)


def test_incremental_triples_match_batch(spark, sf_dir, tmp_path):
    """Streaming triple extraction = batch triple extraction on the same docs."""
    from confluence2md_spark.operators.convert import convert_pages
    from confluence2md_spark.operators.triples import extract_all_triples
    from confluence2md_spark.sources.corpus import synth_raw_files

    src = str(tmp_path / "drop")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    raw = synth_raw_files(spark, sf_dir).filter("doc_id < 80")
    raw.write.mode("overwrite").parquet(src)

    q = drain(spark, RAW_FILES_DDL, src, incremental_triples, out, ckpt)
    q.awaitTermination(120)

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in extract_all_triples(convert_pages(raw)).collect()
    }
    assert got == want and len(want) > 0


def test_windowed_counts_respect_watermark(spark, tmp_path):
    """Append-mode windowed agg: a window is emitted only after the
    watermark passes its end, and late-but-inside-delay events count."""
    from confluence2md_spark.streaming.incremental import windowed_event_counts

    counts = partial(windowed_event_counts, window="1 hour", watermark_delay="2 hours")

    src = str(tmp_path / "ev")
    out = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")

    def drop(rows, mode):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).write.mode(mode).parquet(src)

    from datetime import datetime as dt

    # batch 1: two events in hour 10 -> watermark ends at 10:30-2h, window
    # [10:00,11:00) not finalized, nothing emitted yet
    drop(
        [(1, dt(2025, 1, 1, 10, 0), 1, "click", 1.0, "{}"),
         (2, dt(2025, 1, 1, 10, 30), 1, "click", 1.0, "{}")],
        "overwrite",
    )
    q = drain(spark, EVENTS_DDL, src, counts, out, ckpt)
    q.awaitTermination(120)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")] if os.path.isdir(out) else []
    n0 = spark.read.parquet(out).count() if files else 0
    assert n0 == 0

    # batch 2: a LATE event still inside the delay joins hour 10; an event
    # at 14:00 pushes the watermark to 12:00 > 11:00 -> hour-10 window emits
    drop(
        [(3, dt(2025, 1, 1, 10, 45), 2, "click", 1.0, "{}"),
         (4, dt(2025, 1, 1, 14, 0), 1, "view", 1.0, "{}")],
        "append",
    )
    q2 = drain(spark, EVENTS_DDL, src, counts, out, ckpt)
    q2.awaitTermination(120)
    rows = {(r["window_start"].hour, r["event_type"]): r["n"] for r in spark.read.parquet(out).collect()}
    assert rows == {(10, "click"): 3}  # late event counted; 14:00 window still open


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState: sessions close across micro-batches; the
    open session survives in state until a later event closes it."""
    from confluence2md_spark.streaming.incremental import streaming_sessionize

    sessions = partial(streaming_sessionize, gap_seconds=1800)

    src = str(tmp_path / "ev")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    from datetime import datetime as dt

    def drop(rows, mode):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).write.mode(mode).parquet(src)

    # batch 1: user 1 has a 3-event session; no later event -> stays OPEN
    drop(
        [(1, dt(2025, 1, 1, 9, 0), 1, "a", 1.0, "{}"),
         (2, dt(2025, 1, 1, 9, 10), 1, "a", 1.0, "{}"),
         (3, dt(2025, 1, 1, 9, 20), 1, "a", 1.0, "{}")],
        "overwrite",
    )
    q = drain(spark, EVENTS_DDL, src, sessions, out, ckpt)
    q.awaitTermination(120)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")] if os.path.isdir(out) else []
    assert (spark.read.parquet(out).count() if files else 0) == 0

    # batch 2: a gap-crossing event closes session 1 (3 events, 09:00-09:20)
    drop([(4, dt(2025, 1, 1, 12, 0), 1, "a", 1.0, "{}")], "append")
    q2 = drain(spark, EVENTS_DDL, src, sessions, out, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_events"] == 3
    assert r["session_start"].hour == 9 and r["session_end"].minute == 20


def test_streaming_sessionize_late_event_merges_into_open_session(spark, tmp_path):
    """A late event (inside the watermark) arriving in a LATER micro-batch
    must merge into the open session without regressing session_end
    (ADVICE r2: the old fold let last_ts regress, then split the session)."""
    from confluence2md_spark.streaming.incremental import streaming_sessionize

    sessions = partial(streaming_sessionize, gap_seconds=1800)

    src = str(tmp_path / "ev")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    from datetime import datetime as dt

    def drop(rows, mode):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).write.mode(mode).parquet(src)

    # batch 1: open session 09:00 .. 09:20
    drop(
        [(1, dt(2025, 1, 1, 9, 0), 1, "a", 1.0, "{}"),
         (2, dt(2025, 1, 1, 9, 20), 1, "a", 1.0, "{}")],
        "overwrite",
    )
    drain(spark, EVENTS_DDL, src, sessions, out, ckpt).awaitTermination(120)

    # batch 2: LATE event at 09:10 (inside the open session's span) plus a
    # same-batch 09:25 extension. Old code: last_ts regressed to 09:10, then
    # 09:25 - 09:10 < gap keeps going but session_end bookkeeping is wrong;
    # worse orderings split the session.
    drop(
        [(3, dt(2025, 1, 1, 9, 10), 1, "a", 1.0, "{}"),
         (4, dt(2025, 1, 1, 9, 25), 1, "a", 1.0, "{}")],
        "append",
    )
    drain(spark, EVENTS_DDL, src, sessions, out, ckpt).awaitTermination(120)

    # batch 3: gap-crossing event closes the session -> ONE session with all
    # 4 events, end = the true max ts 09:25 (matches the batch sessionizer
    # over the union of drops)
    drop([(5, dt(2025, 1, 1, 12, 0), 1, "a", 1.0, "{}")], "append")
    drain(spark, EVENTS_DDL, src, sessions, out, ckpt).awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_events"] == 4
    assert (r["session_start"].hour, r["session_start"].minute) == (9, 0)
    assert (r["session_end"].hour, r["session_end"].minute) == (9, 25)


def test_streaming_sessionize_coalesces_too_old_run(spark, tmp_path):
    """Several too-old late events within gap_seconds of each other in one
    batch must emit as ONE late session, as batch semantics would group
    them (ADVICE r3: each was emitted as its own singleton); a too-old
    event beyond the gap still starts its own late session."""
    from confluence2md_spark.streaming.incremental import streaming_sessionize

    sessions = partial(streaming_sessionize, gap_seconds=1800)

    src = str(tmp_path / "ev")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    from datetime import datetime as dt

    def drop(rows, mode):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).write.mode(mode).parquet(src)

    # batch 1: open session starts at 12:00
    drop([(1, dt(2025, 1, 1, 12, 0), 1, "a", 1.0, "{}")], "overwrite")
    drain(spark, EVENTS_DDL, src, sessions, out, ckpt).awaitTermination(120)

    # batch 2: three too-old events — 08:00 and 08:20 are within the gap of
    # each other (one late session), 05:00 is isolated (its own session);
    # plus an in-gap extension of the open session at 12:10.
    drop(
        [(2, dt(2025, 1, 1, 8, 0), 1, "a", 1.0, "{}"),
         (3, dt(2025, 1, 1, 8, 20), 1, "a", 1.0, "{}"),
         (4, dt(2025, 1, 1, 5, 0), 1, "a", 1.0, "{}"),
         (5, dt(2025, 1, 1, 12, 10), 1, "a", 1.0, "{}")],
        "append",
    )
    drain(spark, EVENTS_DDL, src, sessions, out, ckpt).awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    got = {
        ((r["session_start"].hour, r["session_start"].minute),
         (r["session_end"].hour, r["session_end"].minute), r["n_events"])
        for r in rows
    }
    assert got == {((5, 0), (5, 0), 1), ((8, 0), (8, 20), 2)}

    # batch 3: close the open session — it kept both its events
    drop([(6, dt(2025, 1, 1, 18, 0), 1, "a", 1.0, "{}")], "append")
    drain(spark, EVENTS_DDL, src, sessions, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    closed = [r for r in rows if r["session_start"].hour == 12]
    assert len(closed) == 1 and closed[0]["n_events"] == 2


def test_streaming_dedup_matches_batch_survivor_set(spark, sf_dir, tmp_path):
    """Stream-drained exact-dedup survivors == the batch survivor CONTENT
    set on the same drops, and cross-batch duplicates are suppressed by
    state (VERDICT r2 item 6)."""
    from confluence2md_spark.streaming.incremental import streaming_exact_dedup

    src = str(tmp_path / "docs")
    out = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id < 300").write.mode("overwrite").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_exact_dedup, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # batch 2: remaining docs PLUS a re-drop of some batch-1 docs — the
    # re-dropped contents are already in state and must not re-emit
    docs.filter("doc_id >= 300").write.mode("append").parquet(src)
    docs.filter("doc_id < 50").withColumn(
        "doc_id", F.col("doc_id") + 10_000
    ).write.mode("append").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_exact_dedup, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out)
    batch_contents = {
        r["h"] for r in docs.select(F.xxhash64("text").alias("h")).distinct().collect()
    }
    stream_contents = {r["content_hash"] for r in got.collect()}
    assert stream_contents == batch_contents
    assert got.count() == len(batch_contents)  # exactly one survivor each
    assert n1 <= len(batch_contents)
    # state is (hash, len): no text column duplication concerns — but the
    # surviving rows still carry the original text for downstream use
    assert "text" in got.columns


def test_streaming_dedup_watermark_variant_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: duplicates inside the delay are
    suppressed; the op stays append-mode and drains cleanly."""
    from confluence2md_spark.streaming.incremental import streaming_exact_dedup

    src = str(tmp_path / "docs")
    out = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")
    from datetime import datetime as dt

    rows = [
        (1, "same content", dt(2025, 1, 1, 10, 0)),
        (2, "same content", dt(2025, 1, 1, 10, 5)),   # dup inside delay
        (3, "other content", dt(2025, 1, 1, 10, 10)),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, ts timestamp").write.mode(
        "overwrite"
    ).parquet(src)
    q = drain(
        spark,
        "doc_id long, text string, ts timestamp",
        src,
        partial(streaming_exact_dedup, watermark_delay="1 hour"),
        out,
        ckpt,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {r["content_hash"] for r in got.collect()} == {
        r["h"]
        for r in spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
        .select(F.xxhash64("text").alias("h"))
        .distinct()
        .collect()
    }


def test_view_attribution_matches_batch_interval_join(spark, tmp_path):
    """Stream-stream interval join drained over two batches equals the batch
    interval join on the same rows: all (purchase, view) same-user pairs
    with view_ts in (purchase_ts - 1h, purchase_ts]."""
    from datetime import datetime as dt

    from confluence2md_spark.streaming.incremental import streaming_view_attribution

    src = str(tmp_path / "ev")
    out = str(tmp_path / "attr")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    batch1 = [
        (1, dt(2025, 1, 1, 10, 0), 1, "view", 0.0, "{}"),
        (2, dt(2025, 1, 1, 10, 30), 1, "purchase", 9.0, "{}"),   # <- view 1
        (3, dt(2025, 1, 1, 10, 40), 2, "view", 0.0, "{}"),
        (4, dt(2025, 1, 1, 12, 0), 1, "purchase", 9.0, "{}"),    # view 1 too old
    ]
    batch2 = [
        (5, dt(2025, 1, 1, 12, 10), 2, "purchase", 9.0, "{}"),   # view 3 too old
        (6, dt(2025, 1, 1, 12, 20), 2, "view", 0.0, "{}"),
        (7, dt(2025, 1, 1, 12, 40), 2, "purchase", 9.0, "{}"),   # <- view 6
        (8, dt(2025, 1, 1, 12, 40), 1, "view", 0.0, "{}"),
        (9, dt(2025, 1, 1, 12, 40), 1, "purchase", 9.0, "{}"),   # <- view 8 (equal ts)
        (10, dt(2025, 1, 1, 11, 20), 2, "purchase", 9.0, "{}"),  # <- view 3 CROSS-batch
    ]
    spark.createDataFrame(batch1, schema).write.mode("overwrite").parquet(src)
    drain(spark, EVENTS_DDL, src, streaming_view_attribution, out, ckpt).awaitTermination(120)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    drain(spark, EVENTS_DDL, src, streaming_view_attribution, out, ckpt).awaitTermination(120)

    import os

    got = (
        {(r["purchase_id"], r["view_id"], r["gap_us"]) for r in spark.read.parquet(out).collect()}
        if os.path.isdir(out)
        else set()
    )

    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    all_rows.createOrReplaceTempView("ev_all")
    expect = {
        (r["purchase_id"], r["view_id"], r["gap_us"])
        for r in spark.sql(
            """
            SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                   timestampdiff(MICROSECOND, v.ts, p.ts) AS gap_us
            FROM ev_all p JOIN ev_all v
              ON p.user_id = v.user_id AND p.event_type = 'purchase'
             AND v.event_type = 'view' AND v.ts <= p.ts
             AND v.ts > p.ts - interval 1 hour
            """
        ).collect()
    }
    assert expect == {
        (2, 1, 1800000000),
        (7, 6, 1200000000),
        (9, 8, 0),
        (10, 3, 2400000000),  # batch-2 purchase matched a batch-1 view
    }
    assert got == expect


def test_streaming_pii_and_quality_match_batch(spark, tmp_path):
    """The curation signal operators are stateless column transforms, so
    they lift onto a stream unchanged (drain the operator itself into an
    append sink) and emit the same rows as the batch pass — the
    composition a production pipeline uses to score documents on ingest."""
    from confluence2md_spark.functions.textstats import quality_stats
    from confluence2md_spark.operators.pii import pii_signals

    src = str(tmp_path / "docs")
    rows = [
        (0, "mail bob@x.org the a and call 555-123-4567 words here"),
        (1, "plain prose with the and a of stopwords spread around"),
        (2, "host 10.0.0.1 dense"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.write.mode("overwrite").parquet(src)

    def streamed(op, name):
        out, ckpt = str(tmp_path / name), str(tmp_path / f"{name}_ckpt")
        drain(spark, "doc_id bigint, text string", src, op, out, ckpt).awaitTermination(120)
        return spark.read.parquet(out)

    cols = ["doc_id", "n_email", "n_phone", "n_ipv4", "red_sha"]
    got = {tuple(r) for r in streamed(pii_signals, "pii").select(*cols).collect()}
    want = {tuple(r) for r in pii_signals(docs).select(*cols).collect()}
    assert got == want and len(got) == 3
    # quality signals lift the same way
    qcols = quality_stats(docs).columns
    qgot = {tuple(r) for r in streamed(quality_stats, "quality").select(*qcols).collect()}
    assert qgot == {tuple(r) for r in quality_stats(docs).collect()}
    assert len(qgot) == 3


def test_streaming_paragraph_dedup_matches_batch_content_set(spark, sf_dir, tmp_path):
    """Stream-drained kept-paragraph ledger: one occurrence per DISTINCT
    paragraph corpus-wide, equal to the batch paragraph_dedup survivor
    CONTENT set, with cross-batch boilerplate suppressed by state."""
    from confluence2md_spark.operators.paradedup import (
        synthetic_paragraph_expr_sql,
    )
    from confluence2md_spark.streaming.incremental import streaming_paragraph_dedup

    src = str(tmp_path / "pdocs")
    out = str(tmp_path / "paras")
    ckpt = str(tmp_path / "pckpt")

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.expr(synthetic_paragraph_expr_sql()).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    docs.filter("doc_id < 250").write.mode("overwrite").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_paragraph_dedup, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # batch 2: the rest (same boilerplate footer/header paragraphs — state
    # must suppress them) plus a full re-drop of some batch-1 docs
    docs.filter("doc_id >= 250").write.mode("append").parquet(src)
    docs.filter("doc_id < 40").withColumn(
        "doc_id", F.col("doc_id") + 50_000
    ).write.mode("append").parquet(src)
    drain(spark, DOCS_DDL, src, streaming_paragraph_dedup, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out)
    batch_paras = {
        r["h"]
        for r in docs.select(
            F.explode(F.split("text", "\n")).alias("p")
        ).select(F.xxhash64("p").alias("h")).distinct().collect()
    }
    stream_paras = [r["para_hash"] for r in got.collect()]
    assert set(stream_paras) == batch_paras
    assert len(stream_paras) == len(batch_paras)  # exactly one ledger row each
    assert n1 <= len(batch_paras)
    # the ledger carries enough to rebuild: occurrence coords + the text
    assert {"doc_id", "idx", "para"} <= set(got.columns)


def test_drain_is_the_only_stream_source_and_sink():
    """`readStream` / `writeStream` are read in one module only — the drain
    in streaming/incremental.py; every other streaming job, in the package
    or the tests, passes its operator to `drain`."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    found = set()
    for d in ("confluence2md_spark", "tests"):
        for f in sorted((root / d).rglob("*.py")):
            for node in ast.walk(ast.parse(f.read_text())):
                if isinstance(node, ast.Attribute) and node.attr in (
                    "readStream",
                    "writeStream",
                ):
                    found.add((f.relative_to(root).as_posix(), node.attr))
    assert found == {
        ("confluence2md_spark/streaming/incremental.py", "readStream"),
        ("confluence2md_spark/streaming/incremental.py", "writeStream"),
    }
