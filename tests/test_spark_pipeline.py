"""End-to-end pipeline tests: closed-form stage counts, resume identity,
lineage population (SURVEY.md §5.2 items 4-5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from confluence2md_spark.plans.pipeline import build_kg, pages_stage
from confluence2md_spark.sources.catalog import load_table
from confluence2md_spark.sources.corpus import synth_raw_files


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("kgwh"))
    raw = synth_raw_files(spark, sf_dir)
    res = build_kg(spark, raw, wh, run_id="t1")
    return wh, res


def test_stage_counts_closed_form(built):
    _, res = built
    # 500 docs: 445 pages + 9 quarantined mime rows; triples per formulas.
    assert res.stage_rows["pages"] == 454
    assert res.stage_rows["triples_raw"] == 890 + 1037 + 445 + 185
    assert res.stage_rows["canon_map"] == 445
    assert res.stage_rows["nodes"] == 1024


def test_triple_pred_counts(spark, built):
    wh, _ = built
    got = {
        r["pred"]: r["count"]
        for r in spark.read.parquet(f"{wh}/triples_raw").groupBy("pred").count().collect()
    }
    assert got == {
        "links_to": 890,
        "contains_heading": 1037,
        "authored_by": 445,
        "has_attachment": 185,
    }


def test_canonicalization_merges_dup_titles(spark, built):
    wh, _ = built
    cmap = spark.read.parquet(f"{wh}/canon_map")
    merged = cmap.filter("doc_id <> canon_id").collect()
    assert len(merged) == 39  # closed-form: (10k, 10k+7) page pairs
    for r in merged:
        assert r["doc_id"] % 10 == 7 and r["canon_id"] == r["doc_id"] - 7


def test_resume_is_identity(spark, sf_dir, built):
    wh, _ = built
    raw = synth_raw_files(spark, sf_dir)
    res2 = build_kg(spark, raw, wh, run_id="t1")
    assert set(res2.resumed_stages) == {"pages", "mentions", "triples_raw", "canon_map", "edges", "nodes"}


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs `fn()` runs, counted under a job group of the test's own
    (the previous group is restored after)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_runs_no_spark_job(spark, sf_dir, built):
    """Resume verifies each table from its file listing and footers and
    reads it with the manifest's schema: metadata only."""
    wh, _ = built
    raw = synth_raw_files(spark, sf_dir)
    out = {}
    jobs = _jobs_in_group(
        spark, "resume-t1", lambda: out.update(res=build_kg(spark, raw, wh, run_id="t1"))
    )
    assert len(out["res"].resumed_stages) == 6
    assert jobs == 0


def test_partial_resume_recomputes_only_missing(spark, sf_dir, built):
    wh, _ = built
    before = spark.read.parquet(f"{wh}/edges")
    before_rows = {tuple(r) for r in before.select("subj", "pred", "obj").collect()}
    # Invalidate edges+nodes manifests: those stages must recompute, earlier
    # stages must be read back, and the recomputed output must be identical.
    for stage in ("edges", "nodes"):
        os.remove(os.path.join(wh, "_manifests", "t1", f"{stage}.json"))
    raw = synth_raw_files(spark, sf_dir)
    res = build_kg(spark, raw, wh, run_id="t1")
    assert set(res.resumed_stages) == {"pages", "mentions", "triples_raw", "canon_map"}
    after = spark.read.parquet(f"{wh}/edges")
    after_rows = {tuple(r) for r in after.select("subj", "pred", "obj").collect()}
    assert before_rows == after_rows


def _lineage(wh: str, run_id: str) -> list[dict]:
    with open(os.path.join(wh, "_lineage", f"{run_id}.jsonl")) as f:
        return [json.loads(line) for line in f]


def _edge_set(spark, wh: str) -> set:
    edges = spark.read.parquet(os.path.join(wh, "edges"))
    return {tuple(r) for r in edges.select("subj", "pred", "obj").collect()}


@pytest.mark.parametrize("fault", ["deleted", "garbage", "reencoded"])
def test_resume_recomputes_a_damaged_table(spark, sf_dir, built, fault):
    """Under a complete manifest, an edges table that lost a part file,
    holds an unreadable one, or holds one with the same rows but other
    bytes (re-encoded with another compression) is recomputed, not read
    back."""
    wh, _ = built
    before = _edge_set(spark, wh)
    parts = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(wh, "edges"))
        for f in files
        if f.startswith("part-")
    )
    if fault == "deleted":
        os.remove(parts[0])
    elif fault == "garbage":
        with open(parts[0], "wb") as f:
            f.write(b"not a parquet file\n" * 64)
    else:
        import pyarrow.parquet as pq

        size = os.path.getsize(parts[0])
        table = pq.ParquetFile(parts[0]).read()
        pq.write_table(table, parts[0], compression="gzip")
        assert pq.read_metadata(parts[0]).num_rows == table.num_rows
        assert os.path.getsize(parts[0]) != size
        # an object store keeps no Hadoop `.crc` sidecar: the manifest's
        # listing, not the local file system's checksum, must catch this
        d, name = os.path.split(parts[0])
        os.remove(os.path.join(d, f".{name}.crc"))
    raw = synth_raw_files(spark, sf_dir)
    res = build_kg(spark, raw, wh, run_id="t1")
    assert "edges" not in res.resumed_stages
    assert "pages" in res.resumed_stages
    assert _edge_set(spark, wh) == before


def test_lineage_populated(built):
    wh, res = built
    path = os.path.join(wh, "_lineage", "t1.jsonl")
    assert os.path.exists(path)
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    stages = {r["stage"] for r in rows}
    assert stages == {"pages", "mentions", "triples_raw", "canon_map", "edges", "nodes"}
    per_stage = {}
    for r in rows:
        per_stage.setdefault(r["stage"], 0)
        per_stage[r["stage"]] += r["rows_out"]
        assert r["wall_ms"] >= 0 and r["partition_id"] >= 0
    assert per_stage["pages"] == res.stage_rows["pages"]


def test_sink_manifests_record_the_read_schema(spark, built):
    """A manifest's schema, which later runs read the table with, is the
    schema Spark infers for the written table; its file list sums to the
    stage's rows."""
    wh, res = built
    for name, rows in res.stage_rows.items():
        with open(os.path.join(wh, "_manifests", "t1", f"{name}.json")) as f:
            manifest = json.load(f)
        assert manifest["schema"] == load_table(spark, wh, name).schema.json()
        assert manifest["rows"] == sum(p["rows"] for p in manifest["files"]) == rows


@pytest.mark.parametrize(
    "mode, budget", [("lean", 22), ("full", 22), ("dry_run", 28)]
)
def test_build_job_budget(spark, sf_dir, tmp_path, mode, budget):
    """No Spark job for bookkeeping: the census of a written table comes
    from its files, an ephemeral checkpoint is filled by its census, CC
    materializes its input once. (Before: 36 lean, 44 full, 38 dry-run.)
    `num_partitions` is fixed so the salting decision does not follow the
    box's width."""
    raw = synth_raw_files(spark, sf_dir)
    jobs = _jobs_in_group(
        spark,
        f"budget-{mode}",
        lambda: build_kg(
            spark,
            raw,
            str(tmp_path / "wh"),
            run_id=mode,
            num_partitions=4,
            dry_run=mode == "dry_run",
            materialize_intermediates=mode == "full",
        ),
    )
    assert jobs <= budget


def test_lean_mode_same_products_no_intermediate_sinks(spark, sf_dir, built, tmp_path):
    """materialize_intermediates=False must write byte-identical edges/nodes
    while leaving no triples_raw/canon_map tables on disk."""
    wh_full, _ = built
    wh = str(tmp_path / "leanwh")
    raw = synth_raw_files(spark, sf_dir)
    res = build_kg(spark, raw, wh, run_id="lean", materialize_intermediates=False)
    assert not os.path.exists(os.path.join(wh, "triples_raw"))
    assert not os.path.exists(os.path.join(wh, "canon_map"))
    assert os.path.exists(os.path.join(wh, "edges"))
    assert "canon_map" in res.stage_wall_s  # timed even though not sunk
    for table in ("edges", "nodes"):
        a = spark.read.parquet(os.path.join(wh_full, table))
        b = spark.read.parquet(os.path.join(wh, table))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # lean lineage is the same per-partition census as a full run's
    rows_out = {}
    for r in _lineage(wh, "lean"):
        assert r["partition_id"] >= 0
        rows_out[r["stage"]] = rows_out.get(r["stage"], 0) + r["rows_out"]
    assert rows_out == res.stage_rows
    assert set(rows_out) == {"pages", "canon_map", "edges", "nodes"}


def test_dry_run_writes_nothing(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "drywh")
    raw = synth_raw_files(spark, sf_dir)
    res = build_kg(spark, raw, wh, run_id="dry1", dry_run=True)
    # same counts as a real run, but no tables and no manifests on disk
    assert res.stage_rows["pages"] == 454
    assert res.stage_rows["edges"] > 0
    assert not os.path.exists(os.path.join(wh, "edges"))
    assert not os.path.exists(os.path.join(wh, "_manifests", "dry1", "pages.json"))
    # lineage IS recorded (the dry-run report)
    assert os.path.exists(os.path.join(wh, "_lineage", "dry1.jsonl"))


@pytest.mark.parametrize("mode", ["full", "lean", "dry_run", "star"])
def test_build_leaves_no_blocks(spark, sf_dir, tmp_path, monkeypatch, mode):
    """Every checkpoint a build makes (the runner's in-memory copies, the
    CC input, and — `star`: a lean build on the distributed CC path — the
    CC labels behind canon_map) is freed before build_kg returns."""
    from test_iterate import _left_behind, _marker

    if mode == "star":
        monkeypatch.setenv("KG_CC_DRIVER_MAX_EDGES", "0")
    raw = synth_raw_files(spark, sf_dir)
    marker = _marker(spark)
    build_kg(
        spark,
        raw,
        str(tmp_path / "wh"),
        run_id=mode,
        dry_run=mode == "dry_run",
        materialize_intermediates=mode == "full",
    )
    assert _left_behind(spark, marker) == []


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _exchanges(nodes) -> list[str]:
    return [
        n.outputPartitioning().toString() for n in nodes if n.nodeName() == "Exchange"
    ]


def test_pages_prefilter_stays_above_the_input_exchange(spark, sf_dir):
    """The B1 prefilter's non-deterministic guard keeps Catalyst from
    pushing it below the exchange that spreads the raw input (into the
    single-partition stage that synthesizes `content`). Checked on a
    one-partition input, which also makes the stage salt its repartition:
    the filter is applied before salting, so it sits between the two."""
    from confluence2md_spark.plans.skew import key_layout_census, needs_rebalance

    raw = synth_raw_files(spark, sf_dir).coalesce(1)
    assert needs_rebalance(key_layout_census(raw.select("repo"), "repo")[1], 4)
    plan = pages_stage(raw, 4)._jdf.queryExecution().executedPlan().inputPlan()
    (b1,) = [
        n
        for n in _plan_nodes(plan)
        if n.nodeName() == "Filter"
        and "Exported From Confluence" in n.condition().toString()
    ]
    below = _exchanges(_plan_nodes(b1))
    above = [p for p in _exchanges(_plan_nodes(plan)) if p not in below]
    assert [p.startswith("hashpartitioning(repo") for p in above] == [True]
    assert any(p.startswith("RoundRobinPartitioning") for p in below)


def test_mime_parts_explode(spark, sf_dir):
    from confluence2md_spark.operators.mimeparts import explode_mime_parts, select_html_parts

    raw = synth_raw_files(spark, sf_dir)
    parts = explode_mime_parts(raw, num_partitions=4).persist()
    # pages with attachment (doc_id%4==0) have 2 parts; html selection picks
    # exactly one per ok page; headers map is preserved.
    two = parts.filter("doc_id = 0").orderBy("part_index").collect()
    assert [p["media_type"] for p in two] == ["text/html", "image/png"]
    assert two[0]["headers"]["Content-Type"] == 'text/html; charset="UTF-8"'
    assert two[1]["filename"] == "att-0.png"
    html = select_html_parts(parts)
    assert html.count() == 445
    assert html.filter("part_index <> 0").count() == 0


def test_edges_partitioned_by_pred(built):
    wh, _ = built
    preds = {d for d in os.listdir(f"{wh}/edges") if d.startswith("pred=")}
    assert preds == {
        "pred=links_to",
        "pred=contains_heading",
        "pred=authored_by",
        "pred=has_attachment",
    }


def test_convert_pages_quarantines_over_budget_doc_and_batch_completes(spark, sf_dir):
    """One over-budget document must land in the over_budget status while
    every other document in the same Arrow batch converts normally
    (VERDICT r3: without a per-doc budget, one pathological document
    stalls the whole batch with no quarantine route)."""
    from confluence2md_spark.operators.convert import convert_pages

    raw = synth_raw_files(spark, sf_dir).filter("doc_id < 20")
    baseline = {
        r["doc_id"]: r["status"]
        for r in convert_pages(raw, max_bytes=0, timeout_s=0).collect()
    }  # 0 disables both guards (env-default path unchanged for others)
    sizes = {r["doc_id"]: len(r["content"].encode()) for r in raw.collect()}
    cap = max(sizes[d] for d in baseline) - 1  # largest surviving doc goes over
    over = {d for d in baseline if sizes[d] > cap}
    assert over  # the cap puts at least one doc over budget

    pages = convert_pages(raw, max_bytes=cap, timeout_s=120.0)
    rows = {r["doc_id"]: r["status"] for r in pages.collect()}
    assert set(rows) == set(baseline)  # batch completed: every doc has a row
    for d, s in rows.items():
        if d in over:
            assert s == "over_budget"
        else:
            assert s == baseline[d]
