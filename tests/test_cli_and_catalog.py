"""Reference CLI surface parity (main.go / main_test.go taxonomy) on
jobs/build_kg.py, plus the Iceberg catalog seam (VERDICT r1 items 9-10).

The e2e error paths run WITHOUT a SparkSession (they fail before Spark
starts), so these tests are fast; the empty-corpus path and the Iceberg
writeTo branch use the shared session / mocks.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stderr, redirect_stdout
from unittest import mock

import pytest

sys.path.insert(0, "/root/repo/jobs")
import build_kg as cli  # noqa: E402

from confluence2md_spark.sources import catalog  # noqa: E402


# ------------------------------------------------------------------- CLI --

def _run(argv):
    out, err = io.StringIO(), io.StringIO()
    with redirect_stdout(out), redirect_stderr(err):
        try:
            code = cli.main(argv)
        except SystemExit as ex:  # usage errors raise
            code = ex.code
    return code, out.getvalue(), err.getvalue()


def test_version_exits_zero_with_version_string():
    # main_test.go TestRun_Version
    code, out, _ = _run(["--version"])
    assert code == 0
    assert out.startswith("confluence2md-spark ") and cli.__version__ in out


def test_no_args_usage_on_stderr_exit_one():
    # main_test.go TestRun_NoArgs: usage text on stderr, exit 1 (not 2)
    code, out, err = _run([])
    assert code == 1
    assert "Usage:" in err and out == ""


def test_missing_warehouse_is_usage_error():
    code, _, err = _run(["--sf-dir", "/root/testdata/sf0.001"])
    assert code == 1 and "warehouse" in err


def test_nonexistent_table_errors_exit_one(tmp_path):
    # main_test.go TestRun_NonExistentFile / TestConvertFile_NonExistentInput
    code, _, err = _run(
        ["--table", "/nonexistent/raw_files", "--warehouse", str(tmp_path)]
    )
    assert code == 1 and err.startswith("Error: ")


def test_nonexistent_sf_dir_errors_exit_one(tmp_path):
    code, _, err = _run(["--sf-dir", "/nonexistent", "--warehouse", str(tmp_path)])
    assert code == 1 and err.startswith("Error: ")


def test_no_confluence_docs_is_clean_noop(spark, tmp_path):
    # main.go convertDirectory: 'No .doc files found' -> exit 0, nothing
    # done. Subprocess: cli.main() stops its SparkSession on exit, which
    # would kill the shared pytest session if run in-process.
    import subprocess

    src = spark.createDataFrame(
        [("r", "a.py", "c", "python", "print(1)", 0)],
        ["repo", "path", "commit", "lang", "content", "doc_id"],
    )
    table = str(tmp_path / "raw")
    src.write.parquet(table)
    out = subprocess.run(
        [sys.executable, "jobs/build_kg.py", "--table", table,
         "--warehouse", str(tmp_path / "wh"), "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert out.returncode == 0
    assert "No Confluence MIME documents found" in out.stdout


# --------------------------------------------------------------- catalog --

def test_iceberg_ddl_strings_parse(spark):
    """Every DDL must be valid Spark SQL syntax (parser only — the sandbox
    has no Iceberg jars, so execution is exercised via mocks below)."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    for name, ddl in catalog.iceberg_ddl().items():
        plan = parser.parsePlan(ddl)  # raises ParseException on bad syntax
        assert "iceberg" in ddl and name in ddl


def test_iceberg_write_and_load_branch(monkeypatch):
    monkeypatch.setenv("KG_USE_ICEBERG", "1")
    monkeypatch.setenv("KG_NAMESPACE", "testns")
    df = mock.MagicMock()
    path = catalog.write_table(df, "/ignored", "edges", mode="overwrite")
    assert path == "testns.edges"
    df.writeTo.assert_called_once_with("testns.edges")
    df.writeTo.return_value.createOrReplace.assert_called_once()

    df2 = mock.MagicMock()
    catalog.write_table(df2, "/ignored", "edges", mode="append")
    df2.writeTo.return_value.append.assert_called_once()

    sp = mock.MagicMock()
    catalog.load_table(sp, "/ignored", "nodes")
    sp.read.table.assert_called_once_with("testns.nodes")

    files = mock.MagicMock()
    files.read.table.return_value.select.return_value.collect.return_value = [
        ("s3://b/kg/edges/data/pred=x/00003-9-u-00001.parquet", 512, 7)
    ]
    listed = catalog.table_files(files, "/ignored", "edges")
    files.read.table.assert_called_once_with("testns.edges.files")
    assert [(f["bytes"], f["rows"]) for f in listed] == [(512, 7)]
    assert catalog.write_task(listed[0]["file"]) == 3

    ens = mock.MagicMock()
    catalog.ensure_tables(ens)
    assert ens.sql.call_count == len(catalog.iceberg_ddl())


def test_parquet_branch_unaffected_by_env(monkeypatch, tmp_path, spark):
    monkeypatch.delenv("KG_USE_ICEBERG", raising=False)
    df = spark.range(3).toDF("x")
    path = catalog.write_table(df, str(tmp_path), "t")
    got = catalog.load_table(spark, str(tmp_path), "t")
    assert got.count() == 3 and path.endswith("/t")


def test_merge_edges_sql_parses(spark):
    parser = spark._jsparkSession.sessionState().sqlParser()
    parser.parsePlan(catalog.MERGE_EDGES_SQL.format(ns="kg"))  # ParseException on bad syntax


def test_merge_edges_delta_equals_reaggregation(spark, sf_dir, tmp_path):
    """Merging corpus A's edges with the delta of NEW corpus B equals
    aggregating A∪B from scratch (key + n_sources + confidence + types;
    MERGE keeps the existing row's repo attribute by design)."""
    from confluence2md_spark.operators.canon import (
        build_canonical_map,
        canonicalize_triples,
    )
    from confluence2md_spark.operators.convert import convert_pages
    from confluence2md_spark.operators.triples import extract_all_triples
    from confluence2md_spark.sources.corpus import synth_raw_files

    raw = synth_raw_files(spark, sf_dir)
    pages = convert_pages(raw.filter("doc_id < 120"))
    cmap = build_canonical_map(pages)  # shared map: B adds docs, not titles

    def edges_for(pred):
        return canonicalize_triples(
            extract_all_triples(convert_pages(raw.filter(pred))), cmap
        )

    wh = str(tmp_path)
    edges_for("doc_id < 60").write.partitionBy("pred").parquet(f"{wh}/edges")
    catalog.merge_edges(spark, wh, edges_for("doc_id >= 60 AND doc_id < 120"))

    got = {
        (r["subj"], r["pred"], r["obj"]): (
            r["n_sources"], r["confidence"], r["subj_type"], r["obj_type"]
        )
        for r in spark.read.parquet(f"{wh}/edges").collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"]): (
            r["n_sources"], r["confidence"], r["subj_type"], r["obj_type"]
        )
        for r in edges_for("doc_id < 120").collect()
    }
    assert got == want and len(want) > 100


def test_merge_edges_iceberg_branch(monkeypatch):
    monkeypatch.setenv("KG_USE_ICEBERG", "1")
    monkeypatch.setenv("KG_NAMESPACE", "testns")
    sp = mock.MagicMock()
    delta = mock.MagicMock()
    out = catalog.merge_edges(sp, "/ignored", delta)
    assert out == "testns.edges"
    delta.createOrReplaceTempView.assert_called_once_with("edges_delta")
    sp.sql.assert_called_once_with(catalog.MERGE_EDGES_SQL.format(ns="testns"))


def test_merge_edges_first_delta_creates_table(spark, tmp_path):
    """First merge with NO existing edges table must create it rather than
    crash in rmtree/load (ADVICE r2)."""
    delta = spark.createDataFrame(
        [("a", "links_to", "b", "page", "page", 1.0, 2, "r0")],
        "subj string, pred string, obj string, subj_type string, "
        "obj_type string, confidence double, n_sources long, repo string",
    )
    wh = str(tmp_path)
    out = catalog.merge_edges(spark, wh, delta)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["n_sources"] == 2
    # second merge goes through the staged-swap path and leaves no debris
    catalog.merge_edges(spark, wh, delta)
    rows2 = spark.read.parquet(f"{wh}/edges").collect()
    assert len(rows2) == 1 and rows2[0]["n_sources"] == 4
    assert not [d for d in os.listdir(wh) if d.startswith("edges.bak")]


def test_merge_edges_recovers_mid_swap_crash(spark, tmp_path):
    """A crash between rename(final, backup) and rename(staging, final)
    leaves only edges.bak-* — the next merge must restore the parked table
    and merge into IT, not bootstrap the delta as the whole table
    (ADVICE r3: that window silently discarded all merged history)."""
    schema = (
        "subj string, pred string, obj string, subj_type string, "
        "obj_type string, confidence double, n_sources long, repo string"
    )
    d1 = spark.createDataFrame(
        [("a", "links_to", "b", "page", "page", 1.0, 2, "r0")], schema
    )
    d2 = spark.createDataFrame(
        [("a", "links_to", "b", "page", "page", 1.0, 3, "r0"),
         ("c", "links_to", "d", "page", "page", 0.5, 1, "r0")], schema
    )
    wh = str(tmp_path)
    catalog.merge_edges(spark, wh, d1)
    # simulate the crash window: table parked at .bak, staging incomplete
    os.rename(f"{wh}/edges", f"{wh}/edges.bak-edges_merge_crash1")
    os.makedirs(f"{wh}/edges_merge_orphan")
    catalog.merge_edges(spark, wh, d2)
    rows = {
        (r["subj"], r["obj"]): r["n_sources"]
        for r in spark.read.parquet(f"{wh}/edges").collect()
    }
    # history (n_sources=2) survived and the delta merged on top of it
    assert rows == {("a", "b"): 5, ("c", "d"): 1}
    debris = [d for d in os.listdir(wh) if d.startswith(("edges.bak", "edges_merge_"))]
    assert not debris


def test_iceberg_ddl_namespace_resolves_at_call_time(monkeypatch):
    """Setting KG_NAMESPACE after import must reach the DDL, so ensure_tables
    and load/write agree on the namespace (ADVICE r2)."""
    monkeypatch.setenv("KG_NAMESPACE", "late_ns")
    for ddl in catalog.iceberg_ddl().values():
        assert "late_ns." in ddl
