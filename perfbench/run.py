"""Benchmark of the Confluence KG pipeline, run from outside through its
public functions.

    python3 perfbench/run.py --workload kg_bigdoc --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads (see README.md in this
directory for why each was chosen):

  kg_bigdoc  one op = one lean `plans.pipeline.build_kg` over a seeded set
             of large, feature-rich Confluence exports, into a fresh
             warehouse
  kg_graph   one op = `__spark_entry__.queries()["kg_communities"]` (label
             propagation) over the KG the entry cache built in set-up,
             into the noop sink

Each run is a closed loop: one client, each op starts when the previous one
has finished. `--trace 0` prints the end-to-end metrics; `--trace 1` runs
the traced layer-by-layer pass and prints the per-layer metrics. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. The line before it is a JSON report with the raw samples.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpora  # noqa: E402
import probes  # noqa: E402

# Sizes are set by the time budget of one run (set-up + measured loop well
# under a minute on 4 vCPU): the JVM's per-job overhead, not data volume,
# dominates every op at these sizes.
BIGDOC_DOCS = 140
BIGDOC_MEDIAN_KB = 24
BIGDOC_MAX_KB = 512
GRAPH_DOCS = 1000
CORE_SAMPLE = 6
CORE_REPEAT = 3
DEADLINE_S = 170
GRAPH_OP = "kg_communities"
SPARK_GROUPS = ("op", "skew", "convert", "triples", "canon", "catalog", "graph")
SPARK_FIELDS = (
    ("tasks", "count"),
    ("task_ms_p50", "ms"),
    ("task_ms_max", "ms"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("gc_ms", "ms"),
)


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2 :].split()[19])
    return up - start / probes.CLK_TCK


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


# ---------------------------------------------------------------- session

class Session:
    def __init__(self, work: str, trace: bool) -> None:
        self.machine = probes.machine()
        self.work = work
        w = self.machine["width"]
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp  # py4j's connection-info file goes here too
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.machine["heap"]
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.driver.memory": self.machine["heap"],
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = None
        if trace:
            self.event_dir = os.path.join(work, "events")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        from confluence2md_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{w}]",
            shuffle_partitions=w,
            extra_conf=conf,
        )
        self.get_spark_s = time.monotonic() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.proc = getattr(self.sc._gateway, "proc", None)
        self.hwm_mb = 0.0
        self.closed = False

    def sample_workers(self) -> None:
        self.hwm_mb = max(self.hwm_mb, probes.worker_hwm_mb(self.jvm_pid))

    def jvm_gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        if self.closed:
            return
        self.closed = True
        pids = [self.jvm_pid, *probes.descendants(self.jvm_pid)]
        try:
            self.spark.stop()
        finally:
            if self.proc is not None:
                try:
                    self.proc.stdin.close()  # the gateway JVM exits on EOF
                except OSError:
                    pass
                try:
                    self.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
            end = time.monotonic() + 15
            while time.monotonic() < end and any(os.path.exists(f"/proc/{p}") for p in pids):
                time.sleep(0.1)
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


# --------------------------------------------------------------- workloads

class BigDoc:
    """Few rows, large documents: the only workload where the Python
    conversion kernel does real work; canon_map and edges stay small."""

    warmup_ops = 1

    def __init__(self, s: Session, seed: int) -> None:
        self.s = s
        raw_dir = os.path.join(s.work, "raw_files")
        self.plant = corpora.bigdoc_exports(
            raw_dir,
            BIGDOC_DOCS,
            seed,
            BIGDOC_MEDIAN_KB,
            BIGDOC_MAX_KB,
            n_files=2 * s.machine["width"],
        )
        # fixed size ranks (small, median, largest) so the sample does the
        # same work for every seed
        by_size = sorted(
            (d for d, k in self.plant["kind"].items() if k == "page"),
            key=lambda d: len(self.plant["content"][d]),
        )
        self.md_sample = [by_size[0], by_size[len(by_size) // 2], by_size[-1]]
        ranks = [round(i * (len(by_size) - 1) / (CORE_SAMPLE - 1)) for i in range(CORE_SAMPLE)]
        self.core_sample = [self.plant["content"][by_size[r]] for r in ranks]
        self.raw = s.spark.read.parquet(raw_dir)
        self.num_partitions = 2 * s.machine["width"]
        self.n = 0
        self.results: list[dict] = []
        self.edges_rows = 0

    def build(self, run_id: str):
        from confluence2md_spark.plans.pipeline import build_kg

        wh = os.path.join(self.s.work, f"wh-{run_id}")
        res = build_kg(
            self.s.spark,
            self.raw,
            wh,
            run_id=run_id,
            num_partitions=self.num_partitions,
            materialize_intermediates=False,
        )
        return wh, res

    def op(self) -> None:
        self.n += 1
        self.last = self.build(f"op{self.n}")

    def check_op(self) -> bool:
        """Untimed: status counts, per-row sha256, stable stage rows, and
        the markdown of a fixed sample (verified after the loop)."""
        from pyspark.sql import functions as F

        wh, res = self.last
        rows = (
            self.s.spark.read.parquet(os.path.join(wh, "pages"))
            .select(
                "doc_id",
                "status",
                "content_sha256",
                F.when(F.col("doc_id").isin(self.md_sample), F.col("markdown")).alias("md"),
            )
            .collect()
        )
        shutil.rmtree(wh, ignore_errors=True)
        status: dict[str, int] = {}
        bad_sha = 0
        md = {}
        for r in rows:
            status[r["status"]] = status.get(r["status"], 0) + 1
            bad_sha += r["content_sha256"] != self.plant["sha256"][r["doc_id"]]
            if r["md"] is not None:
                md[r["doc_id"]] = r["md"]
        self.results.append({"rows": res.stage_rows, "md": md})
        self.edges_rows = res.stage_rows.get("edges", 0)
        ok = status == self.plant["status"] and bad_sha == 0
        if self.results[0]["rows"] != res.stage_rows:
            ok = False
        return ok

    def final_check(self) -> tuple[bool, dict]:
        """The sample's Markdown, from every op, is byte-equal to in-process
        conversion and shows every feature the generator planted in it:
        headings at their level, page links, user names, image refs."""
        from confluence2md_spark.core import convert_document

        want = {d: convert_document(self.plant["content"][d]).markdown for d in self.md_sample}
        md_ok = all(r["md"] == want for r in self.results)
        missing = [
            item
            for d in self.md_sample
            for f in ("headings", "user_links", "page_links", "images")
            for item in self.plant["planted"][d][f]
            if (item not in want[d].splitlines() if f == "headings" else item not in want[d])
        ]
        return md_ok and not missing, {
            "stage_rows": self.results[-1]["rows"] if self.results else None,
            "planted": {k: self.plant[k] for k in ("status", "filtered_by_detect", "features", "bytes", "max_doc_bytes")},
            "markdown_sample_equal": md_ok,
            "planted_features_missing": missing[:10],
        }

    def traced_build(self):
        t0 = time.monotonic()
        wh, res = self.build("traced")
        return wh, res, time.monotonic() - t0

    def layer_raw(self):
        return self.raw


class Graph:
    """The read side: an iterative graph operator over one built KG, with
    no kernel work in the op."""

    # the first op also builds the KG; label propagation itself gets ~30%
    # faster at a varying point within its first five runs (JIT), which
    # made op_s bimodal with a single warm-up op
    warmup_ops = 3

    def __init__(self, s: Session, seed: int) -> None:
        import __spark_entry__ as entry

        self.s = s
        self.entry = entry
        self.docs = corpora.write_documents(os.path.join(s.work, "sf"), GRAPH_DOCS, seed)
        self.qs = entry.queries()
        self.edges_rows = 0
        self.oracle_ok = None

    def op(self) -> None:
        df = self.qs[GRAPH_OP](self.s.spark, self.docs)
        if self.oracle_ok is None:
            # the first op of a run collects its rows for the oracle check
            self.rows, self.cols = [tuple(r) for r in df.collect()], df.columns
        else:
            df.write.format("noop").mode("overwrite").save()

    def check_op(self) -> bool:
        """Untimed: the first op's rows against the query's DuckDB twin."""
        if self.oracle_ok is None:
            self.oracle_ok = _oracle_rows(self.duck(), GRAPH_OP) == (
                _check_contract().normalize(self.rows, self.cols)
            )
            self.rows = None
        return self.oracle_ok

    def duck(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs}/documents.parquet'")
        return con

    def final_check(self) -> tuple[bool, dict]:
        sql = self.entry.oracle_sql()["kg_edges_canonical"]
        self.edges_rows = self.duck().execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        return bool(self.oracle_ok), {
            "oracle_equal": {GRAPH_OP: self.oracle_ok},
            "links_to_edges": self.edges_rows,
        }

    def traced_build(self):
        """One build of this workload's KG, timed as a whole."""
        from confluence2md_spark.plans.pipeline import build_kg

        wh = os.path.join(self.s.work, "wh-traced")
        t0 = time.monotonic()
        res = build_kg(
            self.s.spark,
            self.layer_raw(),
            wh,
            run_id="traced",
            num_partitions=2 * self.s.machine["width"],
            materialize_intermediates=False,
        )
        return wh, res, time.monotonic() - t0

    def layer_raw(self):
        from confluence2md_spark.sources.corpus import synth_raw_files

        return synth_raw_files(self.s.spark, self.docs)

    @property
    def core_sample(self) -> list[str]:
        """Page exports of the synthetic corpus at fixed doc_ids."""
        from pyspark.sql import functions as F

        rows = (
            self.layer_raw()
            .filter(F.col("doc_id").isin(list(range(1, 97 * CORE_SAMPLE, 97))))
            .select("content")
            .collect()
        )
        return [r["content"] for r in rows]


@functools.cache
def _check_contract():
    """The repository's contract checker, for its row normalization."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(ROOT, "scripts", "check_contract.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"kg_bigdoc": BigDoc, "kg_graph": Graph}


# ------------------------------------------------------------ measurement

def measure(s: Session, wl, seconds: float) -> dict:
    """Warm up, then run the closed loop for `seconds` and return samples."""
    warmup, check_s = [], 0.0
    ok = True
    for _ in range(wl.warmup_ops):
        t0 = time.monotonic()
        wl.op()
        t1 = time.monotonic()
        ok = wl.check_op() and ok
        warmup.append(t1 - t0)
        check_s += time.monotonic() - t1
    s.sample_workers()
    # checks are untimed, in set-up too
    setup_s = process_age_s() - check_s
    walls, cpus, failures = [], [], []
    t_end = time.monotonic() + seconds
    while True:
        c0 = probes.tree_cpu_s(s.jvm_pid)
        t0 = time.monotonic()
        try:
            wl.op()
            err = None
        except Exception as ex:  # an op that raises counts as failed
            err = f"{type(ex).__name__}: {ex}"[:300]
        walls.append(time.monotonic() - t0)
        cpus.append(probes.tree_cpu_s(s.jvm_pid) - c0)
        s.sample_workers()
        if err is None:
            try:
                if not wl.check_op():
                    err = "output check failed"
            except Exception as ex:
                err = f"check raised {type(ex).__name__}: {ex}"[:300]
            ok = ok and err is None
        if err:
            failures.append(err)
        if time.monotonic() >= t_end:
            break
    return {
        "checks_ok": ok,
        "setup_s": setup_s,
        "warmup": warmup,
        "walls": walls,
        "cpus": cpus,
        "failures": failures,
    }


def run_untraced(s: Session, wl, seconds: float) -> tuple[dict, dict]:
    m = measure(s, wl, seconds)
    correct, detail = wl.final_check()
    correct = correct and m["checks_ok"]
    op_s = statistics.median(m["walls"])
    attempted, failed = len(m["walls"]), len(m["failures"])
    metrics = {
        "setup_s": (m["setup_s"], "s"),
        "op_s": (op_s, "s"),
        "triples_per_s": (wl.edges_rows / op_s, "1/s"),
        "worker_rss_mb": (s.hwm_mb, "MiB"),
    }
    report = {
        "get_spark_s": s.get_spark_s,
        "warmup_op_s": m["warmup"],
        "op_s": probes.summary(m["walls"]),
        "op_cpu_s": probes.summary(m["cpus"]),
        "samples_op_s": m["walls"],
        "samples_op_cpu_s": m["cpus"],
        "ops_failed": failed / attempted,
        "failures": m["failures"],
        "checks": detail,
    }
    return _result(correct, attempted, failed, metrics), report


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def core_timings(docs: list[str]) -> dict:
    """µs/doc for each kernel sub-stage by direct in-process calls."""
    from confluence2md_spark.core import (
        convert_document,
        html_to_markdown,
        is_confluence_mime,
        post_process_markdown,
        pre_process_html,
        split_mime,
    )
    from confluence2md_spark.core.convert import extract_user_mentions

    def html_of(content: str) -> str:
        for p in split_mime(content)[1]:
            if p.media_type == "text/html":
                return p.body.decode(p.charset or "utf-8", errors="replace")
        return ""

    htmls = [html_of(c) for c in docs]
    pres = [pre_process_html(h) for h in htmls]
    mds = [html_to_markdown(p) for p in pres]
    stages = {
        "split_mime": (split_mime, docs),
        "pre_process_html": (pre_process_html, htmls),
        "html_to_markdown": (html_to_markdown, pres),
        "post_process_markdown": (post_process_markdown, mds),
        "user_mentions": (extract_user_mentions, htmls),
        "is_confluence_mime": (is_confluence_mime, docs),
        "convert_document": (convert_document, docs),
    }
    out = {}
    for name, (fn, args) in stages.items():
        reps = []
        for _ in range(CORE_REPEAT):
            t0 = time.perf_counter()
            for a in args:
                fn(a)
            reps.append((time.perf_counter() - t0) / len(args))
        out[name] = statistics.median(reps) * 1e6
    out["doc_kb"] = sum(len(d.encode()) for d in docs) / len(docs) / 1024
    return out


def graph_sweep(edges, cmap) -> dict:
    """The seven read-side queries, with the parameters of their
    `__spark_entry__` definitions, over an arbitrary KG's tables."""
    from pyspark.sql import functions as F

    from confluence2md_spark.operators.bfs import seed_distance
    from confluence2md_spark.operators.communities import label_propagation
    from confluence2md_spark.operators.graph import pagerank_micros
    from confluence2md_spark.operators.kcore import kcore
    from confluence2md_spark.operators.scc import scc

    links = edges.filter(F.col("pred") == "links_to").select("subj", "obj")

    def seeds():
        nodes = (
            links.select(F.col("subj").alias("page"))
            .unionByName(links.select(F.col("obj").alias("page")))
            .distinct()
        )
        # kg_ppr's seed rule; try_cast so non-page link targets of other
        # corpora are simply not seeds
        return nodes.filter(F.expr("try_cast(substr(page, 6) AS BIGINT) % 37 = 0"))

    return {
        "kg_pagerank": lambda: pagerank_micros(links, iters=5, topk=20),
        "kg_communities": lambda: label_propagation(links, iters=4).orderBy("page"),
        "kg_scc": lambda: scc(links),
        "kg_seed_distance": lambda: seed_distance(links, seeds(), iters=6).orderBy("page"),
        "kg_kcore": lambda: kcore(links, k=3, max_rounds=12),
        "kg_component_sizes": lambda: cmap.groupBy("canon_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("sz"),
        "kg_top_linked": lambda: edges.filter(F.col("pred") == "links_to")
        .groupBy("obj")
        .agg(F.sum("n_sources").alias("n_links"))
        .orderBy(F.desc("n_links"), F.asc("obj"))
        .limit(10),
    }


def run_traced(s: Session, wl) -> tuple[dict, dict]:
    """Per-layer pass: spans and job groups around each layer call, the
    event log folded per group, kernel sub-stages timed in-process."""
    from pyspark.sql import functions as F

    from confluence2md_spark.operators.canon import (
        build_canonical_map,
        build_nodes,
        canonicalize_triples,
    )
    from confluence2md_spark.operators.convert import convert_pages, is_confluence_mime_col
    from confluence2md_spark.operators.linking import token_block_pairs
    from confluence2md_spark.operators.triples import extract_all_triples
    from confluence2md_spark.plans.skew import key_layout_census, needs_rebalance
    from confluence2md_spark.sources.catalog import load_table, write_table

    spark, sc = s.spark, s.sc
    spans = probes.Spans(sc)
    failures: list[str] = []
    attempted = 0
    m: dict[str, tuple[float, str]] = {}

    # one warm-up op only: the traced run must end well inside its deadline
    # on a slow host, and its layer times carry no bound
    wl.op()
    ok = wl.check_op()
    # tracing overhead: the traced op against the mean of the untraced ops
    # on either side of it, so the warm-up trend cancels
    def untraced_op() -> float:
        t0 = time.monotonic()
        wl.op()
        return time.monotonic() - t0

    c0 = probes.tree_cpu_s(s.jvm_pid)
    untraced = [untraced_op()]
    m["trace.op_cpu_s"] = (probes.tree_cpu_s(s.jvm_pid) - c0, "s")
    ok = wl.check_op() and ok
    with spans.span("op", 0):
        wl.op()
    traced = spans.total("op")
    ok = wl.check_op() and ok
    untraced.append(untraced_op())
    ok = wl.check_op() and ok
    attempted += 3
    m["trace.op_untraced_s"] = (statistics.mean(untraced), "s")
    m["trace.op_traced_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - statistics.mean(untraced), "s")

    # pipeline stages of one build, from KgBuildResult
    wh, res, build_s = wl.traced_build()
    for st in ("pages", "canon_map", "edges", "nodes"):
        m[f"pipeline.{st}_s"] = (res.stage_wall_s.get(st, 0.0), "s")
        m[f"pipeline.{st}_rows"] = (res.stage_rows.get(st, 0), "count")
    m["pipeline.stage_coverage"] = (sum(res.stage_wall_s.values()) / build_s, "ratio")
    files = [os.path.join(d, f) for d, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet")]
    m["catalog.bytes_written"] = (sum(os.path.getsize(f) for f in files), "B")
    m["catalog.files_written"] = (len(files), "count")

    # layer by layer over the same input
    raw = wl.layer_raw()
    n_parts = 2 * s.machine["width"]
    with spans.span("skew.census", 1):
        _hot, census = key_layout_census(raw.select("repo"), "repo")
    m["skew.census_s"] = (spans.total("skew.census"), "s")
    m["skew.rebalanced"] = (int(needs_rebalance(census, n_parts)), "count")
    conf = raw.filter(is_confluence_mime_col(F.col("content")))
    with spans.span("convert.pages_noop", 1):
        _noop(convert_pages(conf, prefilter=False))
    pages_noop = spans.total("convert.pages_noop")
    m["convert.pages_noop_s"] = (pages_noop, "s")
    pages = load_table(spark, wh, "pages")
    with spans.span("triples.extract", 1):
        n_triples = extract_all_triples(pages).count()
    m["triples.extract_s"] = (spans.total("triples.extract"), "s")
    m["triples.raw_rows"] = (n_triples, "count")
    titles = pages.filter(F.col("status") == "ok").select("doc_id", "title")
    # build_kg's partition count for the title-sized stages
    p_small = max(4, min(n_parts, res.stage_rows.get("pages", 0) // 100_000 + 1))
    with spans.span("canon.pairs", 1):
        cand = token_block_pairs(titles, threshold=0.0, num_partitions=p_small).count()
        linked = token_block_pairs(titles, threshold=0.8, num_partitions=p_small).count()
    m["canon.candidate_pairs"] = (cand, "count")
    m["canon.linked_pairs"] = (linked, "count")
    m["canon.pair_yield"] = (linked / cand if cand else 0.0, "ratio")
    with spans.span("canon.build_map", 1):
        cmap = build_canonical_map(pages, num_partitions=p_small).localCheckpoint()
    m["canon.build_map_s"] = (spans.total("canon.build_map"), "s")
    triples = extract_all_triples(pages)
    with spans.span("canon.canonicalize", 1):
        _noop(canonicalize_triples(triples, cmap))
    m["canon.canonicalize_s"] = (spans.total("canon.canonicalize"), "s")
    edges = load_table(spark, wh, "edges")
    with spans.span("canon.nodes", 1):
        _noop(build_nodes(pages, cmap, edges))
    m["canon.nodes_s"] = (spans.total("canon.nodes"), "s")
    with spans.span("catalog.write", 1):
        write_table(edges, os.path.join(s.work, "catalog"), "edges", partition_by=["pred"])
    m["catalog.write_s"] = (spans.total("catalog.write"), "s")

    # graph operators over this KG, each to completion
    oracle_ok = {}
    con = wl.duck() if isinstance(wl, Graph) else None
    persistent = []
    for name, q in graph_sweep(edges, cmap).items():
        attempted += 1
        group = f"graph.{name}"
        try:
            with spans.span(group, 2):
                df = q()
                rows = df.collect()
            if con is not None:
                oracle_ok[name] = _check_contract().normalize(
                    [tuple(r) for r in rows], df.columns
                ) == _oracle_rows(con, name)
        except Exception as ex:
            failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
        m[f"{group}_s"] = (spans.total(group), "s")
        m[f"{group}_jobs"] = (len(sc.statusTracker().getJobIdsForGroup(group)), "count")
        persistent.append(int(sc._jsc.getPersistentRDDs().size()))
    m["graph.persistent_rdds"] = (max(persistent), "count")

    # kernel sub-stages, in-process on a fixed document sample
    core = core_timings(wl.core_sample)
    for k, v in core.items():
        m[f"core.{k}" if k == "doc_kb" else f"core.{k}_us"] = (v, "KiB" if k == "doc_kb" else "us")
    # share of the convert span the kernel accounts for, spread over the width
    in_bytes = raw.filter(is_confluence_mime_col(F.col("content"))).agg(
        F.sum(F.length("content"))
    ).first()[0]
    kernel_s = core["convert_document"] / 1e6 / (core["doc_kb"] * 1024) * in_bytes
    m["convert.kernel_share"] = (kernel_s / s.machine["width"] / pages_noop, "ratio")

    m["python.workers"] = (len(probes.python_workers(s.jvm_pid)), "count")
    m["session.get_spark_s"] = (s.get_spark_s, "s")
    m["jvm.driver_rss_mb"] = (probes.rss_mb(s.jvm_pid), "MiB")
    m["jvm.gc_ms"] = (s.jvm_gc_ms(), "ms")
    correct, detail = wl.final_check()
    correct = correct and ok and all(oracle_ok.values())
    s.close()  # flushes the event log
    # one row per layer family: "canon.build_map" and "canon.nodes" -> canon
    groups = probes.fold_event_log(s.event_dir, lambda g: g.split(".")[0])
    empty = {f: 0 for f, _ in SPARK_FIELDS}
    for g in SPARK_GROUPS:
        for f, unit in SPARK_FIELDS:
            m[f"spark.{g}.{f}"] = (groups.get(g, empty)[f], unit)
    report = {
        "spans": spans.rows,
        "event_log_groups": groups,
        "oracle_equal": oracle_ok,
        "failures": failures,
        "checks": detail,
    }
    return _result(correct, attempted, len(failures), m), report


def _oracle_rows(con, name: str):
    import __spark_entry__ as entry

    cur = con.execute(entry.oracle_sql()[name])
    cols = [d[0] for d in cur.description]
    return _check_contract().normalize(cur.fetchall(), cols)


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": v, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }


# ------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "confluence2md_spark", "__init__.py")):
        print(f"perfbench: no confluence2md_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import confluence2md_spark

    if not os.path.abspath(confluence2md_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: confluence2md_spark resolves outside the checkout", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    s = None
    try:
        s = Session(work, trace=bool(args.trace))
        wl = WORKLOADS[args.workload](s, args.seed)
        if args.trace:
            result, report = run_traced(s, wl)
        else:
            result, report = run_untraced(s, wl, args.seconds)
        report["machine"] = s.machine
        report["machine"]["loadavg_end"] = probes.machine()["loadavg"]
        report["machine"]["steal_ticks_delta"] = probes.steal_ticks() - s.machine["steal_ticks"]
        report["workload"] = args.workload
        report["seed"] = args.seed
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if s is not None:
            try:
                s.close()
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
