"""Round-6 extra benchmarks — the noop-sink isolation harness behind the
numbers cited in OPTIMIZATION_r06.md (guide §1.4/§1.5). NOT the driver
contract: `bench.py` is frozen and unchanged; this file only reproduces
the per-query warm-minimum A/B methodology used while optimizing.

    python bench_extra.py queries [sf_dir] [sweeps] [name ...]
        Interleaved sweeps over the named declared queries (default: the
        frozen bench's headline list), each executed to completion into the
        noop sink; prints per-sweep walls and the warm minimum. A query
        that raises prints `sweepN name: FAIL <type>: <msg>` and the sweep
        goes on. Interleaving matters on this VM: stall bands last
        minutes, so consecutive attempts of one query are correlated
        samples (see BASELINE.md).

    python bench_extra.py kg [sf_dir] [repeats]
        The kg pipeline (lean mode, same call shape as bench.py) `repeats`
        times in one session; prints per-run stage walls and the per-stage
        minima whose sum is the bench's kg_pipeline metric.

    python bench_extra.py pages [sf_dir]
        Pages-stage decomposition: censuses / synth+filter noop / convert
        noop — the isolation that exposed the round-6 pushdown-barrier win.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "window_top_order_per_customer",
    "events_hourly",
    "dedup_ngram_jaccard",
    "dedup_minhash_pairs",
    "ann_brute_topk",
    "text_token_stats",
    "text_fingerprint",
]


def _spark():
    from confluence2md_spark.session import get_spark

    return get_spark(
        app_name="bench_extra", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )


def cmd_queries(sf_dir: str, sweeps: int, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    best: dict[str, float] = {}
    for sweep in range(sweeps):
        for name in names:
            # a relation an earlier query left cached would let this one
            # skip its own work
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # one failing query must not end the sweep
                msg = (str(exc).strip().splitlines() or [""])[0]
                print(f"sweep{sweep} {name}: FAIL {type(exc).__name__}: {msg}", flush=True)
                continue
            dt = time.monotonic() - t0
            best[name] = min(best.get(name, dt), dt)
            print(f"sweep{sweep} {name}: {dt:.2f}s", flush=True)
    print({k: round(v, 2) for k, v in best.items()})
    spark.stop()


def cmd_kg(sf_dir: str, repeats: int) -> None:
    import shutil
    import tempfile

    from confluence2md_spark.plans.pipeline import build_kg
    from confluence2md_spark.sources.corpus import synth_raw_files

    spark = _spark()
    replicate = int(os.environ.get("SPARK_GRAFT_KG_REPLICATE", "8"))
    runs = []
    for attempt in range(repeats):
        wh = tempfile.mkdtemp(prefix="bench_extra_kg_")
        try:
            raw = synth_raw_files(spark, sf_dir, replicate=replicate)
            t0 = time.monotonic()
            res = build_kg(
                spark,
                raw,
                wh,
                run_id=f"bx{attempt}",
                num_partitions=int(CPUS) * 2,
                materialize_intermediates=False,
            )
            runs.append((time.monotonic() - t0, res))
            print(
                f"run{attempt}: wall={runs[-1][0]:.2f} "
                f"stages={ {k: round(v, 2) for k, v in res.stage_wall_s.items()} } "
                f"rows={res.stage_rows}",
                flush=True,
            )
        finally:
            shutil.rmtree(wh, ignore_errors=True)
    stage_min = {
        k: round(min(r.stage_wall_s[k] for _, r in runs), 2)
        for k in runs[0][1].stage_wall_s
    }
    print("stage_min:", stage_min, "sum:", round(sum(stage_min.values()), 2))
    spark.stop()


def cmd_pages(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from confluence2md_spark.operators.convert import (
        convert_pages,
        is_confluence_mime_col,
    )
    from confluence2md_spark.plans.skew import key_layout_census
    from confluence2md_spark.sources.corpus import synth_raw_files

    spark = _spark()
    replicate = int(os.environ.get("SPARK_GRAFT_KG_REPLICATE", "8"))
    for it in range(3):
        raw = synth_raw_files(spark, sf_dir, replicate=replicate)
        t0 = time.monotonic()
        hot, census = key_layout_census(raw.select("repo"), "repo")
        print(f"iter{it} census: {time.monotonic() - t0:.2f}s hot={hot}", flush=True)
        conf = raw.filter(
            F.when(
                F.monotonically_increasing_id() >= 0,
                is_confluence_mime_col(F.col("content")),
            ).otherwise(F.lit(False))
        )
        t1 = time.monotonic()
        conf.select("doc_id", "repo", "path", "commit", "content").write.format(
            "noop"
        ).mode("overwrite").save()
        print(f"iter{it} synth+filter noop: {time.monotonic() - t1:.2f}s", flush=True)
        t2 = time.monotonic()
        convert_pages(conf, prefilter=False).write.format("noop").mode(
            "overwrite"
        ).save()
        print(f"iter{it} convert noop: {time.monotonic() - t2:.2f}s", flush=True)
    spark.stop()


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    if cmd == "queries":
        sweeps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        names = sys.argv[4:] or HEADLINE
        cmd_queries(sf, sweeps, names)
    elif cmd == "kg":
        cmd_kg(sf, int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "pages":
        cmd_pages(sf)
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
