"""spark-submit entry point: build the knowledge graph.

    spark-submit --py-files kg.zip jobs/build_kg.py \
        --sf-dir /root/testdata/sf0.001 --warehouse /tmp/kgwh --run-id r1

On a real cluster `--table` points at the Iceberg raw_files corpus instead
of --sf-dir (which synthesizes the deterministic test corpus locally).
Prints one JSON line with stage rows/wall-times and triples/sec.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Allow `python jobs/build_kg.py` without --py-files / PYTHONPATH.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

__version__ = "2.0.0"

USAGE = """confluence2md-spark - Build a knowledge graph from Confluence MIME exports

Usage:
  build_kg.py --sf-dir <testdata dir> --warehouse <dir>
  build_kg.py --table <raw_files table> --warehouse <dir>

Run 'build_kg.py --help' for all flags.
"""


class _Parser(argparse.ArgumentParser):
    """Reference exit-code taxonomy (main.go:113-121, main_test.go
    TestRun_NoArgs): usage errors exit 1 with usage on stderr, not
    argparse's default 2."""

    def error(self, message):
        sys.stderr.write(USAGE)
        sys.stderr.write(f"Error: {message}\n")
        raise SystemExit(1)


def _jvm_heap(spark) -> str | None:
    """The driver heap the JVM was launched with (its `-Xmx` argument).
    The SparkConf's spark.driver.memory is not it: under spark-submit the
    JVM already runs when get_spark sets that key to its in-code default."""
    args = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean()
        .getInputArguments()
    )
    xmx = [a[4:] for a in args if a.startswith("-Xmx")]
    return xmx[-1] if xmx else None


def main(argv: list[str] | None = None) -> int:
    ap = _Parser(description="Build the Confluence knowledge graph")
    ap.add_argument("--sf-dir", help="testdata dir to synthesize the corpus from")
    ap.add_argument("--table", help="existing raw_files table path (parquet/Iceberg)")
    ap.add_argument("--warehouse")
    ap.add_argument(
        "--version", action="store_true", help="show version and exit"
    )
    ap.add_argument(
        "-v", "--verbose", action="store_true",
        help="per-stage progress lines on stderr (reference -v/--verbose)",
    )
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument(
        "--replicate",
        type=int,
        default=1,
        help="tile the synthesized corpus N times (scaling benchmarks)",
    )
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="compute + count every stage, write nothing (A6 semantics)",
    )
    ap.add_argument(
        "--lean",
        action="store_true",
        help="skip non-product intermediate sinks (triples_raw table, "
        "canon_map table); pages/edges/nodes remain resumable",
    )
    args = ap.parse_args(argv)
    if args.version:
        # main.go:88-95 --version semantics: print and exit 0
        print(f"confluence2md-spark {__version__}")
        return 0
    if not args.sf_dir and not args.table:
        ap.error("one of --sf-dir or --table is required")
    if not args.warehouse:
        ap.error("--warehouse is required")
    if args.table and not os.path.exists(args.table):
        # main_test.go TestRun_NonExistentFile: 'Error: ...' on stderr, exit 1
        sys.stderr.write(f"Error: input table does not exist: {args.table}\n")
        return 1
    if args.sf_dir and not os.path.exists(
        os.path.join(args.sf_dir, "documents.parquet")
    ):
        sys.stderr.write(f"Error: no documents.parquet under {args.sf_dir}\n")
        return 1

    from pyspark.sql import functions as F

    from confluence2md_spark.operators.convert import is_confluence_mime_col
    from confluence2md_spark.plans.pipeline import build_kg
    from confluence2md_spark.session import get_spark
    from confluence2md_spark.sources.corpus import synth_raw_files

    spark = get_spark(
        app_name=f"kg-build-{args.run_id}",
        master=args.master,
        # size the shuffle to the requested width (AQE coalesces further);
        # without --partitions it is one partition per local task slot
        shuffle_partitions=args.partitions,
    )
    try:
        if args.table:
            raw = spark.read.parquet(args.table)
        else:
            raw = synth_raw_files(spark, args.sf_dir, replicate=args.replicate)
        # main.go convertDirectory 'No .doc files found' analog: a corpus
        # with zero Confluence exports is a clean no-op, exit 0.
        if raw.filter(is_confluence_mime_col(F.col("content"))).limit(1).count() == 0:
            print("No Confluence MIME documents found in input")
            return 0
        if args.verbose:
            sys.stderr.write(f"converting from {args.table or args.sf_dir}\n")
        res = build_kg(
            spark,
            raw,
            args.warehouse,
            run_id=args.run_id,
            num_partitions=args.partitions,
            dry_run=args.dry_run,
            materialize_intermediates=not args.lean,
        )
        if args.verbose:
            for name, rows in res.stage_rows.items():
                sys.stderr.write(
                    f"  stage {name}: {rows} rows in "
                    f"{res.stage_wall_s.get(name, 0):.2f}s"
                    + (" (resumed)" if name in res.resumed_stages else "")
                    + "\n"
                )
        n_triples = res.stage_rows.get("edges", 0)
        wall = res.total_wall_s
        print(
            json.dumps(
                {
                    "run_id": res.run_id,
                    "stage_rows": res.stage_rows,
                    "stage_wall_s": {k: round(v, 2) for k, v in res.stage_wall_s.items()},
                    "resumed_stages": res.resumed_stages,
                    "triples": n_triples,
                    "wall_s": round(wall, 2),
                    "triples_per_sec": round(n_triples / wall, 1) if wall > 0 else None,
                    "session": {
                        "master": spark.sparkContext.master,
                        "driver_memory": _jvm_heap(spark),
                        "shuffle_partitions": int(
                            spark.conf.get("spark.sql.shuffle.partitions")
                        ),
                    },
                }
            )
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
