"""K5 — triple precision/recall gate (north_rule: P/R >= 0.95).

Golden set = the closed-form expected triples stated independently by DuckDB
from the corpus formulas (sources/corpus.py); emitted set = the full Spark
pipeline's triples_raw. Precision = |emitted ∩ golden| / |emitted|,
recall = |emitted ∩ golden| / |golden|.

    python scripts/pr_gate.py [sf_dir]   # exit 1 if either < 0.95
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def golden_triples(sf_dir: str) -> set[tuple]:
    from confluence2md_spark.sources.corpus import IS_PAGE_SQL, TITLE_ID_SQL

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    n = "(SELECT count(*) FROM documents)"
    subj = "'page:' || CAST(doc_id AS STRING)"
    sql = f"""
SELECT {subj} AS subj, 'links_to' AS pred, 'page:' || CAST((doc_id*7+1) % {n} AS STRING) AS obj
FROM documents WHERE {IS_PAGE_SQL}
UNION ALL
SELECT {subj}, 'links_to', 'page:' || CAST((doc_id*3+2) % {n} AS STRING) FROM documents WHERE {IS_PAGE_SQL}
UNION ALL
SELECT {subj}, 'contains_heading', 'section:Page ' || CAST({TITLE_ID_SQL} AS STRING) FROM documents WHERE {IS_PAGE_SQL}
UNION ALL
SELECT {subj}, 'contains_heading', 'section:Details' FROM documents WHERE {IS_PAGE_SQL}
UNION ALL
SELECT {subj}, 'contains_heading', 'section:Notes' FROM documents WHERE {IS_PAGE_SQL} AND doc_id % 3 = 0
UNION ALL
SELECT {subj}, 'authored_by', 'user:user' || CAST(doc_id % 25 AS STRING) FROM documents WHERE {IS_PAGE_SQL}
UNION ALL
SELECT {subj}, 'has_attachment', 'file:att-' || CAST(doc_id AS STRING) || '.png'
FROM documents WHERE {IS_PAGE_SQL} AND doc_id % 4 = 0
UNION ALL
SELECT {subj}, 'has_attachment', 'file:spec-' || CAST(doc_id AS STRING) || '.pdf'
FROM documents WHERE {IS_PAGE_SQL} AND doc_id % 6 = 0
"""
    return {tuple(r) for r in con.execute(sql).fetchall()}


def emitted_triples(sf_dir: str) -> set[tuple]:
    from confluence2md_spark.operators.convert import convert_pages
    from confluence2md_spark.operators.triples import extract_all_triples
    from confluence2md_spark.session import get_spark
    from confluence2md_spark.sources.corpus import synth_raw_files

    spark = get_spark()  # width from the machine; SPARK_GRAFT_CPUS overrides
    raw = synth_raw_files(spark, sf_dir)
    pages = convert_pages(raw, num_partitions=spark.sparkContext.defaultParallelism)
    triples = extract_all_triples(pages).select("subj", "pred", "obj")
    out = {tuple(r) for r in triples.collect()}
    spark.stop()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    golden = golden_triples(sf_dir)
    emitted = emitted_triples(sf_dir)
    inter = golden & emitted
    precision = len(inter) / len(emitted) if emitted else 0.0
    recall = len(inter) / len(golden) if golden else 0.0
    ok = precision >= 0.95 and recall >= 0.95
    print(
        json.dumps(
            {
                "sf": sf_dir,
                "golden": len(golden),
                "emitted": len(emitted),
                "matched": len(inter),
                "precision": round(precision, 6),
                "recall": round(recall, 6),
                "gate": 0.95,
                "pass": ok,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
