"""confluence2md_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference CLI (aqueeb/confluence2md:
Confluence MIME ``.doc`` export → GitHub-flavored Markdown) as a distributed,
Spark-first KG pipeline:

    raw_files (repo, path, commit, lang, content)
      → detect Confluence MIME          (vectorized predicate)
      → salted repartition of hot repos (only when the skew census asks)
      → MIME split + QP/base64 decode   (mapInPandas, Arrow batches)
      → HTML → Markdown normalization   (pandas UDF; pure-Python pandoc-subset)
      → triple extraction               (regexp_extract_all / explode — JVM side)
      → entity linking (MinHash/LSH)    (DataFrame-native band self-join)
      → canonicalization (connected components via iterative joins)
      → nodes/edges materialized        (catalog seam: parquet / Iceberg)

Layout:
  core/       pure-Python transform semantics (no Spark imports; unit-testable)
  sources/    table catalog (parquet locally, Iceberg seam) + fixture corpus
  operators/  Spark DataFrame operators (detection, conversion, extraction,
              linking, dedup, similarity, text analysis, multimodal plumbing)
  plans/      pipeline assembly, checkpoint/resume, lineage, skew handling
  streaming/  Structured Streaming: one drop-directory drain (source + append
              sink) over the pages/triples and stateful stream operators
"""

__version__ = "0.1.0"
