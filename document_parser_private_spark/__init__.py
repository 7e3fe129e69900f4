"""PySpark-native document extraction + analytics engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
extraction pipeline (amos-maganyane/document-parser-private): main-content
extraction over Iceberg/parquet tables of interleaved text+media documents,
expressed as DataFrame transforms + vectorized Arrow/pandas UDFs.

Layout:
  sources/    — readers/writers for the documents table + text block splitter
  functions/  — native Column-expression scalar functions (regex/date/pii)
  operators/  — DataFrame->DataFrame transforms (classify, layout, sections,
                normalize, dedup, similarity, textstats, multimodal, metrics)
  plans/      — end-to-end pipeline assembly, skew handling, checkpoint/resume
  streaming/  — Structured Streaming variants
"""

__version__ = "0.1.0"
