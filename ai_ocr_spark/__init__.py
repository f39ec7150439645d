"""ai_ocr_spark — a PySpark-native web-scale extraction engine.

A from-scratch reimplementation of the per-document extraction +
validation core of the reference system (yutosuda/ai-ocr, see SURVEY.md)
as a pure batch DataFrame pipeline over Common-Crawl-style page tables:

    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

The reference's API/queue/DB microservice wrapping (FastAPI + Redis +
Postgres + MinIO; reference src/processor/app/main.py:96-143) is replaced
by DataFrame transforms; its LLM extraction node is replaced by
deterministic kernels (see ai_ocr_spark.kernels).

Layout:
    kernels/    pure-Python/NumPy per-document kernels (no Spark imports)
    pipeline.py the fused mapInPandas extraction pipeline + skew handling
    catalog.py  snapshot-manifest table layout (Iceberg-style, parquet-backed)
    datagen.py  deterministic seeded synthetic pages generator
    memo.py     memoized, eagerly materialized operator intermediates
    functions/  column-expression equivalents of the reference's scalar ops
    operators/  relational + training-data operators (dedup, ANN, text)
"""

__version__ = "0.1.0"

KERNEL_VERSION = "k1"  # bump on any kernel semantics change (lineage field)
