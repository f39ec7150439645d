"""Operator inventory (SURVEY.md §2) as (spark, sf_dir) -> DataFrame
callables, plus the training-data operators (dedup, similarity, text
analysis, multimodal) the engine adds for 100 TB pipelines.

Every callable here has a DuckDB SQL twin, defined beside it as a
``*_ORACLE_SQL`` constant (or generated in ``oracles.py``) and paired
with it by one ``__spark_entry__._OPS`` row.
"""
