"""Output checks that run in the same command as the timing.

Extraction: every url's Spark output row is reduced to a digest over the
extractions schema, leaving out the columns that depend on scheduling
(``wall_ms``, ``partition_id``, ``lineage``), and compared with the digest
of ``kernels.oracle.extract_one`` on the same payload, run without Spark
in a few spawned worker processes.

Operators: each anchor query's result is hashed with
``tools/check_oracle.canon_df`` and compared with its DuckDB
``oracle_sql()`` twin over the same parquet directory, and the cold
result with the warm one.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import types as T

SCHEDULING_COLUMNS = ("wall_ms", "partition_id", "lineage")


def _canon(value, dtype):
    """Plain-JSON form of ``value`` read through the Spark type ``dtype``,
    so a Spark output row and an oracle dict of the same content compare
    equal."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return {f.name: _canon(value.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.ArrayType):
        return [_canon(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.DoubleType):
        return repr(float(value))
    if isinstance(dtype, T.TimestampType):
        return value.isoformat()
    return value


def _digest_schema():
    from ai_ocr_spark.pipeline import EXTRACTIONS_SCHEMA

    return T.StructType(
        [f for f in EXTRACTIONS_SCHEMA.fields if f.name not in SCHEDULING_COLUMNS + ("url",)]
    )


def row_digest(row: dict, schema: T.StructType) -> str:
    canon = _canon(row, schema)
    return hashlib.sha1(json.dumps(canon, sort_keys=True, ensure_ascii=False).encode()).hexdigest()


@dataclass
class OracleRun:
    """extract_one over every (url, payload): digests plus the per-document
    wall time that the kernel census is built from."""

    digests: dict[str, str] = field(default_factory=dict)
    raised: dict[str, str] = field(default_factory=dict)
    seconds: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0


def _oracle_chunk(pages: list[tuple[str, bytes, object]]) -> tuple[list[tuple], float]:
    """-> ([(url, digest or None, raised type or None, seconds)], cpu seconds)."""
    from ai_ocr_spark.kernels.oracle import extract_one

    schema = _digest_schema()
    out = []
    cpu0 = time.process_time()
    for url, payload, warc_ts in pages:
        payload = payload or b""
        t0 = time.perf_counter()
        try:
            r = extract_one(url, payload)
        except Exception as e:  # a raising document is a failure, not a crash
            out.append((url, None, type(e).__name__, time.perf_counter() - t0))
            continue
        dt = time.perf_counter() - t0
        r = dict(r, warc_ts=warc_ts, bytes_in=len(payload), error=None)
        out.append((url, row_digest(r, schema), None, dt))
    return out, time.process_time() - cpu0


def run_oracle(pages: list[tuple[str, bytes, object]], procs: int) -> OracleRun:
    """``pages`` = [(url, payload, warc_ts)] as the pipeline read them;
    extract_one runs in ``procs`` spawned worker processes."""
    chunks = [pages[i::procs * 8] for i in range(procs * 8)]
    out = OracleRun()
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        for rows, cpu in pool.imap_unordered(_oracle_chunk, chunks):
            out.cpu_s += cpu
            for url, digest, raised, dt in rows:
                out.seconds[url] = dt
                if raised:
                    out.raised[url] = raised
                else:
                    out.digests[url] = digest
        pool.close()
        pool.join()
    return out


@dataclass
class ExtractionCheck:
    error_rows: int
    mismatched: list[str]


def compare_extractions(rows, oracle: OracleRun, n_expected: int) -> ExtractionCheck:
    """``rows``: the Spark extraction rows (dicts) of one full pass."""
    schema = _digest_schema()
    seen: set[str] = set()
    mismatched: list[str] = []
    errors = 0
    for row in rows:
        url = row["url"]
        if url in seen:
            mismatched.append(f"duplicate url {url}")
            continue
        seen.add(url)
        if row["error"] is not None:
            errors += 1
        if url in oracle.raised:
            if not (row["error"] or "").startswith(oracle.raised[url]):
                mismatched.append(f"{url}: oracle raised {oracle.raised[url]}, spark did not")
            continue
        if oracle.digests.get(url) != row_digest(row, schema):
            mismatched.append(f"{url}: digest differs from extract_one")
    if len(seen) != n_expected:
        mismatched.append(f"{len(seen)} urls out, {n_expected} in")
    return ExtractionCheck(errors, mismatched)


def duckdb_hashes(sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """canon_df of each query's DuckDB oracle over the tables in sf_dir."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import TABLES, canon_df

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {name: canon_df(con.execute(sql[name]).df()) for name in names}
    finally:
        con.close()
