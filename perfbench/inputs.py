"""Seeded benchmark inputs, written under the benchmark's own work dir.

The benchmark reads nothing outside its checkout, so it cannot use the
fixture tables that ``TESTDATA.md`` describes. It writes the two fixture
tables the anchor queries read, with the shape measured on the sf0.01 and
sf0.1 fixtures, from its own seed:

* ``documents`` -- ``50,000 * sf`` rows; each text is 10-99 words drawn
  uniformly from the fixtures' 30-word vocabulary, on one line; exactly one
  document in twenty is a copy of a random other text plus the token
  ``dup`` (so a few of those repeat exactly); ``lang`` en 41 %, zh, es and
  fr 15 % each, de 14 %; ``source`` = ``src<doc_id % 20>``; ``n_chars`` =
  text length. Four of the anchor queries read it.
* ``lineitem`` -- ``6,000,000 * sf`` rows with the fixtures' key ranges and
  uniform columns; ``q1_pricing_summary`` reads it.

The mixed-content crawl pages come from the program's own generator,
``ai_ocr_spark.datagen.write_pages_parquet``.

The same seed always gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a the spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "join vector customer"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_NEAR_DUP_EVERY = 20
_DATE0 = np.datetime64("1995-01-02")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    base = list(texts)
    for i in rng.choice(n, n // _NEAR_DUP_EVERY, replace=False):
        texts[i] = base[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n_ord = max(int(1_500_000 * sf), 200)
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n = n_ord * 4
    ship = _DATE0 + rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n).tolist(),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def write_anchor_tables(out_dir: str, sf: float, seed: int) -> None:
    """``documents`` and ``lineitem`` at scale ``sf``, the only tables the
    anchor queries read."""
    rng = np.random.default_rng([seed, 0x57A9])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        _documents(rng, max(int(50_000 * sf), 200)), os.path.join(out_dir, "documents.parquet")
    )
    pq.write_table(_lineitem(rng, sf), os.path.join(out_dir, "lineitem.parquet"))
