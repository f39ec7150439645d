"""Local stand-in for the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]``
on DuckDB over the same sf dir, and compares row count, sorted column
names, and an order-insensitive canonical value hash.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    """Dtype-faithful canonical form (driver-strength).

    The r1/r2 version collapsed integral floats to ints and formatted
    at 9 significant digits; that masked the DuckDB sum(INTEGER) ->
    HUGEINT -> pandas-float64 drift for two rounds while the driver's
    exact hash saw red (VERDICT r2 "What's wrong" #2). Floats now
    canonicalize via repr() — full precision, `0.0` stays `0.0` and
    never equals int `0` — so local green predicts driver green.
    """
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return repr(v)
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def _canon_value(v):
    """Normalize pandas/numpy scalars before canon_cell (shared by the
    hash path and the debug-diff path so they can never disagree)."""
    import numpy as np
    import pandas as pd

    if (
        (isinstance(v, float) and pd.isna(v))
        or v is pd.NaT
        or v is None
        or (isinstance(v, np.floating) and np.isnan(v))
    ):
        return None
    return v.item() if isinstance(v, np.generic) else v


def canon_row(tup) -> str:
    return "\x1f".join(canon_cell(_canon_value(v)) for v in tup)


def canon_df(pdf) -> tuple[int, list[str], list[str], str]:
    """Row count, sorted columns, per-column dtype kinds, value hash.

    Kinds (numpy kind chars: i=int, f=float, b=bool, M=datetime,
    O=object) catch engine-side type drift even when every value
    happens to render identically; kind (not full dtype) avoids false
    alarms on datetime64[ns] vs datetime64[us] resolution."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    kinds = [pdf[c].dtype.kind for c in cols]
    rows = [canon_row(tup) for tup in pdf.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, kinds, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    import __spark_entry__ as entrymod
    from ai_ocr_spark.session import get_spark

    spark = get_spark(app="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            n_fail += 1
            continue
        sn, sc, sk, sh = canon_df(sdf)
        on, oc, ok_, oh = canon_df(odf)
        ok = (sn, sc, sk, sh) == (on, oc, ok_, oh)
        if ok:
            n_pass += 1
            print(f"PASS {name}: {sn} rows ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            print(
                f"FAIL {name}: spark({sn},{sc},{sk},{sh})"
                f" vs duck({on},{oc},{ok_},{oh})"
            )
            if sn == on and sc == oc:
                # show first differing row (same canon as the hash path)
                srows = sorted(
                    canon_row(t) for t in sdf[sorted(sdf.columns)].itertuples(index=False, name=None)
                )
                orows = sorted(
                    canon_row(t) for t in odf[sorted(odf.columns)].itertuples(index=False, name=None)
                )
                for a, b in zip(srows, orows):
                    if a != b:
                        print(f"  spark: {a[:200]}\n  duck : {b[:200]}")
                        break
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
