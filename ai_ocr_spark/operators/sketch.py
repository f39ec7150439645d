"""Deterministic sketches, stable sampling and exact order statistics.

  sketch_distinct_kmv  K-minimum-values distinct-count sketch: per
                       group, the K smallest 60-bit content hashes; the
                       estimate (K-1)/(kth/2^60) is fully deterministic
                       (unlike HLL++, whose register layout differs
                       across engines), so the DuckDB twin matches the
                       estimate bit-for-bit — a sketch with an exact
                       oracle.
  sample_hash_stable   Bernoulli sampling by hash threshold: the
                       industry-standard stable sample (same rows in
                       every run, engine, and shard layout — unlike
                       rand()-based sampling). Keep iff
                       hash60(doc_id) < p * 2^60.
  agg_length_percentiles
                       Exact nearest-rank length percentiles per
                       language — the standard corpus-quality report.
                       Nearest-rank (value at ceil(p/100 * n)) rather
                       than interpolated quantiles: interpolation
                       formulas differ across engines (and across
                       float summation orders), order statistics are
                       engine-independent integers.
  sketch_distinct_hll  HyperLogLog with the register layout made part
                       of the contract: md5-derived 60-bit hash, top 6
                       bits pick one of 64 registers, rho = leading
                       zeros of the 54-bit remainder + 1. The harmonic
                       mean is integer-scaled (sum of 2^(55-M_j) as
                       BIGINT — exact, order-independent) and the
                       small-range linear-counting branch indexes a
                       precomputed ln table instead of calling ln(), so
                       both engines produce the identical estimate.

All ride the scan + one shuffle at most; hashes are md5-derived
(functions/text.py hash15) so cross-engine reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..memo import memo

KMV_K = 32
HASH_SPACE = float(1 << 60)  # hash15 yields 60-bit non-negative ints
SAMPLE_THRESHOLD = (1 << 60) // 10  # p = 0.1 of the hash space


def sketch_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-text estimate from the K smallest distinct
    content hashes. Shape: distinct -> per-group top-K by window ->
    tiny per-group aggregate; at 10^12 rows the top-K becomes a partial
    bottom-K aggregate, same math."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = TX.hash15(TX.norm_text(F.col("text")))
    d = docs.select("source", h.alias("h")).distinct()
    w = Window.partitionBy("source").orderBy(F.asc("h"))
    topk = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= KMV_K)
    agg = topk.groupBy("source").agg(
        F.count(F.lit(1)).alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    exact = (
        docs.select("source", h.alias("h"))
        .groupBy("source")
        .agg(F.countDistinct("h").alias("n_exact"))
    )
    est = F.when(
        F.col("k_seen") < KMV_K, F.col("k_seen").cast("double")
    ).otherwise(
        (F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE))
        / F.col("kth_hash").cast("double")
    )
    return (
        agg.join(exact, "source")
        .select(
            "source",
            F.col("k_seen").cast("long").alias("k_seen"),
            "kth_hash",
            F.round(est, 4).alias("estimate"),
            "n_exact",
        )
    )


KMV_ORACLE_SQL = f"""
    WITH h AS (
        SELECT source,
               CAST(('0x' || substr(md5(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g'))), 1, 15))
                   AS BIGINT) AS h
        FROM documents
    ),
    d AS (SELECT DISTINCT source, h FROM h),
    topk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
            FROM d
        ) WHERE rn <= {KMV_K}
    ),
    agg AS (
        SELECT source, count(*) AS k_seen, max(h) AS kth_hash
        FROM topk GROUP BY source
    ),
    exact AS (SELECT source, count(DISTINCT h) AS n_exact FROM h GROUP BY source)
    SELECT agg.source,
           CAST(k_seen AS BIGINT) AS k_seen,
           kth_hash,
           round(CASE WHEN k_seen < {KMV_K} THEN CAST(k_seen AS DOUBLE)
                 ELSE ({float(KMV_K - 1)} * {HASH_SPACE})
                      / CAST(kth_hash AS DOUBLE) END, 4) AS estimate,
           n_exact
    FROM agg JOIN exact USING (source)
"""


def sample_hash_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable ~10% Bernoulli sample of documents by doc_id hash — the
    deterministic sampling primitive (repeatable across runs/engines/
    partitionings, unlike rand()). Pure scan-side filter."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = TX.hash15(F.col("doc_id").cast("string"))
    return docs.select("doc_id", h.alias("h"), "source").filter(
        F.col("h") < SAMPLE_THRESHOLD
    )


SAMPLE_ORACLE_SQL = f"""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h,
           source
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
          AS BIGINT) < {SAMPLE_THRESHOLD}
"""

SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test gets the remainder


def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split with EXACT
    per-stratum proportions: within each source, documents are ranked
    by content-independent hash60(doc_id) (stable across runs, engines
    and shard layouts) and the first floor(80%·n) go to train, the
    next slice to val, the rest to test — so every stratum hits its
    quota exactly, not just in expectation like a pure hash-threshold
    split (sample_hash_stable). Integer threshold arithmetic
    ((pct·n) DIV 100) keeps both engines identical.

    Scale: one shuffle on the stratum key + a per-stratum sort of
    (hash, doc_id) pairs — 16 bytes a row, so a 10^12-doc stratum
    sorts ~16 TB spread over its partitions; when a single stratum is
    too hot for that, degrade to the O(1) scan-side hash-threshold
    split and accept binomial jitter in the proportions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = TX.hash15(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    w_all = Window.partitionBy("source")
    ranked = docs.select("doc_id", "source", h.alias("h")).select(
        "doc_id",
        "source",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    split = (
        F.when(
            F.col("rn") <= F.expr(f"({SPLIT_TRAIN_PCT} * n) DIV 100"), "train"
        )
        .when(
            F.col("rn")
            <= F.expr(f"(({SPLIT_TRAIN_PCT} + {SPLIT_VAL_PCT}) * n) DIV 100"),
            "val",
        )
        .otherwise("test")
    )
    return ranked.select(
        "doc_id", "source", split.alias("split"), F.col("rn").cast("long").alias("rn")
    )


SPLIT_ORACLE_SQL = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h,
               row_number() OVER (PARTITION BY source ORDER BY
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT), doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN rn <= ({SPLIT_TRAIN_PCT} * n) // 100 THEN 'train'
                WHEN rn <= (({SPLIT_TRAIN_PCT} + {SPLIT_VAL_PCT}) * n) // 100
                     THEN 'val'
                ELSE 'test' END AS split,
           CAST(rn AS BIGINT) AS rn
    FROM ranked
"""


PERCENTILE_PS = (25, 50, 75, 90, 99)


def agg_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles via cumulative counts.

    Scale shape: groupBy (lang, len) FIRST — the map-side partial
    combine collapses 10^12 rows to at most |langs| x |distinct
    lengths| rows BEFORE the shuffle — then one small window over the
    distinct lengths computes the cumulative distribution, and the
    percentile is the first length whose cumulative count reaches the
    nearest-rank target ceil(p*n/100). This avoids the naive
    row_number-over-every-document sort (which puts the full corpus
    through one per-language sort partition) while staying EXACT,
    unlike approx_percentile. Rank arithmetic is integer-only
    ((p*n + 99) DIV 100), so no float divergence between engines.

    Reference parity: the reference profiles numeric columns with
    per-column min/max/mean (src/api/app/parsers/excel_parser.py:
    228-233 numeric_columns stats); percentiles extend that profile,
    computed distributively and exactly.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select(
        "lang",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("len"),
    )
    counts = d.groupBy("lang", "len").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = counts.select(
        "lang",
        "len",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    # ceil(p*n/100) == (p*n + 99) DIV 100 for positive ints; integer
    # DIV keeps both engines in integer math (no float quotient).
    pct_cols = [
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"CAST(({p} * n + 99) DIV 100 AS BIGINT)"),
                F.col("len"),
            )
        ).alias(f"p{p}")
        for p in PERCENTILE_PS
    ]
    return cum.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"), *pct_cols
    )


PERCENTILE_ORACLE_SQL = f"""
    WITH d AS (
        SELECT lang,
               CAST(length(coalesce(text, '')) AS BIGINT) AS len
        FROM documents
    ),
    c AS (SELECT lang, len, count(*) AS cnt FROM d GROUP BY lang, len),
    cum AS (
        SELECT lang, len,
               sum(cnt) OVER (PARTITION BY lang ORDER BY len
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS n
        FROM c
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           {", ".join(
               f"CAST(min(CASE WHEN cum >= ({p} * n + 99) // 100 "
               f"THEN len END) AS BIGINT) AS p{p}"
               for p in PERCENTILE_PS
           )}
    FROM cum GROUP BY lang
"""


# --- HyperLogLog with a contract-stable register layout -----------------

HLL_M = 64  # registers (p = 6 index bits of the 60-bit hash)
HLL_REM_BITS = 54  # remainder bits scanned for the leading-1 position
# alpha_64 * m^2 * 2^55 precomputed in Python and embedded verbatim in
# both engines' query text — one float literal, one division, no
# engine-side constant folding to diverge.
HLL_NUM = 0.709 * HLL_M * HLL_M * float(1 << (HLL_REM_BITS + 1))
# Linear-counting branch: m * ln(m / V) for V = 1..64, precomputed so
# neither engine calls ln() (libm implementations are only
# faithfully-rounded — the one sub-ulp divergence source in HLL).
HLL_LN_TABLE = [HLL_M * __import__("math").log(HLL_M / v) for v in range(1, HLL_M + 1)]


def sketch_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct estimate with cross-engine-exact
    registers — the mergeable counterpart to sketch_distinct_kmv.

    Register layout is part of the contract: reg = top 6 bits of the
    60-bit md5 hash, rho = leading zeros of the 54-bit remainder + 1
    (computed as 55 - length(bin(rem)), pure integer/string ops both
    engines have). The harmonic mean sums 2^(55-M_j) as BIGINT (each
    term a power of two, total <= 64*2^55 < 2^63 — exact and
    order-independent, unlike a float sum of 2^-M_j whose 55-bit spread
    rounds order-dependently), and the small-range correction indexes
    HLL_LN_TABLE instead of calling ln().

    Scale shape: two map-side-combinable aggregations — (group, reg)
    max then a 64-rows-per-group rollup. Register state is constant
    size per group, so shards merge by pairwise max: the reason HLL
    (not exact countDistinct, which shuffles every distinct value) is
    the 10^12-row cardinality operator. The exact count is joined in
    here only as the accuracy witness at test scale.

    Reference parity: the reference's dataset profiling counts uniques
    with pandas nunique (src/api/app/parsers/excel_parser.py:214
    unique_count); this is that statistic as a mergeable sketch.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = TX.hash15(TX.norm_text(F.col("text")))
    hashed = docs.select("source", h.alias("h"))
    base = hashed.select(
        "source",
        F.shiftright(F.col("h"), HLL_REM_BITS).alias("reg"),
        F.col("h").bitwiseAND(F.lit((1 << HLL_REM_BITS) - 1)).alias("rem"),
    )
    rho = F.when(F.col("rem") == 0, F.lit(HLL_REM_BITS + 1)).otherwise(
        F.lit(HLL_REM_BITS + 1) - F.length(F.bin(F.col("rem")))
    )
    regs = (
        base.select("source", "reg", rho.alias("rho"))
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    # 2^(55 - m_j) via pow(2.0, k): exact for k <= 54 and immune to the
    # shiftleft Python-int-position slot (CLAUDE.md footgun).
    term = F.pow(
        F.lit(2.0), (F.lit(HLL_REM_BITS + 1) - F.col("m_j")).cast("double")
    ).cast("long")
    agg = regs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(term).alias("s_present"),
        F.sum((F.col("reg") + 1) * F.col("m_j")).cast("long").alias("reg_checksum"),
    )
    v = F.lit(HLL_M) - F.col("n_regs")
    s = (
        F.col("s_present") + v * F.lit(1 << (HLL_REM_BITS + 1))
    ).cast("double")
    raw = F.lit(HLL_NUM) / s
    ln_arr = F.array(*[F.lit(x) for x in HLL_LN_TABLE])
    est = F.when(
        (v > 0) & (raw <= F.lit(2.5 * HLL_M)),
        F.try_element_at(ln_arr, v.cast("int")),
    ).otherwise(raw)
    exact = hashed.groupBy("source").agg(F.countDistinct("h").alias("n_exact"))
    return agg.join(exact, "source").select(
        "source",
        "n_regs",
        v.cast("long").alias("v_zero"),
        "reg_checksum",
        F.round(est, 4).alias("estimate"),
        "n_exact",
    )


HLL_ORACLE_SQL = f"""
    WITH h AS (
        SELECT source,
               CAST(('0x' || substr(md5(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g'))), 1, 15))
                   AS BIGINT) AS h
        FROM documents
    ),
    b AS (
        SELECT source, h >> {HLL_REM_BITS} AS reg,
               h & ((1::BIGINT << {HLL_REM_BITS}) - 1) AS rem
        FROM h
    ),
    r AS (
        SELECT source, reg,
               max(CASE WHEN rem = 0 THEN {HLL_REM_BITS + 1}
                   ELSE {HLL_REM_BITS + 1} - length(bin(rem)) END) AS m_j
        FROM b GROUP BY source, reg
    ),
    a AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_regs,
               CAST(sum(1::BIGINT << ({HLL_REM_BITS + 1} - m_j)) AS BIGINT)
                   AS s_present,
               CAST(sum((reg + 1) * m_j) AS BIGINT) AS reg_checksum
        FROM r GROUP BY source
    ),
    e AS (SELECT source, count(DISTINCT h) AS n_exact FROM h GROUP BY source),
    est AS (
        SELECT source, n_regs, {HLL_M} - n_regs AS v_zero, reg_checksum,
               {HLL_NUM!r} / CAST(s_present
                   + ({HLL_M} - n_regs) * (1::BIGINT << {HLL_REM_BITS + 1})
                   AS DOUBLE) AS raw
        FROM a
    )
    SELECT est.source, n_regs, CAST(v_zero AS BIGINT) AS v_zero, reg_checksum,
           round(CASE WHEN v_zero > 0 AND raw <= {2.5 * HLL_M!r}
                 THEN ([{", ".join(repr(x) for x in HLL_LN_TABLE)}])[CAST(v_zero AS INT)]
                 ELSE raw END, 4) AS estimate,
           n_exact
    FROM est JOIN e USING (source)
"""


# --- HLL shard merge: the mergeability witness ---------------------------------

HLL_SHARDS = 8


def sketch_hll_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL THE 10^12-row cardinality operator,
    proven as a value-checked query instead of a docstring claim: build
    an independent register set per shard (shard = hash % HLL_SHARDS —
    the per-day / per-partition sketch a crawl fleet would emit), merge
    shards by pairwise register MAX, and witness that the merged
    registers equal the direct single-pass registers EXACTLY (max is
    associative/commutative, so sketch-of-shards == sketch-of-union —
    the algebraic fact that lets a 1000-executor fleet aggregate
    cardinalities with constant-size state and no re-scan).

    Output per source: shard count, merged register stats, the merged
    estimate (same arithmetic as sketch_distinct_hll), and
    merge_equals_direct — the witness bit, which a register-layout or
    merge-order bug would flip. All intermediates are the proven
    integer forms (2^(55-m_j) BIGINT sums, table-lookup ln), so the
    DuckDB twin is bit-identical.

    Scale shape: three map-side-combinable aggregations ((source,
    shard, reg) max -> (source, reg) max -> per-source rollup), state
    bounded at HLL_SHARDS x HLL_M rows per source regardless of corpus
    size; the direct-register leg reuses the same base scan.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = TX.hash15(TX.norm_text(F.col("text")))
    base = docs.select(
        "source",
        (TX.hash15(TX.norm_text(F.col("text"))) % HLL_SHARDS).alias("shard"),
        F.shiftright(h, HLL_REM_BITS).alias("reg"),
        h.bitwiseAND(F.lit((1 << HLL_REM_BITS) - 1)).alias("rem"),
    )
    rho = F.when(F.col("rem") == 0, F.lit(HLL_REM_BITS + 1)).otherwise(
        F.lit(HLL_REM_BITS + 1) - F.length(F.bin(F.col("rem")))
    )
    shard_regs = (
        base.select("source", "shard", "reg", rho.alias("rho"))
        .groupBy("source", "shard", "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    merged = shard_regs.groupBy("source", "reg").agg(F.max("m_j").alias("m_j"))
    direct = (
        base.select("source", "reg", rho.alias("rho"))
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("m_j"))
    )

    def _rollup(regs, prefix):
        term = F.pow(
            F.lit(2.0), (F.lit(HLL_REM_BITS + 1) - F.col("m_j")).cast("double")
        ).cast("long")
        return regs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(f"{prefix}n_regs"),
            F.sum(term).alias(f"{prefix}s_present"),
            F.sum((F.col("reg") + 1) * F.col("m_j"))
            .cast("long")
            .alias(f"{prefix}reg_checksum"),
        )

    m_agg = _rollup(merged, "")
    d_agg = _rollup(direct, "d_")
    shards_used = shard_regs.select("source", "shard").distinct().groupBy(
        "source"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_shards"))
    v = F.lit(HLL_M) - F.col("n_regs")
    s_tot = (
        F.col("s_present") + v * F.lit(1 << (HLL_REM_BITS + 1))
    ).cast("double")
    raw = F.lit(HLL_NUM) / s_tot
    ln_arr = F.array(*[F.lit(x) for x in HLL_LN_TABLE])
    est = F.when(
        (v > 0) & (raw <= F.lit(2.5 * HLL_M)),
        F.try_element_at(ln_arr, v.cast("int")),
    ).otherwise(raw)
    return (
        m_agg.join(d_agg, "source")
        .join(shards_used, "source")
        .select(
            "source",
            "n_shards",
            "n_regs",
            "reg_checksum",
            F.round(est, 4).alias("estimate"),
            (
                (F.col("n_regs") == F.col("d_n_regs"))
                & (F.col("s_present") == F.col("d_s_present"))
                & (F.col("reg_checksum") == F.col("d_reg_checksum"))
            ).alias("merge_equals_direct"),
        )
    )


HLL_MERGE_ORACLE_SQL = f"""
    WITH h AS (
        SELECT source,
               CAST(('0x' || substr(md5(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g'))), 1, 15))
                   AS BIGINT) AS h
        FROM documents
    ),
    b AS (
        SELECT source, h % {HLL_SHARDS} AS shard,
               h >> {HLL_REM_BITS} AS reg,
               h & ((1::BIGINT << {HLL_REM_BITS}) - 1) AS rem
        FROM h
    ),
    sr AS (
        SELECT source, shard, reg,
               max(CASE WHEN rem = 0 THEN {HLL_REM_BITS + 1}
                   ELSE {HLL_REM_BITS + 1} - length(bin(rem)) END) AS m_j
        FROM b GROUP BY source, shard, reg
    ),
    m AS (SELECT source, reg, max(m_j) AS m_j FROM sr GROUP BY source, reg),
    d AS (
        SELECT source, reg,
               max(CASE WHEN rem = 0 THEN {HLL_REM_BITS + 1}
                   ELSE {HLL_REM_BITS + 1} - length(bin(rem)) END) AS m_j
        FROM b GROUP BY source, reg
    ),
    ma AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_regs,
               CAST(sum(1::BIGINT << ({HLL_REM_BITS + 1} - m_j)) AS BIGINT)
                   AS s_present,
               CAST(sum((reg + 1) * m_j) AS BIGINT) AS reg_checksum
        FROM m GROUP BY source
    ),
    da AS (
        SELECT source, CAST(count(*) AS BIGINT) AS d_n_regs,
               CAST(sum(1::BIGINT << ({HLL_REM_BITS + 1} - m_j)) AS BIGINT)
                   AS d_s_present,
               CAST(sum((reg + 1) * m_j) AS BIGINT) AS d_reg_checksum
        FROM d GROUP BY source
    ),
    su AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_shards
        FROM (SELECT DISTINCT source, shard FROM sr) GROUP BY source
    ),
    est AS (
        SELECT source, n_regs, s_present, reg_checksum,
               {HLL_M} - n_regs AS v_zero,
               {HLL_NUM!r} / CAST(s_present
                   + ({HLL_M} - n_regs) * (1::BIGINT << {HLL_REM_BITS + 1})
                   AS DOUBLE) AS raw
        FROM ma
    )
    SELECT est.source, su.n_shards, est.n_regs, est.reg_checksum,
           round(CASE WHEN v_zero > 0 AND raw <= {2.5 * HLL_M!r}
                 THEN ([{", ".join(repr(x) for x in HLL_LN_TABLE)}])[CAST(v_zero AS INT)]
                 ELSE raw END, 4) AS estimate,
           (est.n_regs = da.d_n_regs AND est.s_present = da.d_s_present
            AND est.reg_checksum = da.d_reg_checksum) AS merge_equals_direct
    FROM est
    JOIN da ON da.source = est.source
    JOIN su ON su.source = est.source
"""


# --- count-min sketch heavy hitters --------------------------------------

CMS_W = 512  # counters per row
CMS_D = 3  # salted rows
CMS_TOP_N = 20  # heavy hitters reported


def sketch_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch estimates for the corpus's top-N tokens, next
    to their exact counts — heavy-hitter detection (boilerplate token /
    hot-key discovery), the third classic sketch beside KMV and HLL.

    All-integer and deterministic: cell (d, w) sums the counts of every
    token with hash60(d || ':' || token) % W == w; the estimate is the
    min over the D rows, always >= the exact count (the CMS guarantee,
    asserted in tests). Built FROM the aggregated (token, count) table,
    which is update-order-independent — the reason the twin is exact.

    Scale shape: one map-side-combinable token count shuffle (the only
    corpus-sized exchange), persisted+memoized like the dedup band
    index so the cells branch and the top-N branch both read ONE
    materialization (without the barrier the plan recomputes the
    corpus aggregate per consumer — 6 scans measured); lanes fan out
    D-wide via a single struct explode, the D*W-cell rollup is
    constant size (the whole point of CMS state), TakeOrderedAndProject
    picks the top-N, and N*D probe rows broadcast-join the tiny cell
    table. At 10^12 rows the exact join-back disappears and the sketch
    alone answers point queries; here the exact count is the witness.
    """
    from .dedup import _docs_wide

    pos = lambda d: TX.hash15(F.concat(F.lit(f"{d}:"), F.col("token"))) % CMS_W
    counts = memo(
        spark,
        sf_dir,
        "cms_counts",
        lambda: (
            _docs_wide(spark, sf_dir)
            .select(F.explode(TX.tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        ),
    )
    lane_arr = F.array(
        *[
            F.struct(F.lit(d).alias("d"), pos(d).alias("w"))
            for d in range(CMS_D)
        ]
    )
    lanes = counts.select(F.explode(lane_arr).alias("dw"), "cnt").select(
        "dw.d", "dw.w", "cnt"
    )
    cells = lanes.groupBy("d", "w").agg(F.sum("cnt").alias("cell"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(CMS_TOP_N)
    probes = top.select(
        "token", "cnt", F.explode(lane_arr).alias("dw")
    ).select("token", "cnt", "dw.d", "dw.w")
    return (
        probes.join(F.broadcast(cells), ["d", "w"])
        .groupBy("token")
        .agg(
            F.max("cnt").cast("long").alias("exact_count"),
            F.min("cell").cast("long").alias("cms_estimate"),
        )
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


def _cms_pos_sql(d: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{d}:' || token), 1, 15)) AS BIGINT)"
        f" % {CMS_W}"
    )


CMS_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT u.token
        FROM (SELECT string_split(trim(regexp_replace(lower(coalesce(text,
                 '')), '\\s+', ' ', 'g')), ' ') AS ts FROM documents),
             unnest(ts) u(token)
    ),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    lanes AS (
        {" UNION ALL ".join(
            f"SELECT {d} AS d, {_cms_pos_sql(d)} AS w, cnt FROM counts"
            for d in range(CMS_D)
        )}
    ),
    cells AS (
        SELECT d, w, CAST(sum(cnt) AS BIGINT) AS cell
        FROM lanes GROUP BY d, w
    ),
    top AS (
        SELECT token, cnt FROM counts
        ORDER BY cnt DESC, token ASC LIMIT {CMS_TOP_N}
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT token, cnt, {d} AS d, {_cms_pos_sql(d)} AS w FROM top"
            for d in range(CMS_D)
        )}
    )
    SELECT token,
           CAST(max(cnt) AS BIGINT) AS exact_count,
           CAST(min(cell) AS BIGINT) AS cms_estimate,
           CAST(min(cell) - max(cnt) AS BIGINT) AS overestimate
    FROM probes JOIN cells USING (d, w)
    GROUP BY token
"""


# --- mergeable log-binned quantile sketch -------------------------------

# Sub-bin resolution: each power-of-two octave splits into 2^QS_MBITS
# sub-bins, so the estimate's relative error is bounded by 2^-QS_MBITS
# (6.25%). Values below 2^QS_MBITS get one bin each (exact).
QS_MBITS = 4
QS_SUB = 1 << QS_MBITS  # 16


def sketch_quantiles_logbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch — the constant-state percentile path.

    agg_length_percentiles is exact but its state is |distinct values|
    per group; that works for bounded domains (document lengths) and
    dies on unbounded ones (token counts across 10^12 docs, latencies).
    The standard scale answer is a mergeable sketch (t-digest /
    KLL / DataSketches quantiles); this is the deterministic member of
    that family: a LOG-BINNED histogram. Bin id is pure integer
    arithmetic — values < 2^QS_MBITS get exact unit bins; larger values
    map to (octave, 4-bit mantissa) via bit-length and a power-of-two
    integer division (the same exact-pow trick as search._iln_sql) —
    so the whole sketch is a groupBy(lang, bin) count: bounded state
    (~16 bins per octave, <=1024 bins for any int64 domain), trivially
    mergeable by addition, one map-side-combined shuffle. The estimate
    for percentile p is the LOWER EDGE of the first bin whose
    cumulative count reaches ceil(p*n/100) — a deterministic
    under-estimate within 6.25% relative error (pytest pins both
    bounds against the exact op).

    Everything is BIGINT in both engines (bit-length via length(bin()),
    shifts via CAST(pow(2.0, k)) which is exact for powers of two), so
    the DuckDB twin matches bit-for-bit.

    Reference parity: the same numeric-column profile family as
    agg_length_percentiles (src/api/app/parsers/excel_parser.py:
    228-233), here as the sketch a 100-TB profiler would maintain.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select(
        "lang",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("v"),
    )
    hist = d.select("lang", _qs_bin_expr().alias("b")).groupBy(
        "lang", "b"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return _qs_decode(hist)


def _qs_bin_expr():
    """Bin id for the BIGINT column `v`: unit bins below 2^QS_MBITS,
    (octave, mantissa) above — pure integer expressions (pow(2.0, k)
    is exact for powers of two in both engines)."""
    bits = F.expr("length(bin(v))")
    shift = bits - F.lit(QS_MBITS + 1)
    sub = F.expr(
        f"v DIV CAST(pow(2.0, length(bin(v)) - {QS_MBITS + 1}) AS BIGINT)"
    ) - F.lit(QS_SUB)
    return (
        F.when(F.col("v") < QS_SUB, F.col("v"))
        .otherwise(F.lit(QS_SUB) + shift * QS_SUB + sub)
        .cast("long")
    )


def _qs_decode(hist: DataFrame) -> DataFrame:
    """Percentile estimates from a (lang, b, cnt) histogram: cumulative
    walk over <=1024 bins per group, estimate = lower edge of the first
    bin whose cumulative count reaches the nearest-rank target."""
    edge = F.when(F.col("b") < QS_SUB, F.col("b")).otherwise(
        F.expr(
            f"CAST((({QS_SUB} + (b - {QS_SUB}) % {QS_SUB})"
            f" * CAST(pow(2.0, (b - {QS_SUB}) DIV {QS_SUB}) AS BIGINT))"
            " AS BIGINT)"
        )
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "b",
        edge.cast("long").alias("edge"),
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
        F.count(F.lit(1)).over(w_all).alias("n_bins"),
    )
    pct_cols = [
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"CAST(({p} * n + 99) DIV 100 AS BIGINT)"),
                F.col("edge"),
            )
        ).cast("long").alias(f"p{p}_est")
        for p in PERCENTILE_PS
    ]
    return cum.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max("n_bins").cast("long").alias("n_bins"),
        *pct_cols,
    )


QSKETCH_ORACLE_SQL = f"""
    WITH d AS (
        SELECT lang,
               CAST(length(coalesce(text, '')) AS BIGINT) AS v
        FROM documents
    ),
    binned AS (
        SELECT lang,
               CASE WHEN v < {QS_SUB} THEN v
                    ELSE {QS_SUB}
                         + (length(bin(v)) - {QS_MBITS + 1}) * {QS_SUB}
                         + (v // CAST(pow(2.0, length(bin(v))
                                          - {QS_MBITS + 1}) AS BIGINT)
                            - {QS_SUB})
               END AS b
        FROM d
    ),
    hist AS (SELECT lang, b, count(*) AS cnt FROM binned GROUP BY lang, b),
    cum AS (
        SELECT lang, b,
               CASE WHEN b < {QS_SUB} THEN b
                    ELSE ({QS_SUB} + (b - {QS_SUB}) % {QS_SUB})
                         * CAST(pow(2.0, (b - {QS_SUB}) // {QS_SUB})
                                AS BIGINT)
               END AS edge,
               sum(cnt) OVER (PARTITION BY lang ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS n,
               count(*) OVER (PARTITION BY lang) AS n_bins
        FROM hist
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(n_bins) AS BIGINT) AS n_bins,
           {", ".join(
               f"CAST(min(CASE WHEN cum >= ({p} * n + 99) // 100 "
               f"THEN edge END) AS BIGINT) AS p{p}_est"
               for p in PERCENTILE_PS
           )}
    FROM cum GROUP BY lang
"""


# --- Bloom-filter dedup membership (Dolma-style) ------------------------------

BLOOM_WORDS = 1024  # (word, bits) rows in the filter table
BLOOM_WBITS = 62  # payload bits per word (positive-int64-safe)
BLOOM_B = BLOOM_WORDS * BLOOM_WBITS  # 63,488 bits total
BLOOM_K = 4  # hash functions = disjoint 8-hex md5 slices


def _bloom_cells(digest, flt=None):
    """(pos -> word, bitval) cells for one content digest column: the
    BLOOM_K positions are disjoint 32-bit slices of the SAME md5 the
    exact-dup key uses (digest slicing — the multi-hash economy proven
    by minhash_digests), so membership and ground truth share one hash
    computation. pow(2.0, bit) is exact through 2^61 and immune to the
    shiftleft Python-int-position slot (CLAUDE.md footgun)."""
    pos = F.explode(
        F.array(
            *[
                F.conv(F.substring(digest, 1 + 8 * i, 8), 16, 10).cast(
                    "long"
                )
                % BLOOM_B
                for i in range(BLOOM_K)
            ]
        )
    ).alias("pos")
    word = F.floor(F.col("pos") / F.lit(BLOOM_WBITS)).cast("long").alias("word")
    bitval = (
        F.pow(F.lit(2.0), (F.col("pos") % BLOOM_WBITS).cast("double"))
        .cast("long")
        .alias("bitval")
    )
    return pos, word, bitval


def _bloom_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized (word, bits) filter over the base documents'
    content digests — dedup_bloom_probe's build side."""
    from .dedup import _docs_wide, _is_new_doc

    def build() -> DataFrame:
        base = _docs_wide(spark, sf_dir).filter(~_is_new_doc(F.col("doc_id")))
        pos, word, bitval = _bloom_cells(F.col("d"))
        return (
            base.select(TX.md5_hex(TX.norm_text(F.col("text"))).alias("d"))
            .select(pos)
            .select(word, bitval)
            .groupBy("word")
            .agg(F.bit_or("bitval").alias("bits"))
        )

    return memo(spark, sf_dir, "bloom-table", build)


def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup membership — the Dolma recipe's exact-dedup
    primitive (Soldaini et al. 2024 §2.3 run exact URL/doc/paragraph
    dedup over trillions of keys through a Bloom filter precisely
    because the full key set never fits anywhere): the crawl increment
    (hash60(doc_id) % INCR_NEW_MOD == 0, dedup_incremental_lsh's split)
    probes a bitmap built over the BASE corpus' content fingerprints
    and each new doc gets a maybe-seen verdict, next to the exact
    ground-truth verdict so the false-positive rate is a measured
    number (false negatives are impossible by construction — the test
    pins both).

    Scale shape: the filter is RELATIONAL — (word, bits) rows folded by
    bit_or, a map-side-combinable aggregate whose state is constant
    (BLOOM_WORDS rows) regardless of corpus size, mergeable across
    shards/days by the same bit_or (the property that lets a 10^12-key
    filter build as one aggregation pass instead of Dolma's
    single-machine 800 GB bitmap: at that scale BLOOM_WORDS grows to
    ~10^9 rows and the probe's broadcast becomes a word-keyed co-located
    equi-join, K rows per probe doc — never O(corpus^2)). At test scale
    the bitmap broadcasts (plan-pinned). The exact leg shuffles the base
    fingerprints once — the honesty witness, same role as
    dedup_lsh_recall's ground truth.

    Reference parity: the reference dedups uploads by full-file
    identity before re-processing (storage_service.py:48 content
    addressing); this is that gate as a constant-memory sketch.
    """
    from .dedup import _docs_wide, _is_new_doc

    d = TX.md5_hex(TX.norm_text(F.col("text")))
    bloom = _bloom_table(spark, sf_dir)
    inc = _docs_wide(spark, sf_dir).filter(_is_new_doc(F.col("doc_id")))
    incf = inc.select("doc_id", d.alias("d"))
    pos, word, bitval = _bloom_cells(F.col("d"))
    probe = (
        incf.select("doc_id", pos)
        .select("doc_id", word, bitval)
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.bool_and(
                F.coalesce(F.col("bits"), F.lit(0))
                .bitwiseAND(F.col("bitval"))
                != 0
            ).alias("bloom_hit")
        )
    )
    base_fps = (
        _docs_wide(spark, sf_dir)
        .filter(~_is_new_doc(F.col("doc_id")))
        .select(d.alias("d"))
        .distinct()
        .withColumn("seen", F.lit(True))
    )
    exact = incf.join(base_fps, "d", "left").select(
        "doc_id", F.coalesce(F.col("seen"), F.lit(False)).alias("exact_dup")
    )
    return (
        probe.join(exact, "doc_id")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "bloom_hit", "exact_dup")
        .orderBy("doc_id")
    )


_BLOOM_D_SQL = """d AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(coalesce(text, '')),
                   '\\s+', ' ', 'g'))) AS d,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 5 = 0 AS is_new
        FROM documents
    )"""

BLOOM_ORACLE_SQL = f"""
    WITH {_BLOOM_D_SQL},
    cells AS (
        SELECT doc_id, is_new,
               p // {BLOOM_WBITS} AS word,
               1::BIGINT << CAST(p % {BLOOM_WBITS} AS INT) AS bitval
        FROM (
            SELECT doc_id, is_new,
                   CAST(('0x' || substr(d, 1 + 8 * k.i, 8)) AS BIGINT)
                       % {BLOOM_B} AS p
            FROM d, (VALUES (0), (1), (2), (3)) AS k(i)
        )
    ),
    bloom AS (
        SELECT word, bit_or(bitval) AS bits
        FROM cells WHERE NOT is_new GROUP BY word
    ),
    probe AS (
        SELECT c.doc_id,
               bool_and((coalesce(b.bits, 0) & c.bitval) <> 0) AS bloom_hit
        FROM cells c LEFT JOIN bloom b USING (word)
        WHERE c.is_new GROUP BY c.doc_id
    ),
    seen AS (SELECT DISTINCT d FROM d WHERE NOT is_new),
    ex AS (
        SELECT dd.doc_id, s.d IS NOT NULL AS exact_dup
        FROM d dd LEFT JOIN seen s USING (d) WHERE dd.is_new
    )
    SELECT CAST(p.doc_id AS BIGINT) AS doc_id, p.bloom_hit, e.exact_dup
    FROM probe p JOIN ex e USING (doc_id)
    ORDER BY doc_id
"""


# --- KMV theta-sketch set intersection -----------------------------------

KMV_I_K = 256  # larger than KMV_K: intersection variance scales with
# 1/(J*K), and cross-source 3-shingle Jaccard here is ~0.05 — K=256
# keeps every fixture pair's common-sample count positive (measured
# mean rel err at sf0.01: 0.61 at K=32, 0.45 at K=64 with 9 blind
# pairs, 0.19 at K=256 with none). Sketch state stays K rows/source.


def _kmv_sketch_parts(spark: SparkSession, sf_dir: str):
    """Shared KMV machinery for the set-algebra family, memoized: the
    distinct (source, h) shingle set `d` (it feeds many consumers per
    query and, unmemoized, each re-ran the corpus explode+distinct off
    the one-split fixture scan: 6.3s warm at sf0.1 -> 0.9s), the
    per-source `theta` frame (k_seen, theta), and the retained samples
    `ret` (strictly below the sketch's own theta — drops the kth element
    of a saturated sketch). theta/ret are tiny (|sources| and K·|sources| rows) but
    feed ~8 consumers per setops query — left uncached each consumer
    re-ran the window chain (setops 5.1s warm -> 2s)."""

    def build() -> tuple:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
        sh = docs.select(
            "source",
            F.explode(TX.word_shingles(TX.tokens(F.col("text")))).alias("sh"),
        )
        d = sh.select("source", TX.hash15(F.col("sh")).alias("h")).distinct()
        w = Window.partitionBy("source").orderBy(F.asc("h"))
        topk = d.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= KMV_I_K
        )
        th = topk.groupBy("source").agg(
            F.count(F.lit(1)).alias("k_seen"), F.max("h").alias("kth")
        )
        theta = th.select(
            "source",
            "k_seen",
            F.when(F.col("k_seen") < KMV_I_K, F.lit(1 << 60))
            .otherwise(F.col("kth"))
            .cast("long")
            .alias("theta"),
        )
        ret = (
            topk.join(theta.select("source", "theta"), "source")
            .filter(F.col("h") < F.col("theta"))
            .select("source", "h")
        )
        return d, theta, ret

    return memo(spark, sf_dir, "kmv-intersect-shingles", build)



def sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection over per-source shingle sets — the
    DataSketches-style algebra corpus tooling uses to answer "how much
    content do crawl sources share?" without materializing the sets:
    per source keep the K smallest distinct 60-bit shingle hashes; for
    a pair, theta = min of the two sketches' thetas, the retained
    samples below theta intersect by hash equality, and
    |A ∩ B| ≈ common * 2^60 / theta. The EXACT intersection rides
    along as the measured witness (the dedup_lsh_recall honesty
    pattern): est_inter is an estimate by design, n_exact_inter makes
    its error visible instead of asserting it away.

    Word tokens are useless here (the fixture vocabulary is 31 words —
    every source would intersect fully); 3-word shingles give each
    source ~1.1k distinct set members with genuine partial overlap
    (31..210 shared at sf0.01), so saturated sketches and real
    estimation error are both exercised.

    Determinism: hashes are md5-derived (functions/text.py hash15),
    retained sets and thetas are exact integers on both engines; the
    single float op is the final common*2^60/theta division, performed
    in the same order and rounded to 4 places on both sides.

    Scale shape: the sketch legs collapse to K rows per source before
    any pairing (a |sources|² pair table over K-row frames — sketch
    algebra is exactly what makes the pairing tractable when the sets
    are 10^9 members each); KMV sketches are mergeable (union + re-topK
    is associative), so per-shard sketches roll up map-side like the
    HLL registers. The exact witness leg is one hash-equi-join of the
    distinct (source, h) sets — the one corpus-sized shuffle, priced
    as the ground truth, droppable at scale.

    Reference parity: the reference has no sketch stage (per-document
    microservice); this extends the KMV distinct-count contract
    (sketch_distinct_kmv) with the set-operation algebra the same
    sketch supports.
    """
    d, theta, ret = _kmv_sketch_parts(spark, sf_dir)
    # a sample in BOTH retained sets is < min(theta_a, theta_b)
    # automatically, so the intersect pair join needs no extra bound.
    # rename BEFORE self-joining: both sides share lineage, and
    # identically-named columns would resolve to one attribute (the
    # trivially-true-equals trap, see ann_pq_topk).
    ra = ret.select(F.col("source").alias("sa"), F.col("h").alias("ha"))
    rb = ret.select(F.col("source").alias("sb"), F.col("h").alias("hb"))
    common = (
        ra.join(rb, (F.col("ha") == F.col("hb")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = d.select(F.col("source").alias("sa"), F.col("h").alias("ha"))
    db = d.select(F.col("source").alias("sb"), F.col("h").alias("hb"))
    exact = (
        da.join(db, (F.col("ha") == F.col("hb")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    ta = theta.select(
        F.col("source").alias("sa"),
        F.col("k_seen").alias("k_a"),
        F.col("theta").alias("theta_a"),
    )
    tb = theta.select(
        F.col("source").alias("sb"),
        F.col("k_seen").alias("k_b"),
        F.col("theta").alias("theta_b"),
    )
    pairs = ta.join(tb, F.col("sa") < F.col("sb")).select(
        "sa",
        "sb",
        "k_a",
        "k_b",
        F.least("theta_a", "theta_b").alias("theta"),
    )
    return (
        pairs.join(common, ["sa", "sb"], "left")
        .join(exact, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            F.col("k_a").cast("long").alias("k_a"),
            F.col("k_b").cast("long").alias("k_b"),
            F.col("theta").cast("long").alias("theta"),
            F.coalesce(F.col("common"), F.lit(0)).cast("long").alias("common"),
            F.round(
                F.coalesce(F.col("common"), F.lit(0)).cast("double")
                * F.lit(HASH_SPACE)
                / F.col("theta").cast("double"),
                4,
            ).alias("est_inter"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("long")
            .alias("n_exact_inter"),
        )
    )


_KMV_I_SHINGLE = (
    "CASE WHEN len(tok) >= 3 THEN "
    "list_transform(range(0, len(tok) - 2), "
    "i -> array_to_string(list_slice(tok, i + 1, i + 3), ' ')) "
    "ELSE [] END"
)

KMV_INTERSECT_ORACLE_SQL = f"""
    WITH n AS (
        SELECT source,
               string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS tok
        FROM documents
    ),
    sh AS (SELECT source, u.sh FROM n, unnest({_KMV_I_SHINGLE}) AS u(sh)),
    d AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
        FROM sh
    ),
    topk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
            FROM d
        ) WHERE rn <= {KMV_I_K}
    ),
    th AS (
        SELECT source, count(*) AS k_seen, max(h) AS kth
        FROM topk GROUP BY source
    ),
    theta AS (
        SELECT source, k_seen,
               CASE WHEN k_seen < {KMV_I_K} THEN CAST({1 << 60} AS BIGINT)
                    ELSE kth END AS theta
        FROM th
    ),
    ret AS (
        SELECT t.source, t.h
        FROM topk t JOIN theta USING (source)
        WHERE t.h < theta
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.k_seen AS k_a, b.k_seen AS k_b,
               least(a.theta, b.theta) AS theta
        FROM theta a JOIN theta b ON a.source < b.source
    ),
    co AS (
        SELECT ra.source AS src_a, rb.source AS src_b, count(*) AS common
        FROM ret ra JOIN ret rb ON ra.h = rb.h AND ra.source < rb.source
        GROUP BY 1, 2
    ),
    ex AS (
        SELECT ta.source AS src_a, tb.source AS src_b, count(*) AS n_exact
        FROM d ta JOIN d tb ON ta.h = tb.h AND ta.source < tb.source
        GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b,
           CAST(p.k_a AS BIGINT) AS k_a,
           CAST(p.k_b AS BIGINT) AS k_b,
           p.theta,
           CAST(coalesce(co.common, 0) AS BIGINT) AS common,
           round(CAST(coalesce(co.common, 0) AS DOUBLE) * {HASH_SPACE}
                 / CAST(p.theta AS DOUBLE), 4) AS est_inter,
           CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact_inter
    FROM pairs p
    LEFT JOIN co USING (src_a, src_b)
    LEFT JOIN ex USING (src_a, src_b)
"""


def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the theta-sketch set algebra over the same
    per-source shingle sketches: per source pair, UNION and both
    A-not-B difference estimates — DataSketches' union / aNotB
    operations beside sketch_kmv_intersect's intersection, completing
    the algebra corpus tooling uses to answer "how much content is
    shared / unique per source" from K-row state.

    Mechanics: pair theta = min of the two sketches' thetas; BOTH
    retained sets filter to samples below the pair theta (unlike
    intersection, where membership in both sides implies it); then
    union_samples = |Ra ∪ Rb|, anotb_samples = |Ra \\ Rb|, and each
    scales by 2^60/theta. The sample counts obey the EXACT integer
    identity  common + anotb + bnota = union_samples  (emitted as the
    identity_ok bit — an algebra bug flips it), and the exact
    witnesses ride along via inclusion-exclusion on the distinct sets
    (|A∪B| = |A|+|B|−|A∩B|, |A\\B| = |A|−|A∩B| — no new corpus join
    beyond the intersection's).

    Scale shape: everything pairs over K-row retained sets (the
    |sources|² scaffold of K-row frames); the only corpus-sized work
    is the memoized distinct-set build + the exact-witness
    hash-equi-join shared with sketch_kmv_intersect. Mergeable like
    every KMV artifact.

    Reference parity: no sketch stage in the reference; sibling of
    sketch_kmv_intersect (same machinery, the remaining operations).
    """
    d, theta, ret = _kmv_sketch_parts(spark, sf_dir)
    ta = theta.select(
        F.col("source").alias("sa"),
        F.col("theta").alias("theta_a"),
    )
    tb = theta.select(
        F.col("source").alias("sb"),
        F.col("theta").alias("theta_b"),
    )
    pairs = ta.join(tb, F.col("sa") < F.col("sb")).select(
        "sa", "sb", F.least("theta_a", "theta_b").alias("theta")
    )
    # both retained sets cut to the PAIR theta (entries below their own
    # theta may still be >= the partner's)
    ra = (
        pairs.join(
            ret.select(F.col("source").alias("sa"), F.col("h").alias("ha")),
            "sa",
        )
        .filter(F.col("ha") < F.col("theta"))
        .select("sa", "sb", "ha")
    )
    rb = (
        pairs.join(
            ret.select(F.col("source").alias("sb"), F.col("h").alias("hb")),
            "sb",
        )
        .filter(F.col("hb") < F.col("theta"))
        .select("sa", "sb", "hb")
    )
    un = (
        ra.select("sa", "sb", F.col("ha").alias("h"))
        .union(rb.select("sa", "sb", F.col("hb").alias("h")))
        .distinct()
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("union_samples"))
    )
    anotb = (
        ra.join(
            rb.withColumnRenamed("hb", "ha"), ["sa", "sb", "ha"], "left_anti"
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("anotb_samples"))
    )
    bnota = (
        rb.join(
            ra.withColumnRenamed("ha", "hb"), ["sa", "sb", "hb"], "left_anti"
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("bnota_samples"))
    )
    sizes = d.groupBy("source").agg(F.countDistinct("h").alias("sz"))
    inter = (
        ret.select(F.col("source").alias("sa"), F.col("h").alias("ha"))
        .join(
            ret.select(F.col("source").alias("sb"), F.col("h").alias("hb")),
            F.col("ha") == F.col("hb"),
        )
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    dex = (
        d.select(F.col("source").alias("sa"), F.col("h").alias("ha"))
        .join(
            d.select(F.col("source").alias("sb"), F.col("h").alias("hb")),
            F.col("ha") == F.col("hb"),
        )
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scale = F.lit(HASH_SPACE) / F.col("theta").cast("double")
    out = (
        pairs.join(un, ["sa", "sb"], "left")
        .join(anotb, ["sa", "sb"], "left")
        .join(bnota, ["sa", "sb"], "left")
        .join(inter, ["sa", "sb"], "left")
        .join(dex, ["sa", "sb"], "left")
        .join(
            sizes.select(F.col("source").alias("sa"), F.col("sz").alias("n_a")),
            "sa",
        )
        .join(
            sizes.select(F.col("source").alias("sb"), F.col("sz").alias("n_b")),
            "sb",
        )
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return out.select(
        F.col("sa").alias("src_a"),
        F.col("sb").alias("src_b"),
        F.col("theta").cast("long").alias("theta"),
        z("union_samples").alias("union_samples"),
        F.round(z("union_samples").cast("double") * scale, 4).alias(
            "union_est"
        ),
        z("anotb_samples").alias("anotb_samples"),
        F.round(z("anotb_samples").cast("double") * scale, 4).alias(
            "anotb_est"
        ),
        z("bnota_samples").alias("bnota_samples"),
        F.round(z("bnota_samples").cast("double") * scale, 4).alias(
            "bnota_est"
        ),
        (
            z("common") + z("anotb_samples") + z("bnota_samples")
            == z("union_samples")
        ).alias("identity_ok"),
        (F.col("n_a") + F.col("n_b") - z("n_inter"))
        .cast("long")
        .alias("n_exact_union"),
        (F.col("n_a") - z("n_inter")).cast("long").alias("n_exact_anotb"),
        (F.col("n_b") - z("n_inter")).cast("long").alias("n_exact_bnota"),
    )


KMV_SETOPS_ORACLE_SQL = f"""
    WITH n AS (
        SELECT source,
               string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS tok
        FROM documents
    ),
    sh AS (SELECT source, u.sh FROM n, unnest({_KMV_I_SHINGLE}) AS u(sh)),
    d AS MATERIALIZED (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
        FROM sh
    ),
    topk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
            FROM d
        ) WHERE rn <= {KMV_I_K}
    ),
    th AS (
        SELECT source, count(*) AS k_seen, max(h) AS kth
        FROM topk GROUP BY source
    ),
    theta AS MATERIALIZED (
        SELECT source,
               CASE WHEN k_seen < {KMV_I_K} THEN CAST({1 << 60} AS BIGINT)
                    ELSE kth END AS theta
        FROM th
    ),
    ret AS MATERIALIZED (
        SELECT t.source, t.h
        FROM topk t JOIN theta USING (source)
        WHERE t.h < theta
    ),
    pairs AS MATERIALIZED (
        SELECT a.source AS src_a, b.source AS src_b,
               least(a.theta, b.theta) AS theta
        FROM theta a JOIN theta b ON a.source < b.source
    ),
    ra AS MATERIALIZED (
        SELECT p.src_a, p.src_b, r.h
        FROM pairs p JOIN ret r ON r.source = p.src_a
        WHERE r.h < p.theta
    ),
    rb AS MATERIALIZED (
        SELECT p.src_a, p.src_b, r.h
        FROM pairs p JOIN ret r ON r.source = p.src_b
        WHERE r.h < p.theta
    ),
    un AS (
        SELECT src_a, src_b, count(*) AS union_samples FROM (
            SELECT DISTINCT src_a, src_b, h FROM (
                SELECT * FROM ra UNION ALL SELECT * FROM rb
            )
        ) GROUP BY 1, 2
    ),
    ab AS (
        SELECT src_a, src_b, count(*) AS anotb_samples
        FROM ra WHERE NOT EXISTS (
            SELECT 1 FROM rb WHERE rb.src_a = ra.src_a
              AND rb.src_b = ra.src_b AND rb.h = ra.h
        )
        GROUP BY 1, 2
    ),
    ba AS (
        SELECT src_a, src_b, count(*) AS bnota_samples
        FROM rb WHERE NOT EXISTS (
            SELECT 1 FROM ra WHERE ra.src_a = rb.src_a
              AND ra.src_b = rb.src_b AND ra.h = rb.h
        )
        GROUP BY 1, 2
    ),
    co AS (
        SELECT x.source AS src_a, y.source AS src_b, count(*) AS common
        FROM ret x JOIN ret y ON x.h = y.h AND x.source < y.source
        GROUP BY 1, 2
    ),
    dex AS (
        SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_inter
        FROM d x JOIN d y ON x.h = y.h AND x.source < y.source
        GROUP BY 1, 2
    ),
    sz AS (SELECT source, count(DISTINCT h) AS sz FROM d GROUP BY source)
    SELECT p.src_a, p.src_b, p.theta,
           CAST(coalesce(un.union_samples, 0) AS BIGINT) AS union_samples,
           round(CAST(coalesce(un.union_samples, 0) AS DOUBLE)
                 * ({HASH_SPACE} / CAST(p.theta AS DOUBLE)), 4) AS union_est,
           CAST(coalesce(ab.anotb_samples, 0) AS BIGINT) AS anotb_samples,
           round(CAST(coalesce(ab.anotb_samples, 0) AS DOUBLE)
                 * ({HASH_SPACE} / CAST(p.theta AS DOUBLE)), 4) AS anotb_est,
           CAST(coalesce(ba.bnota_samples, 0) AS BIGINT) AS bnota_samples,
           round(CAST(coalesce(ba.bnota_samples, 0) AS DOUBLE)
                 * ({HASH_SPACE} / CAST(p.theta AS DOUBLE)), 4) AS bnota_est,
           coalesce(co.common, 0) + coalesce(ab.anotb_samples, 0)
               + coalesce(ba.bnota_samples, 0)
               = coalesce(un.union_samples, 0) AS identity_ok,
           CAST(za.sz + zb.sz - coalesce(dex.n_inter, 0) AS BIGINT)
               AS n_exact_union,
           CAST(za.sz - coalesce(dex.n_inter, 0) AS BIGINT) AS n_exact_anotb,
           CAST(zb.sz - coalesce(dex.n_inter, 0) AS BIGINT) AS n_exact_bnota
    FROM pairs p
    LEFT JOIN un USING (src_a, src_b)
    LEFT JOIN ab USING (src_a, src_b)
    LEFT JOIN ba USING (src_a, src_b)
    LEFT JOIN co USING (src_a, src_b)
    LEFT JOIN dex USING (src_a, src_b)
    JOIN sz za ON za.source = p.src_a
    JOIN sz zb ON zb.source = p.src_b
"""
