"""Text expression builders — all pyspark.sql.functions, no Python UDFs.

Every function returns a Column built purely from JVM-side expressions so
the hot path stays inside WholeStageCodegen. The exact same semantics are
mirrored in the operators' DuckDB oracle SQL (both engines share
md5, so every hash here is cross-engine reproducible bit-for-bit).

Reference parity: normalization mirrors the whitespace-collapse canonical
form of the HTML kernel (SURVEY.md §2.8); hashing replaces the
reference's reliance on uuid/db identity (storage_service.py:48) with
content-addressed fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Number of minhash permutations and LSH banding shape: K = BANDS * ROWS.
MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3

# Stopword profiles for the stopword-ratio language scorer. Small,
# deterministic, embedded identically in both engines' query text.
STOPWORDS_EN = [
    "the", "and", "of", "to", "a", "in", "is", "that", "for", "it", "on", "with",
]
STOPWORDS_DE = [
    "der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu", "den", "auf",
]
STOPWORDS_FR = [
    "le", "la", "et", "les", "des", "est", "un", "une", "dans", "que", "pour", "sur",
]

_HEXD = "0123456789abcdef"


def norm_text(col: Column) -> Column:
    """Canonical text form: lowercase, collapse whitespace runs to one
    space, trim. NULL-safe (NULL -> '')."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the canonical form ('' -> [''])."""
    return F.split(norm_text(col), " ")


def word_shingles(tok: Column, n: int = 3) -> Column:
    """n-word shingles as space-joined strings; < n tokens -> empty array.

    transform(sequence(...)) instead of a UDF: stays in codegen. The count
    guard matters because Spark's sequence(0, -1) counts DOWN.
    """
    count = F.size(tok) - F.lit(n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.array_join(F.slice(tok, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def md5_hex(col: Column) -> Column:
    """md5 hex digest of a string column (cross-engine identical)."""
    return F.md5(col.cast("binary"))


def hash15(col: Column) -> Column:
    """60-bit integer hash: first 15 hex chars of md5 -> bigint.

    DuckDB twin: ('0x' || substr(md5(x), 1, 15))::BIGINT — verified
    identical. 15 nibbles = 60 bits, always non-negative in int64.
    """
    return F.conv(F.substring(md5_hex(col), 1, 15), 16, 10).cast("long")


MINHASH_SALTS = 3  # md5 calls per shingle; MINHASH_K = 4 slices x SALTS


def minhash_digests(shingle_arr: Column) -> Column:
    """Per-shingle concatenation of MINHASH_SALTS salted md5 digests
    ('0:'||s .. '2:'||s -> 96 hex chars). Compute ONCE per shingle and
    persist the column: the K=12 signature functions below are 8-hex
    slices of this string, so the whole signature costs 3 md5 calls per
    shingle instead of 12 (digest slicing — the standard multi-hash
    economy; slices of a cryptographic digest are independent enough for
    banded LSH)."""
    return F.transform(
        shingle_arr,
        lambda s: F.concat(
            *[md5_hex(F.concat(F.lit(f"{j}:"), s)) for j in range(MINHASH_SALTS)]
        ),
    )


def minhash_component(digests: Column, i: int) -> Column:
    """Minhash function i: min over shingles of the i-th 8-hex (32-bit)
    slice of the per-shingle digest string from minhash_digests().
    NULL when the doc has no shingles (array_min([]) is NULL)."""
    return F.array_min(
        F.transform(digests, lambda d: F.substring(d, i * 8 + 1, 8))
    )


def lsh_band_hash(sig_components: list[Column], band: int, rows: int = LSH_ROWS) -> Column:
    """Hash of one LSH band (`rows` consecutive signature components).
    F.concat propagates NULL so shingle-less docs never join (the DuckDB
    twin must use || — its concat() skips NULLs)."""
    parts: list[Column] = []
    for r in range(rows):
        if r:
            parts.append(F.lit("#"))
        parts.append(sig_components[band * rows + r])
    return md5_hex(F.concat(*parts))


def _hex_bit(h: Column, j: Column) -> Column:
    """Bit j (0..31) of the 32-bit integer formed by the first 8 nibbles
    of an md5 hex digest h: nibble j//4, within-nibble bit j%4."""
    nibble = F.instr(
        F.lit(_HEXD), F.substring(h, (F.floor(j / 4) + 1).cast("int"), 1)
    ) - 1
    return F.pmod(
        F.floor(nibble / F.pow(F.lit(2.0), F.pmod(j, 4).cast("double"))), 2
    ).cast("long")


def simhash32(tok: Column) -> Column:
    """32-bit simhash over the token multiset, pure higher-order functions.

    Per token: 32 bits of md5(token); each bit contributes +1/-1 to its
    lane; final bit j is set iff lane sum >= 0. aggregate(zip_with(...))
    keeps the whole computation inside codegen — no shuffle, no UDF —
    which is the shape that survives a 100-TB scan (per-row work only).
    """
    # md5 ONCE per token (transform), then 32 cheap nibble probes per
    # hash — inlining md5 into the per-bit lambda would recompute it
    # 32x per token and bloat the generated code 32-fold.
    lane_sums = F.aggregate(
        F.transform(tok, md5_hex),
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda j: _hex_bit(h, j) * 2 - 1,
            ),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            lane_sums,
            F.sequence(F.lit(0), F.lit(31)),
            # 2^j is exact in doubles up to 2^53, so pow+cast is safe for j<=31
            # (F.shiftleft needs a Python-int shift amount, not a Column)
            lambda s, j: F.when(
                s >= 0, F.pow(F.lit(2.0), j.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def stopword_hits(tok_distinct: Column, words: list[str]) -> Column:
    """|distinct tokens ∩ stopword list| (JVM array_intersect)."""
    return F.size(
        F.array_intersect(tok_distinct, F.array(*[F.lit(w) for w in words]))
    )
