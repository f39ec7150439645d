"""Approximate-nearest-neighbor search over the embeddings table.

  ann_cosine_topk   exact top-k per query: broadcast the (small) query
                    set against the full corpus, cosine, per-query
                    row_number. The baseline every ANN variant is judged
                    against.
  ann_ivf_topk      IVF-style two-stage search: deterministic coarse
                    centroids -> assign every vector to its nearest
                    centroid (inverted lists) -> probe only the query's
                    top-N_PROBE lists. The 100-TB shape: the corpus-side join
                    is an equi-join on centroid_id (partition-prunable),
                    never a cross join.

All arithmetic is the strict left-fold double cosine from
functions/vectors.py, so both operators are reproduced exactly by the
DuckDB oracles (same centroids, same assignment, same tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..memo import memo

N_QUERIES = 8          # query set: vec_id < 8
TOP_K = 10             # exact top-k
N_CENTROIDS = 32       # fixed-K centroid sample (scale-constant)
N_PROBE = 4            # IVF lists probed per query (4/32 of the corpus)
IVF_TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    return emb.select("vec_id", "v", V.norm(F.col("v")).alias("nrm"))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for each query vector (vec_id < 8).

    The query side is broadcast (tiny), so the plan is a single pass over
    the corpus with no shuffle of the big side; the per-query top-k
    window sorts only k' candidates per partition after AQE."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple:
    """Centroid pick + inverted lists, persisted+memoized TOGETHER per
    (session, sf_dir): an IVF index is built once and probed many
    times — recomputing the centroid TakeOrdered scan per call would
    re-read the whole corpus just to rebuild an identical broadcast.
    At 10^12 vectors this pair IS the index you write out partitioned
    by centroid_id. Assignment is repartitioned to width first
    (single-split input = single-task assignment otherwise). The
    centroid sample is the N_CENTROIDS smallest md5(vec_id) — a uniform
    pseudo-random draw that stays K-sized at any corpus size, so
    assignment cost is O(n*K) — picked by TakeOrderedAndProject (top-K,
    no full sort) and broadcast. Shared by ann_ivf_topk (exact-cosine
    rerank within lists) and ann_ivf_pq_topk (ADC within lists)."""

    def build() -> tuple:
        emb = _emb(spark, sf_dir)
        cent_pick = F.md5(F.col("vec_id").cast("string").cast("binary"))
        cent = (
            emb.orderBy(cent_pick.asc(), F.col("vec_id").asc())
            .limit(N_CENTROIDS)
            .select(
                F.col("vec_id").alias("centroid_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cn"),
            )
        )
        ccos = V.dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
        par = max(spark.sparkContext.defaultParallelism, 8)
        aw = Window.partitionBy("vec_id").orderBy(
            F.desc("ccos"), F.asc("centroid_id")
        )
        assigned = (
            emb.repartition(par, F.col("vec_id"))
            .crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "nrm", "centroid_id", ccos.alias("ccos"))
            .withColumn("ark", F.row_number().over(aw))
            .filter(F.col("ark") == 1)
            .select("vec_id", "v", "nrm", "centroid_id")
        )
        return cent, assigned

    return memo(spark, sf_dir, "ivf-index", build)


def _ivf_probes(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(query_id, qv, qn, centroid_id): each query's top-N_PROBE
    inverted lists by centroid cosine, ties to the lower centroid_id."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qcos = V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    qw = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("centroid_id"))
    return (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "qn", "centroid_id", qcos.alias("qcos"))
        .withColumn("prk", F.row_number().over(qw))
        .filter(F.col("prk") <= N_PROBE)
        .select("query_id", "qv", "qn", "centroid_id")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-stage ANN: a FIXED-K deterministic centroid sample (see
    _ivf_index), nearest-centroid assignment builds the inverted lists,
    queries probe their top-N_PROBE lists and rank candidates by exact
    cosine.

    Equivalent DuckDB SQL reproduces the same centroid set, assignment
    and tie-breaks, so results match exactly even though the search is
    approximate vs ann_cosine_topk."""
    cent, assigned = _ivf_index(spark, sf_dir)
    probes = _ivf_probes(_emb(spark, sf_dir), cent)

    # candidate generation: equi-join on centroid_id (the IVF win — at
    # scale this prunes to the probed lists' partitions only)
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rk") <= IVF_TOP_K)
    )


# --- sign-random-projection LSH (multi-table) -------------------------------

LSH_TABLES = 6       # independent hash tables (OR-amplification)
LSH_PLANES = 6       # hyperplanes per table (AND within a table)
EMB_DIMS = 64
# THE embedding near-dup operating point — one definition for the whole
# family: the SRP-LSH verify (dedup_embedding_lsh), the exact ground
# truth (dedup_embedding_cosine + its oracle), SemDeDup's prune, and
# the embedding decontamination leg all gate on this cosine; retuning
# it here retunes them together (review finding r5: three copies of
# the 0.35 literal could silently de-align).
EMB_NEARDUP_TAU = 0.35
LSH_COS_THRESHOLD = EMB_NEARDUP_TAU


def _hyperplanes() -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes [table][plane][dim],
    generated from a seeded Python RNG at plan-build time and inlined as
    literals in BOTH the Spark plan and the DuckDB oracle SQL — no
    per-row hashing, and the two engines share the exact float values."""
    import random

    rng = random.Random(0xC0FFEE)
    return [
        [[rng.uniform(-1.0, 1.0) for _ in range(EMB_DIMS)] for _ in range(LSH_PLANES)]
        for _ in range(LSH_TABLES)
    ]


def srp_signatures(v) -> "F.Column":
    """Array of LSH_TABLES per-table sign signatures: table t's signature
    has bit j set iff dot(v, plane_tj) >= 0. Strict left-fold dots
    (cross-engine exact). Multi-table = OR-amplification: a pair is a
    candidate if ANY table's full signature matches — the standard
    recall fix for SRP at moderate cosine thresholds."""
    sigs = []
    for planes in _hyperplanes():
        sig = F.lit(0).cast("long")
        for j, plane in enumerate(planes):
            pl = F.array(*[F.lit(w) for w in plane])
            d = F.aggregate(
                F.zip_with(v, pl, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            sig = sig + F.when(d >= 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        sigs.append(sig)
    return F.array(*sigs)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: candidates from any of
    LSH_TABLES sign-signature tables (equi-join on (table, signature) —
    partition-prunable at 10^12 rows), then exact-cosine verify
    >= 0.35 so there are no false positives.

    Recall at threshold t is 1-(1-p^k)^L with p = 1 - arccos(t)/pi;
    tune (L, k) per threshold. Ground truth: dedup_embedding_cosine.

    The (vec_id, tbl, sig) table is persisted+memoized: the 36 strict
    left-fold dots per vector are the expensive part, and the self-join
    would otherwise evaluate them on BOTH sides; the input is also
    repartitioned to full width first (a single-split embeddings file
    serializes the whole signature pass on one task otherwise). At
    10^12 rows this is the signature table you would checkpoint."""
    emb = _emb(spark, sf_dir)
    par = max(spark.sparkContext.defaultParallelism, 8)
    sig = memo(
        spark,
        sf_dir,
        "srp-sig",
        lambda: (
            emb.repartition(par, F.col("vec_id"))
            .select(
                "vec_id",
                F.posexplode(srp_signatures(F.col("v"))).alias("tbl", "sig"),
            )
        ),
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= LSH_COS_THRESHOLD)
    )


# SemDeDup prune threshold = the embedding near-dup family's operating
# point (dedup_embedding_cosine / dedup_embedding_lsh verify at the same
# cosine), so the prune set is directly comparable to the LSH path's.
SEMDEDUP_TAU = EMB_NEARDUP_TAU


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    scoped to clusters — pairwise cosine runs ONLY inside a cluster, so
    the all-pairs n^2 cost drops to sum(c_i^2) ~= n^2/K, and K grows
    with the corpus (the paper uses 11k clusters on LAION-440M; here the
    clusters are _ivf_index's inverted lists, so the SAME memoized
    artifact serves ANN search and semantic dedup — at 10^12 vectors
    that is one clustered index feeding both).

    Keep rule: a vector is pruned iff a SMALLER-id member of its own
    cluster matches at cosine >= SEMDEDUP_TAU — the min-id keep-first
    canonical the rest of the dedup family uses (the paper keeps the
    member least similar to the centroid; min-id is the deterministic
    equivalent both engines can tie-break identically). Output is one
    row per vector: its cluster, how many smaller-id in-cluster dups it
    has, the strongest of those cosines, and the keep verdict.

    Scale shape: one equi-join on centroid_id (partition-prunable; NO
    cartesian — pinned by test), aggregation partial-combines map-side,
    and the verdict join-back moves (vec_id, 2 scalars) only. A skewed
    hot cluster graduates the way the paper itself does: raise K (the
    cluster budget is a knob, not a rewrite) or recursively re-cluster
    the hot list; dedup_lsh_exact_reps implements the analogous
    hot-bucket graduation for the lexical family.

    Reference parity: the reference's extraction loop has no embedding
    tier; this extends its dedup-by-content-hash intent
    (src/api/app/services/extraction_service.py:161-166 idempotent
    re-run skip) to semantic equivalence classes.
    """
    _, assigned = _ivf_index(spark, sf_dir)
    # rename BOTH sides: a self-join of one persisted frame with
    # identically-named columns silently resolves to one attribute
    # (CLAUDE.md; same fix as ann_pq_topk's codes-vs-lookup join)
    a = assigned.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
        F.col("centroid_id").alias("a_cl"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
        "centroid_id",
    )
    cos = V.dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    dup = (
        a.join(
            b,
            (F.col("a_cl") == F.col("centroid_id"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select(F.col("b_id").alias("vec_id"), cos.alias("cos"))
        .filter(F.col("cos") >= SEMDEDUP_TAU)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.max("cos").alias("mx"),
        )
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias(
                "n_dups_smaller"
            ),
            F.coalesce(F.col("mx"), F.lit(0.0)).alias("max_cos_smaller"),
            F.col("mx").isNull().alias("kept"),
        )
    )


# SemDeDup-style per-cluster outlier scoring: centroid components are
# integerized (floor(x * EMB_SCALE), exact BIGINT sums) so the centroid
# is row-order-independent — a raw double sum across rows would be
# summation-order-dependent and break cross-engine exactness.
EMB_SCALE = 1_000_000
OUTLIER_BOTTOM_K = 10


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + cosine-to-centroid outlier rank:
    the embedding-space quality signal (SemDeDup / semantic-outlier
    pruning) — vectors far from their cluster centroid are mislabeled,
    noisy, or off-distribution, and the bottom-K per label are flagged.

    Exactness: the centroid is an INTEGER sum — each component is
    floor(x * EMB_SCALE) (exact on both engines: float32 widens to the
    same double, floor is total), summed as BIGINT (order-free). The
    cosine against it is the shared strict-left-fold double dot
    (functions.vectors), so scores hash identically cross-engine.

    Scale shape: one (label, pos)-key shuffle of n*dim integerized
    components with map-side combine; the centroid table is
    |labels| rows and BROADCASTS back — the corpus side is scored in
    a single scan pass; then one label-key window for the rank. At
    10^12 rows with hot labels, s_j sums move to DECIMAL(38,0)
    (BIGINT holds ~10^12 vectors per label at EMB_SCALE=1e6 before
    overflow); the bottom-K window is WindowGroupLimit-friendly.

    Mirrors the reference's confidence-scored review flagging — each
    extraction carries a confidence_score used to gate human review
    (/root/reference/src/processor/app/extractors/langchain_extractor.py:214-215,
    stored via db_client.py:247) — lifted to embedding space: distance
    from the cluster centroid is the confidence, bottom-K is the review
    queue.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        V.as_double(F.col("embedding")).alias("v"),
    )
    q = F.transform(F.col("v"), lambda x: F.floor(x * EMB_SCALE).cast("long"))
    ex = emb.select("label", F.posexplode(q).alias("pos", "comp"))
    cent = ex.groupBy("label", "pos").agg(F.sum("comp").cast("long").alias("s"))
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda t: t["s"].cast("double"),
        ).alias("c")
    )
    scored = emb.join(F.broadcast(carr), "label").select(
        "vec_id",
        "label",
        (V.dot(F.col("v"), F.col("c")) / (V.norm(F.col("v")) * V.norm(F.col("c"))))
        .alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), F.asc("vec_id"))
    cw = Window.partitionBy("label")
    return scored.select(
        "vec_id",
        "label",
        "cos_centroid",
        F.count(F.lit(1)).over(cw).cast("long").alias("n_label"),
        F.row_number().over(w).cast("long").alias("rn"),
    ).withColumn("is_outlier", F.col("rn") <= OUTLIER_BOTTOM_K)


def _exact_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    return (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id")
    )


def _recall_vs_exact(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """The ONE recall@K computation every ANN honesty gauge shares
    (review finding r5: four verbatim copies had accumulated):
    intersection of the approximate and exact top-K id sets per query,
    coalesced count, one IEEE division of exact integers — so the
    DuckDB twins (composed through the shared _recall_sql) match
    bit-for-bit."""
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = approx.select("query_id").distinct()
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        n_hits.cast("long").alias("n_hits"),
        (n_hits / k).alias("recall_at_k"),
    )


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the IVF index vs the exact brute-force
    ground truth — the honesty gauge the fixed-K/N_PROBE configuration
    needs: at 100x the corpus you re-derive K ~ sqrt(n) and tune
    N_PROBE against THIS number, so the engine publishes it as a
    first-class query instead of leaving recall a docstring claim.

    Shape: both inputs are K-row-per-query top-K frames (tiny); the
    intersection join and per-query count run broadcast. recall_at_k is
    one IEEE division of exact integers, so the DuckDB twin (the two
    existing ANN oracles composed as CTEs) matches bit-for-bit.
    """
    return _recall_vs_exact(
        ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        _exact_topk(spark, sf_dir, IVF_TOP_K),
        IVF_TOP_K,
    )


# --- binary (sign) quantization ANN ------------------------------------------

BQ_WORD_BITS = 32      # sign bits per packed BIGINT word (2^31 < max long)
BQ_CAND = 50           # Hamming-stage candidates per query
BQ_TOP_K = 10


def _bq_words(v) -> list:
    """EMB_DIMS sign bits packed into EMB_DIMS/32 BIGINT words: word w
    bit j is set iff v[32w + j] > 0. 32-bit words keep every addend a
    plain Python-int literal (1 << 31 fits long; a 64-bit word would
    need the overflowing 1 << 63) and give the DuckDB twin the exact
    same CASE-sum arithmetic."""
    words = []
    for lo in range(0, EMB_DIMS, BQ_WORD_BITS):
        w = F.lit(0).cast("long")
        for j in range(BQ_WORD_BITS):
            w = w + F.when(
                F.element_at(v, lo + j + 1) > 0.0,
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        words.append(w)
    return words


def _bq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted+memoized (vec_id, w0, w1) sign-code table — at 10^12
    vectors this 8-byte-per-vector index is the artifact you keep in
    executor memory (64x smaller than the float32 vectors, 10x smaller
    than the 80-bit PQ codes). Repartitioned to width first (the
    single-split parquet footgun)."""
    par = max(spark.sparkContext.defaultParallelism, 8)
    w0, w1 = _bq_words(F.col("v"))
    return memo(
        spark,
        sf_dir,
        "bq-codes",
        lambda: (
            _emb(spark, sf_dir)
            .repartition(par, F.col("vec_id"))
            .select("vec_id", w0.alias("w0"), w1.alias("w1"))
        ),
    )


def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN: stage 1 scans the memoized 64-bit sign
    codes with pure integer ops — popcount of XOR, two words — and
    keeps the BQ_CAND Hamming-nearest per query; stage 2 reranks only
    those candidates with the exact left-fold cosine. The sign-bit
    Hamming distance estimates the angle (collision probability
    1 - theta/pi per hyperplane bit, Charikar 2002 — the same SRP fact
    dedup_embedding_lsh banks on), so the integer scan is a faithful
    cosine surrogate and the float math runs on BQ_CAND rows per query
    instead of the corpus.

    Scale shape: queries ride a broadcast against the code table (no
    corpus shuffle; whole-stage-codegen integer XOR/popcount next to
    the scan), the Hamming top-N compiles to per-partition heaps via
    the row_number window, and the rerank joins BQ_CAND ids per query
    back to the vector table by vec_id. This is the memory tier BELOW
    ann_pq_topk: 8 bytes/vector vs PQ's 10, no codebook training, no
    ADC table — the first-pass filter a trillion-vector index runs
    before IVF/PQ refine. ann_hamming_recall publishes the measured
    recall@K this trade buys.

    Reference parity: extends the reference's embedding-free similarity
    intent the same way the other ANN ops do (SURVEY §2 ANN family);
    no reference analogue — LLM-data-pipeline first-class op.
    """
    codes = _bq_codes(spark, sf_dir)
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    ham = (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("qw0")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("qw1")))
    ).cast("long")
    hw = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    cand = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            ham.alias("hamming"),
        )
        .withColumn("hrk", F.row_number().over(hw))
        .filter(F.col("hrk") <= BQ_CAND)
        .drop("hrk")
    )
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    # the candidate set (N_QUERIES x BQ_CAND rows) rides the broadcast
    # side of the rerank join explicitly — at 10^12 vectors AQE can't
    # see that the corpus side is the big one until too late
    return (
        emb.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", "hamming", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rk") <= BQ_TOP_K)
    )


def ann_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@BQ_TOP_K of the sign-quantized Hamming scan vs
    the exact brute-force top-K — the honesty number for the 64x
    memory compression, published as a first-class query like
    ann_ivf_recall/ann_pq_recall (tune BQ_CAND against THIS)."""
    return _recall_vs_exact(
        ann_hamming_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        _exact_topk(spark, sf_dir, BQ_TOP_K),
        BQ_TOP_K,
    )


# --- Lloyd's k-means over the embedding corpus --------------------------------

KMEANS_K = 8
KMEANS_ROUNDS = 3


def _kmeans_assign(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """One Lloyd assignment step: broadcast the K-row centroid TABLE
    (cid, carr array<long>) against the vector frame and argmin via
    row_number over (d2 asc, cid asc) — the _pq_assign shape. Data in
    a broadcast relation, never K*dim literals in the plan (CLAUDE.md:
    a 16x32 literal argmin cost ~50s of analyzer/codegen). Squared L2
    is the strict left fold, so distances are bit-identical to the old
    inlined-literal variant, and the (d2, cid) ordering reproduces its
    array_min-over-structs tie-break exactly. `emb` arrives hash-
    partitioned by vec_id, which satisfies the window's clustered
    distribution — no per-round exchange, only a local sort."""
    diff = F.zip_with(
        F.col("v"),
        F.col("carr"),
        lambda a, b: (a - b / F.lit(float(EMB_SCALE)))
        * (a - b / F.lit(float(EMB_SCALE))),
    )
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        emb.crossJoin(F.broadcast(cb))
        .select("vec_id", "v", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "v",
            "cid",
            F.floor(F.col("d2") * EMB_SCALE).cast("long").alias("d2i"),
        )
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Lloyd iterations — the centroid-training primitive
    ann_ivf_topk's docstring defers to ("at 10^12 vectors you'd
    re-derive K ~ sqrt(n)"): KMEANS_ROUNDS rounds of assign/update over
    the embedding corpus, reporting per-round per-cluster membership
    and inertia so convergence is a measured number, not a claim.

    The distributed shape is the textbook one — centroids are BOUNDED
    (K rows) so they live driver-side and ride into the plan as
    literals:

      assign   the _pq_assign shape: the K-row centroid table rides in
               as a BROADCAST crossJoin (data, not literals — CLAUDE.md
               records a 16x32 literal-expression argmin costing ~50s
               of pure plan analysis/codegen, and the trainer is the op
               you'd run at K ~ sqrt(n) where a literal tree cannot
               hold), squared-L2 as the same strict left fold
               (IEEE-identical on both engines), argmin via row_number
               over (d2 asc, cid asc) — the same (d2, cid) tie-break
               the old array_min-over-structs produced. The window's
               ClusteredDistribution(vec_id) is satisfied by the
               persisted repartition("vec_id"), so assignment still
               exchanges NOTHING per round — only a local sort.
      stats    one groupBy(cid) with map-side combine -> K rows.
      update   posexplode of floor(x*EMB_SCALE) BIGINT components ->
               (cid, pos) integer sums (order-free) -> K*dim rows to
               the driver; new centroid = floor-div mean, computed in
               exact integer arithmetic. Empty clusters keep their
               previous centroid.

    Everything crossing to the driver is K- or K*dim-sized — the same
    bounded collect the pagerank/BPE loops make. Inertia is summed as
    floor(d2*EMB_SCALE) BIGINTs so the per-cluster total is order-free
    and bit-identical cross-engine; the DuckDB twin recomputes all
    rounds independently (unrolled CTEs, Spark's centroids never leak
    into the oracle text).
    """
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    par = max(spark.sparkContext.defaultParallelism, 8)
    emb = emb.repartition(par, "vec_id").persist()
    qarr = F.transform(F.col("v"), lambda x: F.floor(x * EMB_SCALE).cast("long"))
    init_rows = (
        emb.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(KMEANS_K)
        .select(qarr.alias("q"))
        .collect()
    )
    cents: dict[int, list[int]] = {
        j: [int(c) for c in r["q"]] for j, r in enumerate(init_rows)
    }
    stats_rows: list[tuple[int, int, int, int]] = []
    for rnd in range(1, KMEANS_ROUNDS + 1):
        cb = spark.createDataFrame(
            [(j, cents[j]) for j in sorted(cents)],
            "cid long, carr array<long>",
        )
        # persist per round: the stats collect AND the update collect
        # both read this frame — without the cache each would re-run
        # the K-way argmin folds over the corpus (2x the dominant cost)
        assigned = _kmeans_assign(emb, cb).persist()
        by_cid = {
            r["cid"]: r
            for r in assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("d2i").alias("inertia"))
            .collect()
        }
        for j in sorted(cents):
            r = by_cid.get(j)
            stats_rows.append(
                (rnd, j, int(r["n"]) if r else 0, int(r["inertia"]) if r else 0)
            )
        if rnd == KMEANS_ROUNDS:
            assigned.unpersist()
            break
        upd = (
            assigned.select(
                "cid", F.posexplode(qarr).alias("pos", "comp")
            )
            .groupBy("cid", "pos")
            .agg(F.sum("comp").cast("long").alias("s"))
            .collect()
        )
        assigned.unpersist()
        sums: dict[int, dict[int, int]] = {}
        for r in upd:
            sums.setdefault(int(r["cid"]), {})[int(r["pos"])] = int(r["s"])
        for j in sorted(cents):
            if j in sums and by_cid.get(j) and int(by_cid[j]["n"]) > 0:
                n = int(by_cid[j]["n"])
                cents[j] = [sums[j][p] // n for p in sorted(sums[j])]
    emb.unpersist()
    return spark.createDataFrame(
        stats_rows,
        "rnd long, centroid_id long, n_members long, inertia_scaled long",
    ).orderBy("rnd", "centroid_id")


def _kmeans_oracle_sql() -> str:
    """Unrolled twin: per round, an assignment CTE (cross join against
    the K-row centroid CTE, strict-left-fold squared L2, row_number
    argmin), a stats CTE, and a floor-div integer centroid update with
    empty-cluster carry-over."""
    parts = [f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS BIGINT) AS cid,
               list_transform(v, x -> CAST(floor(x * {EMB_SCALE})
                   AS BIGINT)) AS carr
        FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {KMEANS_K}
    )"""]
    for k in range(1, KMEANS_ROUNDS + 1):
        parts.append(f""",
    a{k} AS (
        SELECT vec_id, v, cid, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM (
            SELECT e.vec_id, e.v, c.cid,
                   list_reduce(list_transform(range(1, len(e.v) + 1),
                       i -> (e.v[i] - c.carr[i] / {float(EMB_SCALE)})
                          * (e.v[i] - c.carr[i] / {float(EMB_SCALE)})),
                       (x, y) -> x + y) AS d2
            FROM e, c{k - 1} c
        )
    ),
    w{k} AS (
        SELECT vec_id, v, cid,
               CAST(floor(d2 * {EMB_SCALE}) AS BIGINT) AS d2i
        FROM a{k} WHERE rn = 1
    ),
    s{k} AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d2i) AS BIGINT) AS inertia
        FROM w{k} GROUP BY cid
    )""")
        if k < KMEANS_ROUNDS:
            parts.append(f""",
    u{k} AS (
        SELECT cid, pos, CAST(sum(comp) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT cid,
                     unnest(range(1, len(v) + 1)) AS pos,
                     unnest(list_transform(v,
                         x -> CAST(floor(x * {EMB_SCALE}) AS BIGINT)))
                         AS comp
              FROM w{k})
        GROUP BY cid, pos
    ),
    c{k} AS (
        SELECT p.cid, coalesce(uu.carr, p.carr) AS carr
        FROM c{k - 1} p LEFT JOIN (
            SELECT cid,
                   list((s - ((s % n) + n) % n) // n ORDER BY pos) AS carr
            FROM u{k} GROUP BY cid
        ) uu USING (cid)
    )""")
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS rnd, p.cid AS centroid_id,
               coalesce(s.n, 0) AS n_members,
               coalesce(s.inertia, 0) AS inertia_scaled
        FROM c{k - 1} p LEFT JOIN s{k} s USING (cid)"""
        for k in range(1, KMEANS_ROUNDS + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(selects)


KMEANS_ORACLE_SQL = _kmeans_oracle_sql()


# --- product-quantization ANN --------------------------------------------------

PQ_M = 16  # subspaces (64-dim vectors -> 4 dims each)
PQ_SUB = 4
PQ_KS = 32  # codewords per subspace -> 5 bits * 16 = 80-bit codes
PQ_ROUNDS = 2  # Lloyd refinement rounds on the md5-sampled init
PQ_TOP_K = 5


def _pq_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv): the M unit-normalized 4-dim subvectors per
    vector — the frame every PQ stage (train/encode/query) reads."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        # PQ runs on UNIT vectors: after normalization, squared L2 is
        # 2 - 2*cos, so ADC ranking is rank-equivalent to the exact
        # cosine baseline (raw-L2 PQ on unnormalized vectors measured
        # recall@5 ~0.08; normalized ~0.5)
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
    )
    par = max(spark.sparkContext.defaultParallelism, 8)
    return (
        emb.repartition(par, "vec_id")
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).cast("long").alias("m"),
                            F.slice(
                                F.col("v"), m * PQ_SUB + 1, PQ_SUB
                            ).alias("sv"),
                        )
                        for m in range(PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("vec_id", "s.m", "s.sv")
    )


def _pq_d2() -> Column:
    """Strict-left-fold squared L2 between a double subvector column
    `sv` and a scaled-BIGINT codeword column `carr` — the IEEE-identical
    arithmetic the twin's list_reduce uses."""
    return F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("carr"),
            lambda a, b: (a - b / F.lit(float(EMB_SCALE)))
            * (a - b / F.lit(float(EMB_SCALE))),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codeword assignment: cross the subvector frame with the
    BROADCAST M*K codebook table (data-level — a literal-expression
    argmin at M=16,K=32 was measured at ~50s of pure plan/codegen),
    argmin per (vec_id, m) with the (d2, cid) tie-break."""
    aw = Window.partitionBy("vec_id", "m").orderBy(
        F.asc("d2"), F.asc("cid")
    )
    return (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cid", "sv", _pq_d2().alias("d2"))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (m, cid, carr) codebook DataFrame, memoized per (session,
    sf_dir) like the IVF index: codebooks are trained once and probed
    many times."""
    return memo(spark, sf_dir, "pq-codebooks", lambda: _train_pq(spark, sf_dir))


def _train_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the PQ codebooks: md5-sampled init + PQ_ROUNDS Lloyd
    refinements per subspace, centroid state driver-side (M*K rows,
    bounded — the embedding_kmeans pattern per 4-dim slice)."""
    sub = _pq_sub(spark, sf_dir).persist()
    qarr = F.transform(
        F.col("sv"), lambda x: F.floor(x * EMB_SCALE).cast("long")
    )
    init = (
        sub.withColumn(
            "h", F.md5(F.col("vec_id").cast("string").cast("binary"))
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("m").orderBy("h", "vec_id")
            ),
        )
        .filter(F.col("rk") <= PQ_KS)
        .select(
            "m", (F.col("rk") - 1).cast("long").alias("cid"), qarr.alias("carr")
        )
        .collect()
    )
    cents = {(int(r["m"]), int(r["cid"])): list(r["carr"]) for r in init}

    def _cb_df() -> DataFrame:
        return spark.createDataFrame(
            [(m, k, cents[(m, k)]) for m, k in sorted(cents)],
            "m long, cid long, carr array<long>",
        )

    for _rnd in range(PQ_ROUNDS):
        upd = (
            _pq_assign(sub, _cb_df())
            .select("m", "cid", F.posexplode(qarr).alias("pos", "comp"))
            .groupBy("m", "cid", "pos")
            .agg(
                F.sum("comp").cast("long").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in upd:
            sums.setdefault((int(r["m"]), int(r["cid"])), {})[
                int(r["pos"])
            ] = (int(r["s"]), int(r["n"]))
        for ck in cents:
            if ck in sums:
                cents[ck] = [
                    sums[ck][p][0] // sums[ck][p][1]
                    for p in sorted(sums[ck])
                ]
    sub.unpersist()
    return _cb_df()


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011) — the memory-side
    scale path next to IVF's compute-side one: each vector compresses
    to PQ_M codes of log2(PQ_KS) bits (80 bits vs 256 bytes of floats —
    the ratio that lets 10^12 vectors fit an index tier), and queries
    score candidates via asymmetric distance (ADC): per-subspace lookup
    tables instead of full-dimension folds.

    Codebooks are md5-init + PQ_ROUNDS-Lloyd-trained (driver-bounded
    state, _pq_codebooks) and ride as a BROADCAST M*K-row table, so
    encoding never shuffles the corpus; the query lookup table is
    Q*M*K rows, broadcast. The ADC sum is over integerized
    per-subspace distances floor(d2 * EMB_SCALE), so the (query, vec)
    aggregate is an order-free BIGINT sum — bit-identical cross-engine.
    Deterministic top-K by (adc ASC, neighbor_id ASC). Measured
    recall@5 vs the exact cosine baseline: 0.50-0.53 on the synthetic
    near-uniform embeddings (PQ's worst case — no manifold structure
    to exploit; pytest pins the floor).

    The DuckDB twin re-trains the codebooks independently (md5 init,
    PQ_ROUNDS refinements, same floor-div means and carry-over) —
    Spark's collected codebooks never leak into the oracle text."""
    cb = _pq_codebooks(spark, sf_dir)
    sub = _pq_sub(spark, sf_dir)
    codes = _pq_assign(sub, cb).select("vec_id", "m", "cid")
    qd = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            # rename the join keys: codes and qd both descend from the
            # same `sub` lineage, and identically-named columns in a
            # self-join resolve to ONE attribute (Spark warns
            # "trivially true equals predicate") — the join would
            # silently stop keying on the subspace
            F.col("m").alias("qm"),
            F.col("cid").alias("k"),
            F.floor(_pq_d2() * EMB_SCALE).cast("long").alias("qd"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (F.col("m") == F.col("qm")) & (F.col("cid") == F.col("k")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").cast("long").alias("adc_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_scaled"), F.asc("vec_id")
    )
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_scaled",
            "rk",
        )
    )


_PQ_D2_SQL = (
    "list_reduce(list_transform(range(1, len({sv}) + 1), "
    "i -> ({sv}[i] - {c}[i] / " + str(float(EMB_SCALE)) + ") "
    "* ({sv}[i] - {c}[i] / " + str(float(EMB_SCALE)) + ")), (x, y) -> x + y)"
)


def _pq_common_sql() -> str:
    """CTE chain shared by the PQ and IVFPQ twins: unit normalization,
    subvector explode, md5-init codebooks per subspace, PQ_ROUNDS Lloyd
    refinements (floor-div integer means, empty-code carry-over), code
    assignment (enc) and the query ADC lookup table (qd). The subspace
    index m is a COLUMN, so one CTE chain covers all subspaces and the
    rounds unroll in a loop."""
    d2 = _PQ_D2_SQL
    parts = [f"""
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    en AS (SELECT vec_id, v,
                  sqrt(list_reduce(list_transform(range(1, len(v) + 1),
                      i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
           FROM e0),
    e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM en),
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    sub AS (
        SELECT e.vec_id, ms.m,
               list_slice(e.v, CAST(ms.m * {PQ_SUB} + 1 AS INT),
                          CAST(ms.m * {PQ_SUB} + {PQ_SUB} AS INT)) AS sv
        FROM e, ms
    ),
    c0 AS (
        SELECT m,
               CAST(row_number() OVER (PARTITION BY m
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS BIGINT) AS cid,
               list_transform(sv, x -> CAST(floor(x * {EMB_SCALE})
                   AS BIGINT)) AS carr
        FROM sub
        QUALIFY row_number() OVER (PARTITION BY m
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {PQ_KS}
    )"""]
    for r in range(1, PQ_ROUNDS + 1):
        parts.append(f""",
    a{r} AS (
        SELECT vec_id, m, cid, sv,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM (
            SELECT s.vec_id, s.m, c.cid, s.sv,
                   {d2.format(sv="s.sv", c="c.carr")} AS d2
            FROM sub s JOIN c{r - 1} c USING (m)
        )
    ),
    w{r} AS (SELECT vec_id, m, cid, sv FROM a{r} WHERE rn = 1),
    u{r} AS (
        SELECT m, cid, pos, CAST(sum(comp) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT m, cid,
                     unnest(range(1, len(sv) + 1)) AS pos,
                     unnest(list_transform(sv,
                         x -> CAST(floor(x * {EMB_SCALE}) AS BIGINT)))
                         AS comp
              FROM w{r})
        GROUP BY m, cid, pos
    ),
    c{r} AS (
        SELECT p.m, p.cid, coalesce(uu.carr, p.carr) AS carr
        FROM c{r - 1} p LEFT JOIN (
            SELECT m, cid,
                   list((s - ((s % n) + n) % n) // n ORDER BY pos) AS carr
            FROM u{r} GROUP BY m, cid
        ) uu USING (m, cid)
    )""")
    cf = f"c{PQ_ROUNDS}"
    parts.append(f""",
    enc AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT s.vec_id, s.m, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {d2.format(sv="s.sv", c="c.carr")} ASC,
                                c.cid ASC) AS rn
            FROM sub s JOIN {cf} c USING (m)
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT s.vec_id AS query_id, s.m, c.cid AS k,
               CAST(floor({d2.format(sv="s.sv", c="c.carr")}
                          * {EMB_SCALE}) AS BIGINT) AS qd
        FROM sub s JOIN {cf} c USING (m)
        WHERE s.vec_id < {N_QUERIES}
    )""")
    return "".join(parts)


def _pq_oracle_sql() -> str:
    """Independent PQ twin: the shared chain (_pq_common_sql) scored
    exhaustively — every encoded vector joins the query ADC table."""
    return _pq_common_sql() + f""",
    adc AS (
        SELECT q.query_id, x.vec_id,
               CAST(sum(q.qd) AS BIGINT) AS adc_scaled
        FROM enc x JOIN qd q
          ON q.m = x.m AND q.k = x.code AND x.vec_id <> q.query_id
        GROUP BY q.query_id, x.vec_id
    )
    SELECT query_id, neighbor_id, adc_scaled, rk FROM (
        SELECT query_id, vec_id AS neighbor_id, adc_scaled,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_scaled ASC, vec_id ASC) AS BIGINT) AS rk
        FROM adc
    ) WHERE rk <= {PQ_TOP_K}
"""


PQ_ORACLE_SQL = _pq_oracle_sql()


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the PQ/ADC path vs the exact cosine
    baseline — the same first-class honesty number ann_ivf_recall
    publishes for IVF. The docstring claim on ann_pq_topk (~0.5 on
    these synthetic near-uniform embeddings, PQ's worst case) becomes
    a driver-checked VALUE: at 100x scale you trade PQ_M/PQ_KS against
    THIS number, per corpus, not against a paper figure.

    Shape: two tiny K-rows-per-query frames, broadcast intersection,
    one integer division per query — all the heavy lifting already
    happened (and is cached) inside the two composed queries."""
    return _recall_vs_exact(
        ann_pq_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        _exact_topk(spark, sf_dir, PQ_TOP_K),
        PQ_TOP_K,
    )


# --- IVF x PQ: the IVFADC composition ----------------------------------------


def _ivfpq_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVFADC index frame (vec_id, centroid_id, m, cid): inverted
    lists whose entries are PQ codes — FAISS's IVFPQ storage layout.
    Memoized per (session, sf_dir). At 10^12 vectors this frame is what you write out partitioned by
    centroid_id: ~10 bytes of codes per entry instead of 256 bytes of
    floats, and a probe touches only its lists' partitions."""

    def build() -> DataFrame:
        _cent, assigned = _ivf_index(spark, sf_dir)
        cb = _pq_codebooks(spark, sf_dir)
        codes = _pq_assign(_pq_sub(spark, sf_dir), cb).select("vec_id", "m", "cid")
        return codes.join(assigned.select("vec_id", "centroid_id"), "vec_id")

    return memo(spark, sf_dir, "ivfpq-lists", build)


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jegou et al. 2011, §V): the IVF coarse quantizer prunes
    the candidate set to the query's top-N_PROBE inverted lists, and
    PQ/ADC scores ONLY those lists' codes — the production
    trillion-vector shape that composes ann_ivf_topk's compute path
    (touch n*N_PROBE/N_CENTROIDS of the corpus) with ann_pq_topk's
    memory path (80-bit codes, table-lookup distances). Codes quantize
    the unit-normalized vectors directly (IVFFlat-style lists carrying
    PQ codes), not centroid residuals: the codebooks are shared with
    ann_pq_topk, so the twin re-derives one training chain, and on
    unit vectors ADC stays rank-equivalent to cosine.

    Plan shape at query time: equi-join of the memoized lists frame on
    centroid_id against the broadcast probe set, broadcast ADC lookup
    join, one (query, vec) integer-sum aggregate over ~n*N_PROBE*PQ_M/
    N_CENTROIDS rows, window top-K. No corpus shuffle, no cartesian.

    The DuckDB twin composes the PQ chain (_pq_common_sql) with the
    IVF centroid/assignment/probe CTEs and restricts the ADC join to
    probed-list candidates — same tie-breaks ((adc, vec_id) ASC), same
    integer arithmetic, exact cross-engine match."""
    lists = _ivfpq_lists(spark, sf_dir)
    cent, _assigned = _ivf_index(spark, sf_dir)
    cb = _pq_codebooks(spark, sf_dir)
    probe_ids = _ivf_probes(_emb(spark, sf_dir), cent).select(
        "query_id", "centroid_id"
    )
    # query ADC lookup table: Q*M*K rows, broadcast. Rename every key
    # (qid/qm/k): qd and lists both descend from the embeddings scan,
    # and identically-named join columns in shared-lineage joins
    # resolve to ONE attribute (the "trivially true equals predicate"
    # trap, see ann_pq_topk).
    sub = _pq_sub(spark, sf_dir)
    qd = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("m").alias("qm"),
            F.col("cid").alias("k"),
            F.floor(_pq_d2() * EMB_SCALE).cast("long").alias("qdist"),
        )
    )
    adc = (
        lists.join(F.broadcast(probe_ids), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(qd),
            (F.col("m") == F.col("qm"))
            & (F.col("cid") == F.col("k"))
            & (F.col("query_id") == F.col("qid")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_scaled"), F.asc("vec_id")
    )
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_scaled",
            "rk",
        )
    )


_DOT_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


def _ivfpq_oracle_sql() -> str:
    """IVFADC twin: the PQ chain's `en` CTE (vec_id, raw v, nrm) feeds
    the IVF centroid pick / assignment / probes (same md5 sample and
    tie-breaks as the ann_ivf_topk oracle), and the ADC join is
    restricted to probed-list candidates."""
    dot = _DOT_SQL
    ccos = (
        dot.format(a="en.v", b="cent.cv") + " / (en.nrm * cent.cn)"
    )
    return _pq_common_sql() + f""",
    cent AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
        FROM en ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
        LIMIT {N_CENTROIDS}
    ),
    asg AS (
        SELECT vec_id, centroid_id FROM (
            SELECT en.vec_id, cent.centroid_id,
                   row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY {ccos} DESC, cent.centroid_id ASC) AS ark
            FROM en, cent
        ) WHERE ark = 1
    ),
    probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT en.vec_id AS query_id, cent.centroid_id,
                   row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY {ccos} DESC, cent.centroid_id ASC) AS prk
            FROM en, cent WHERE en.vec_id < {N_QUERIES}
        ) WHERE prk <= {N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM asg a JOIN probes p USING (centroid_id)
        WHERE a.vec_id <> p.query_id
    ),
    adc AS (
        SELECT c.query_id, c.vec_id,
               CAST(sum(q.qd) AS BIGINT) AS adc_scaled
        FROM cand c
        JOIN enc x ON x.vec_id = c.vec_id
        JOIN qd q ON q.query_id = c.query_id
                 AND q.m = x.m AND q.k = x.code
        GROUP BY c.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc_scaled, rk FROM (
        SELECT query_id, vec_id AS neighbor_id, adc_scaled,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_scaled ASC, vec_id ASC) AS BIGINT) AS rk
        FROM adc
    ) WHERE rk <= {PQ_TOP_K}
"""


IVFPQ_ORACLE_SQL = _ivfpq_oracle_sql()


def ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the IVFADC path vs the exact cosine
    baseline — the same honesty number ann_ivf_recall and ann_pq_recall
    publish for their single-stage paths. Per query it is bounded above
    by the IVF path's recall (a true neighbor must survive the coarse
    prune; and any pruned-in exact-top-K neighbor is in ann_ivf_topk's
    top-K by definition) — a pinned test invariant. It is NOT bounded
    by PQ's recall: pruning also removes ADC distractors, so IVFADC
    can beat exhaustive ADC. This value is what the 100x-scale
    N_PROBE-vs-PQ_KS budget conversation trades against, per corpus."""
    return _recall_vs_exact(
        ann_ivf_pq_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        _exact_topk(spark, sf_dir, PQ_TOP_K),
        PQ_TOP_K,
    )
