"""CCNet-style language-model perplexity filtering, cross-engine exact.

CCNet (Wenzek et al. 2020) ranks every crawled document by the
perplexity of a language model trained on a clean corpus and keeps the
head/middle tertiles — the canonical model-based quality stage between
the rule gates (quality_filter_gopher/_c4) and dedup. The corpus-
statistics proxy `text_unigram_rarity` deliberately avoided log-space
scoring because ln() is not bit-stable across engines; the integer-ln
machinery proven in sketch_distinct_hll and search_bm25_topk
(bit-length exponent + a 256-entry precomputed mantissa table embedded
verbatim in both engines' query text) lifts that restriction, so this
operator computes a REAL add-one-smoothed unigram cross-entropy:

  LM train     hash-stable 20% slice of documents (hash15(doc_id)%5==0
               — the stand-in for CCNet's out-of-domain Wikipedia LM;
               content-independent, so the slice is identical across
               runs, engines and shard layouts)
  p(t)         (cnt_t + 1) / (total + |V|)       [Laplace smoothing;
                                                  OOV -> cnt_t = 0]
  logp_int(t)  iln((cnt_t+1)*PREC) - iln((total+|V|)*PREC)   [BIGINT]
  ce_scaled    per-doc mean negative log-prob * PREC, truncating
               integer division — exp() never runs, because perplexity
               exp(ce) is monotone in ce, so ranking and tertile cuts
               are unaffected
  ppl_bucket   CCNet's head/middle/tail: exact nearest-rank tertile
               cutoffs over the corpus ce distribution (the
               agg_length_percentiles pattern — integer rank
               arithmetic, no approx_percentile)

Scale shape (the part that must survive 10^12 docs):
  - LM build: one token shuffle with map-side combine; the training
    slice is filtered at scan time (hash of the PARTITION-pruning-
    friendly doc_id, no content read for skipped docs' LM pass).
  - score join-back: token keys are Zipf-skewed, so the join is split
    exactly like text_unigram_rarity — the top-HEAD_K LM rows join as
    a BROADCAST map (the hot head never touches the shuffle), only the
    de-skewed tail rides the shuffled equi-join; OOV tokens survive
    via left joins on both lanes.
  - tertile cutoffs: groupBy(ce) collapses the corpus map-side FIRST;
    the single-partition cumulative window runs over DISTINCT ce
    values, bounded by the fixed-point value space (~PREC * ln-range),
    not by corpus size.

Reference parity: the reference gates documents on an LLM-reported
confidence score (src/processor/app/extractors/langchain_extractor.py
confidence field threshold); this is that quality gate rebuilt as a
corpus-trained statistical score with a distributed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..memo import memo
from .search import BM25_PREC as PREC
from .search import _iln_sql
from .textstats import HEAD_K

LM_MOD = 5  # hash15(doc_id) % LM_MOD == 0 -> the ~20% LM training slice
EMPTY_CE = -1  # sentinel for zero-token docs (dtype-stable: no NULL lane)


def quality_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")

    lm = (
        tok.filter(TX.hash15(F.col("doc_id").cast("string")) % LM_MOD == 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # one-row corpus stats: total token mass + vocab size of the LM,
    # and the constant denominator log iln((total+|V|)*PREC)
    stats = lm.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vsize")
    ).select(F.expr(_iln_sql(f"((total + vsize) * {PREC})", "spark")).alias("ilden"))

    # skew-split join-back (the shared _skew_left_join helper):
    # broadcast head, shuffled tail; LEFT joins on both lanes keep OOV
    # tokens (cnt -> 0)
    scored = (
        _skew_left_join(tok, lm, "token", "cnt")
        .withColumn("cnt1", F.coalesce(F.col("cnt"), F.lit(0)) + 1)
        .withColumn("lpn", F.expr(_iln_sql(f"(cnt1 * {PREC})", "spark")))
    )

    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"), F.sum("lpn").alias("slpn")
    )
    ce = perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "n_tok",
        # truncating INTEGER division (Spark DIV == DuckDB // on
        # positives) — `/` would be double division with FP rounding
        F.expr("(n_tok * ilden - slpn) DIV n_tok").cast("long").alias(
            "ce_scaled"
        ),
    )

    # exact nearest-rank tertile cutoffs over DISTINCT ce values
    dist = ce.groupBy("ce_scaled").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("ce_scaled").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dist.select("ce_scaled", F.sum("c").over(wcum).alias("cum"))
    n_row = ce.agg(F.count(F.lit(1)).alias("n"))
    cuts = (
        cum.crossJoin(F.broadcast(n_row))
        .agg(
            # nearest-rank: ceil(n/3) = (n+2) DIV 3 — integer arithmetic
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 2) DIV 3"), F.col("ce_scaled")
                )
            ).alias("c1"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(2 * n + 2) DIV 3"),
                    F.col("ce_scaled"),
                )
            ).alias("c2"),
        )
    )

    bucketed = ce.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        "ce_scaled",
        F.when(F.col("ce_scaled") <= F.col("c1"), F.lit("head"))
        .when(F.col("ce_scaled") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    return docs.select("doc_id").join(bucketed, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tok"), F.lit(0)).cast("long").alias("n_tok"),
        F.coalesce(F.col("ce_scaled"), F.lit(EMPTY_CE)).cast("long").alias(
            "ce_scaled"
        ),
        F.coalesce(F.col("ppl_bucket"), F.lit("tail")).alias("ppl_bucket"),
    )


_NORM = r"trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))"

NB_POS_MOD = 4  # hash15(source) % NB_POS_MOD == 0 -> positive provenance
_H15 = "CAST(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15)) AS BIGINT)"


def quality_classifier_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCLM/fastText-style model-based quality classifier — multinomial
    Naive Bayes trained on provenance labels, scored as an integer
    log-likelihood ratio.

    The modern curation stack (DCLM, FineWeb-Edu, Llama's "quality
    classifier") gates documents on a LEARNED discriminative score, not
    just rule gates (quality_filter_gopher/_c4) or a one-class LM
    (quality_perplexity_*). The canonical recipe trains a linear
    classifier on bag-of-words features where the positive set is a
    trusted provenance pool and the negative set is raw crawl — NB with
    Laplace smoothing IS that linear model, and its weights are pure
    count arithmetic, so the whole train+score loop stays inside
    DataFrame aggregates with a bit-exact DuckDB twin:

      label        pos(source)  := hash15(source) % NB_POS_MOD == 0
                   (the stand-in for "curated provenance" — content-
                   independent and engine-identical)
      train slice  hash15(doc_id) % LM_MOD == 0  (same 20% slice as the
                   perplexity gates; the other 80% is honestly unseen)
      w(t)         iln((c_pos(t)+1)*PREC) - iln((c_neg(t)+1)*PREC)
      kden         iln((T_pos+|V|)*PREC) - iln((T_neg+|V|)*PREC)
      prior        iln((D_pos+1)*PREC) - iln((D_neg+1)*PREC)
      score(d)     prior + sum_t w(t) - n_tok(d) * kden      [BIGINT]
      pred_hi      score(d) > 0

    i.e. the exact smoothed NB decision function ln P(pos|d)/P(neg|d);
    every term is integer via the shared 256-entry ln table, and the
    score is a SUM (never a mean), so no truncating division touches a
    possibly-negative numerator — Spark DIV and DuckDB // only agree on
    positives (CLAUDE.md), and this operator never needs one.

    Scale shape (the part that must survive 10^12 docs): ONE token
    shuffle builds the two class-conditional count columns in the same
    aggregate (map-side combine; no per-class scan); the weight
    join-back is Zipf-keyed so it rides the broadcast-head skew split
    (_skew_left_join, ordered by total class mass); per-doc scoring is
    one doc_id shuffle; all model state (kden, prior) is a broadcast
    one-row frame. OOV tokens take w = 0 via the left-join coalesce —
    the true smoothed ratio for an unseen token is -kden per unit mass,
    which the n_tok * kden term already pays, so OOV contributes exactly
    its NB share.

    Reference parity: the reference's quality gate is an LLM-reported
    confidence threshold (src/processor/app/extractors/
    langchain_extractor.py, confidence field); this rebuilds that
    accept/reject stage as a corpus-trained discriminative score with a
    distributed plan.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = TX.hash15(F.col("source")) % NB_POS_MOD == 0
    in_slice = TX.hash15(F.col("doc_id").cast("string")) % LM_MOD == 0

    tok = docs.select(
        "doc_id",
        pos.alias("pos"),
        F.explode(TX.tokens(F.col("text"))).alias("token"),
    ).filter(F.col("token") != "")

    lm = (
        tok.filter(in_slice)
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("cp"),
            F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("cn"),
        )
    )
    # one-row model state: class-mass denominators + smoothed doc prior
    kden = lm.agg(
        F.sum("cp").alias("tp"), F.sum("cn").alias("tn"), F.count(F.lit(1)).alias("v")
    ).select(
        (
            F.expr(_iln_sql(f"((tp + v) * {PREC})", "spark"))
            - F.expr(_iln_sql(f"((tn + v) * {PREC})", "spark"))
        ).alias("kden")
    )
    prior = (
        docs.filter(in_slice)
        .agg(
            F.sum(F.when(pos, 1).otherwise(0)).alias("dp"),
            F.sum(F.when(~pos, 1).otherwise(0)).alias("dn"),
        )
        .select(
            (
                F.expr(_iln_sql(f"((dp + 1) * {PREC})", "spark"))
                - F.expr(_iln_sql(f"((dn + 1) * {PREC})", "spark"))
            ).alias("prior")
        )
    )
    stats = kden.crossJoin(prior)

    # weight table, packed (cnt, w) so the skew helper's head pick
    # orders by total class mass while the payload rides along
    wt = lm.select(
        "token",
        F.struct(
            (F.col("cp") + F.col("cn")).alias("cnt"),
            (
                F.expr(_iln_sql(f"((cp + 1) * {PREC})", "spark"))
                - F.expr(_iln_sql(f"((cn + 1) * {PREC})", "spark"))
            ).alias("w"),
        ).alias("v"),
    )
    scored = _skew_left_join(tok.select("doc_id", "token"), wt, "token", "v")
    perdoc = scored.select(
        "doc_id", F.coalesce(F.col("v.w"), F.lit(0)).alias("w")
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"), F.sum("w").alias("sw")
    )

    return (
        docs.select("doc_id", (TX.hash15(F.col("source")) % NB_POS_MOD == 0).alias("label_pos"))
        .join(perdoc, "doc_id", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "label_pos",
            F.coalesce(F.col("n_tok"), F.lit(0)).cast("long").alias("n_tok"),
            (
                F.col("prior")
                + F.coalesce(F.col("sw"), F.lit(0))
                - F.coalesce(F.col("n_tok"), F.lit(0)) * F.col("kden")
            ).cast("long").alias("nb_llr_scaled"),
        )
        .withColumn("pred_hi", F.col("nb_llr_scaled") > 0)
    )


_POS = "(" + _H15.format(x="source") + f" % {NB_POS_MOD} = 0)"
_SLICE = _H15.format(x="doc_id") + f" % {LM_MOD} = 0"

_NB_CTES = f"""tok AS (
        SELECT doc_id, {_POS} AS pos,
               unnest(string_split({_NORM}, ' ')) AS token
        FROM documents
    ),
    tk AS (SELECT * FROM tok WHERE token <> ''),
    lm AS (
        SELECT token,
               CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS cn
        FROM tk WHERE {_SLICE} GROUP BY token
    ),
    kden AS (
        SELECT {_iln_sql(
            f"((CAST(sum(cp) AS BIGINT) + count(*)) * {PREC})", "duckdb")}
             - {_iln_sql(
            f"((CAST(sum(cn) AS BIGINT) + count(*)) * {PREC})", "duckdb")}
               AS kden
        FROM lm
    ),
    prior AS (
        SELECT {_iln_sql(
            "((CAST(sum(CASE WHEN " + _POS + " THEN 1 ELSE 0 END) AS BIGINT)"
            f" + 1) * {PREC})", "duckdb")}
             - {_iln_sql(
            "((CAST(sum(CASE WHEN NOT " + _POS
            + " THEN 1 ELSE 0 END) AS BIGINT)"
            f" + 1) * {PREC})", "duckdb")}
               AS prior
        FROM documents WHERE {_SLICE}
    ),
    wt AS (
        SELECT token,
               {_iln_sql(f"((cp + 1) * {PREC})", "duckdb")}
             - {_iln_sql(f"((cn + 1) * {PREC})", "duckdb")} AS w
        FROM lm
    ),
    perdoc AS (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS sw
        FROM tk t LEFT JOIN wt USING (token)
        GROUP BY t.doc_id
    ),
    final AS (
        SELECT d.doc_id,
               {_POS.replace("source", "d.source")} AS label_pos,
               coalesce(p.n_tok, 0) AS n_tok,
               (SELECT prior FROM prior) + coalesce(p.sw, 0)
                 - coalesce(p.n_tok, 0) * (SELECT kden FROM kden)
                   AS nb_llr_scaled
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
    )"""

NB_ORACLE_SQL = f"""
    WITH {_NB_CTES}
    SELECT doc_id, label_pos, n_tok, nb_llr_scaled,
           nb_llr_scaled > 0 AS pred_hi
    FROM final
"""


EVAL_BINS = 10  # threshold grid resolution for classifier_eval_pr


def classifier_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out precision/recall sweep for the learned quality gate —
    the measured-honesty companion to quality_classifier_nb (the same
    role ann_ivf_recall plays for the IVF index): before anyone trusts
    a classifier threshold at 10^12 docs, they need its operating curve
    on documents the model never saw.

    Evaluation set: the 80% of the corpus OUTSIDE the hash-stable
    training slice. Thresholds: a fixed EVAL_BINS-point grid spanning
    the held-out score range (lo + i*(hi-lo) DIV EVAL_BINS, i in
    1..EVAL_BINS-1) — deliberately NOT score quantiles: exact order
    statistics over near-unique scores would need a corpus-wide sort
    into one partition, while min/max is a scan-side aggregate, so the
    grid stays scale-safe at any corpus size. Per threshold the full
    confusion matrix (predict pos iff score > threshold) plus
    fixed-point precision/recall/F1 (PREC-scaled truncating division on
    non-negative counts only; empty-denominator cells take the -1
    sentinel rather than NULL so the dtype lane stays BIGINT).

    Shape: one NB scoring pass (shared plan with the classifier), a
    one-row min/max aggregate, a broadcast (EVAL_BINS-1)-row threshold
    table crossJoined onto the held-out scores (row expansion ×9,
    collapsed by map-side partial aggregation before the 9-group
    shuffle). No sort, no skew, no per-row Python.
    """
    scored = quality_classifier_nb(spark, sf_dir)
    held = scored.filter(
        TX.hash15(F.col("doc_id").cast("string")) % LM_MOD != 0
    ).select("label_pos", "nb_llr_scaled")
    rng = held.agg(
        F.min("nb_llr_scaled").alias("lo"), F.max("nb_llr_scaled").alias("hi")
    )
    grid = rng.select(
        F.explode(F.sequence(F.lit(1), F.lit(EVAL_BINS - 1))).alias("thr_i"),
        "lo",
        "hi",
    ).select(
        F.col("thr_i").cast("long").alias("thr_i"),
        (
            F.col("lo")
            + F.expr(f"(thr_i * (hi - lo)) DIV {EVAL_BINS}")
        ).cast("long").alias("threshold"),
    )
    conf = (
        held.crossJoin(F.broadcast(grid))
        .withColumn("hit", F.col("nb_llr_scaled") > F.col("threshold"))
        .groupBy("thr_i", "threshold")
        .agg(
            F.sum(F.when(F.col("label_pos") & F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(~F.col("label_pos") & F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(F.col("label_pos") & ~F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when(~F.col("label_pos") & ~F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("tn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(-1)).otherwise(
        F.expr(f"({PREC} * tp) DIV (tp + fp)")
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(-1)).otherwise(
        F.expr(f"({PREC} * tp) DIV (tp + fn)")
    )
    out = conf.select(
        "thr_i",
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        prec.cast("long").alias("precision_scaled"),
        rec.cast("long").alias("recall_scaled"),
    ).withColumn(
        "f1_scaled",
        F.when(
            (F.col("precision_scaled") < 0)
            | (F.col("recall_scaled") < 0)
            | (F.col("precision_scaled") + F.col("recall_scaled") == 0),
            F.lit(-1),
        )
        .otherwise(
            F.expr(
                "(2 * precision_scaled * recall_scaled)"
                " DIV (precision_scaled + recall_scaled)"
            )
        )
        .cast("long"),
    )
    return out.orderBy("thr_i")


EVAL_PR_ORACLE_SQL = f"""
    WITH {_NB_CTES},
    held AS (
        SELECT label_pos, nb_llr_scaled
        FROM final
        WHERE NOT ({_H15.format(x="doc_id")} % {LM_MOD} = 0)
    ),
    rng AS (
        SELECT CAST(min(nb_llr_scaled) AS BIGINT) AS lo,
               CAST(max(nb_llr_scaled) AS BIGINT) AS hi
        FROM held
    ),
    grid AS (
        SELECT CAST(t.i AS BIGINT) AS thr_i,
               lo + (t.i * (hi - lo)) // {EVAL_BINS} AS threshold
        FROM rng, range(1, {EVAL_BINS}) AS t(i)
    ),
    conf AS (
        SELECT thr_i, threshold,
               CAST(sum(CASE WHEN label_pos AND nb_llr_scaled > threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN NOT label_pos AND nb_llr_scaled > threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN label_pos AND NOT nb_llr_scaled > threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN NOT label_pos
                         AND NOT nb_llr_scaled > threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM held, grid GROUP BY thr_i, threshold
    ),
    pr AS (
        SELECT thr_i, threshold, tp, fp, fn, tn,
               CASE WHEN tp + fp = 0 THEN -1
                    ELSE ({PREC} * tp) // (tp + fp) END AS precision_scaled,
               CASE WHEN tp + fn = 0 THEN -1
                    ELSE ({PREC} * tp) // (tp + fn) END AS recall_scaled
        FROM conf
    )
    SELECT thr_i, threshold, tp, fp, fn, tn,
           precision_scaled, recall_scaled,
           CASE WHEN precision_scaled < 0 OR recall_scaled < 0
                     OR precision_scaled + recall_scaled = 0 THEN -1
                ELSE (2 * precision_scaled * recall_scaled)
                     // (precision_scaled + recall_scaled)
           END AS f1_scaled
    FROM pr ORDER BY thr_i
"""

PERPLEXITY_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
        FROM documents
    ),
    tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    lm AS (
        SELECT token, count(*) AS cnt
        FROM tk
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {LM_MOD} = 0
        GROUP BY token
    ),
    stats AS (
        SELECT {_iln_sql(
            f"((CAST(sum(cnt) AS BIGINT) + count(*)) * {PREC})", "duckdb"
        )} AS ilden
        FROM lm
    ),
    scored AS (
        SELECT t.doc_id,
               {_iln_sql(f"((coalesce(lm.cnt, 0) + 1) * {PREC})", "duckdb")}
                   AS lpn
        FROM tk t LEFT JOIN lm USING (token)
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(lpn) AS BIGINT) AS slpn
        FROM scored GROUP BY doc_id
    ),
    ce AS (
        SELECT doc_id, n_tok,
               (n_tok * (SELECT ilden FROM stats) - slpn) // n_tok
                   AS ce_scaled
        FROM perdoc
    ),
    dist AS (SELECT ce_scaled, count(*) AS c FROM ce GROUP BY ce_scaled),
    cum AS (
        SELECT ce_scaled, sum(c) OVER (ORDER BY ce_scaled) AS cum FROM dist
    ),
    nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ce),
    cuts AS (
        SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN ce_scaled END) AS c1,
               min(CASE WHEN cum >= (2 * n + 2) // 3 THEN ce_scaled END) AS c2
        FROM cum, nrow
    ),
    bucketed AS (
        SELECT doc_id, n_tok, ce_scaled,
               CASE WHEN ce_scaled <= c1 THEN 'head'
                    WHEN ce_scaled <= c2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM ce, cuts
    )
    SELECT d.doc_id,
           coalesce(b.n_tok, 0) AS n_tok,
           coalesce(b.ce_scaled, {EMPTY_CE}) AS ce_scaled,
           coalesce(b.ppl_bucket, 'tail') AS ppl_bucket
    FROM documents d LEFT JOIN bucketed b USING (doc_id)
"""


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document unigram entropy — the "is this text degenerate"
    signal the Gopher/Dolma rule families key repetition thresholds on
    (a spam page repeating one token has H ~ 0; diverse prose sits near
    ln(n_distinct)). Exact integer form of
        H = ln(n) - (1/n) * sum_t c_t * ln(c_t)
    via the shared 256-entry integer-ln table, so the score is
    bit-identical cross-engine:
        entropy_scaled = iln(n*PREC) - (sum_t c_t * iln(c_t*PREC)) DIV n
    (iln(1*PREC) = 0, so hapax tokens contribute nothing — exactly like
    the float identity). low_entropy flags documents below HALF the
    maximum possible ln(n) — a relative, length-robust rule, pure
    integer comparison.

    Shape: explode -> (doc_id, token) count with map-side combine ->
    per-doc aggregate. Both shuffles key on doc_id(+token): no Zipf
    skew (the hot token "the" spreads across documents), no join, no
    broadcast needed — scan-speed at any corpus size.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    perdoc = (
        cnt.withColumn("ilnc", F.expr(_iln_sql(f"(c * {PREC})", "spark")))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * F.col("ilnc")).alias("s"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_distinct",
            (
                F.expr(_iln_sql(f"(n_tok * {PREC})", "spark"))
                - F.expr("s DIV n_tok")
            ).alias("entropy_scaled"),
        )
    )
    out = perdoc.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("entropy_scaled").cast("long").alias("entropy_scaled"),
        (
            F.col("entropy_scaled") * 2
            < F.expr(_iln_sql(f"(n_tok * {PREC})", "spark"))
        ).alias("low_entropy"),
    )
    return docs.select("doc_id").join(out, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tok"), F.lit(0)).cast("long").alias("n_tok"),
        F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias(
            "n_distinct"
        ),
        F.coalesce(F.col("entropy_scaled"), F.lit(EMPTY_CE)).cast("long").alias(
            "entropy_scaled"
        ),
        F.coalesce(F.col("low_entropy"), F.lit(True)).alias("low_entropy"),
    )


ENTROPY_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT doc_id, token, count(*) AS c
        FROM tok WHERE token <> '' GROUP BY doc_id, token
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tok,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * {_iln_sql(f"(c * {PREC})", "duckdb")})
                    AS BIGINT) AS s
        FROM cnt GROUP BY doc_id
    ),
    scored AS (
        SELECT doc_id, n_tok, n_distinct,
               {_iln_sql(f"(n_tok * {PREC})", "duckdb")} - s // n_tok
                   AS entropy_scaled,
               (2 * ({_iln_sql(f"(n_tok * {PREC})", "duckdb")} - s // n_tok))
                   < {_iln_sql(f"(n_tok * {PREC})", "duckdb")} AS low_entropy
        FROM perdoc
    )
    SELECT d.doc_id,
           coalesce(o.n_tok, 0) AS n_tok,
           coalesce(o.n_distinct, 0) AS n_distinct,
           coalesce(o.entropy_scaled, {EMPTY_CE}) AS entropy_scaled,
           coalesce(o.low_entropy, TRUE) AS low_entropy
    FROM documents d LEFT JOIN scored o USING (doc_id)
"""


def _skew_left_join(
    rows: DataFrame, dim: DataFrame, key: str, valcol: str
) -> DataFrame:
    """Broadcast-head skew split for a LEFT join against a Zipf-keyed
    dimension (the text_unigram_rarity pattern as a helper): the
    top-HEAD_K dimension rows join as a broadcast map so the hot head
    never rides the shuffle; only the de-skewed tail takes the shuffled
    equi-join, and misses survive via left joins on both lanes."""
    head = dim.orderBy(F.col(valcol).desc(), key).limit(HEAD_K)
    with_head = rows.join(F.broadcast(head), key, "left")
    hot = with_head.filter(F.col(valcol).isNotNull())
    cold = (
        with_head.filter(F.col(valcol).isNull())
        .drop(valcol)
        .join(dim, key, "left")
    )
    return hot.unionByName(cold)


def _bigram_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide (doc_id, w1, bg) bigram stream — the scan-side
    explode shared by the add-one and Kneser-Ney scorers."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arr = TX.tokens(F.col("text"))
    return (
        docs.select("doc_id", arr.alias("a"))
        .filter(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("a"), i).alias("w1"),
                        F.concat(
                            F.element_at(F.col("a"), i),
                            F.lit(" "),
                            F.element_at(F.col("a"), i + 1),
                        ).alias("bg"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.bg")
    )


def _bigram_lm_tables(
    spark: SparkSession, sf_dir: str, bigr: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """ONE slice scan builds the (w1, bg, c12) pair table — bg
    determines w1, so this is bigram-vocabulary-sized — and every
    derived statistic (c1, continuation counts) comes off it without a
    second corpus pass. The pair table and the scoring-side bigram
    frame are persisted+memoized per (session, sf_dir) like the IVF
    index, shared by quality_perplexity_bigram AND the Kneser-Ney
    scorer: each skew-split join's hot/cold lanes read the cache
    instead of re-running the tokenize+explode."""

    def build() -> tuple:
        in_slice = TX.hash15(F.col("doc_id").cast("string")) % LM_MOD == 0
        pc = (
            bigr.filter(in_slice)
            .groupBy("w1", "bg")
            .agg(F.count(F.lit(1)).alias("c12"))
        )
        return pc, bigr

    return memo(spark, sf_dir, "bigram-lm", build)


def quality_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy — one Markov order closer to CCNet's
    actual KenLM than the unigram gate: score each document by the mean
    negative log of add-one-smoothed p(w2 | w1) under a bigram model
    trained on the same hash-stable 20% slice.

        p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + |V|)
        lp_int   = iln((c12+1)*PREC) - iln((c1+|V|)*PREC)   [BIGINT]
        ce2      = -mean(lp_int), truncating integer division

    where c(w1 ·) counts bigrams STARTING with w1 in the slice (the
    conditioning mass, so rows with unseen w1 fall back to 1/|V|), and
    |V| is the slice's unigram vocabulary. Unlike the unigram gate the
    denominator log varies per row, so both terms ride the join.

    Scale shape: the bigram explode is corpus-sized but scan-side; BOTH
    join-backs (bigram -> c12, left-token -> c1) are Zipf-keyed, so
    each runs through the broadcast-head skew split (_skew_left_join).
    Per-doc aggregation is one doc_id shuffle. The c·iln sums graduate
    to DECIMAL(38,0) at 10^12-token corpora like the other integer-log
    ops. Docs with < 2 tokens have no bigrams -> EMPTY_CE sentinel.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bigr = _bigram_corpus(spark, sf_dir)
    pc, bigr_c = _bigram_lm_tables(spark, sf_dir, bigr)
    in_slice = TX.hash15(F.col("doc_id").cast("string")) % LM_MOD == 0
    lm_bg = pc.select("bg", "c12")
    lm_c1 = pc.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vrow = (
        docs.filter(in_slice)
        .select(F.explode(TX.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
        .agg(F.count_distinct("t").alias("vsize"))
    )
    joined = _skew_left_join(
        _skew_left_join(bigr_c, lm_bg, "bg", "c12"), lm_c1, "w1", "c1"
    )
    scored = (
        joined.crossJoin(F.broadcast(vrow))
        .withColumn("c12_1", F.coalesce(F.col("c12"), F.lit(0)) + 1)
        .withColumn("c1_v", F.coalesce(F.col("c1"), F.lit(0)) + F.col("vsize"))
        .withColumn(
            "lp",
            F.expr(_iln_sql(f"(c1_v * {PREC})", "spark"))
            - F.expr(_iln_sql(f"(c12_1 * {PREC})", "spark")),
        )
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(lp) DIV count(1)").alias("ce2_scaled"),
    )
    return docs.select("doc_id").join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
            "n_bigrams"
        ),
        F.coalesce(F.col("ce2_scaled"), F.lit(EMPTY_CE)).cast("long").alias(
            "ce2_scaled"
        ),
    )


# Kneser-Ney absolute discount d = KN_D_NUM / KN_D_DEN. 0.75 is the
# classic Chen-Goodman value; as a rational it keeps every probability
# an exact integer fraction.
KN_D_NUM, KN_D_DEN = 3, 4


def quality_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy — KenLM-grade
    smoothing (Chen & Goodman 1999; what CCNet's KenLM actually runs,
    modulo order), replacing the add-one gate's uniform-prior bias with
    absolute discounting plus the continuation-probability backoff:

      p(w2|w1) = max(c12 - d, 0)/c1  +  d*N1+(w1 .)/c1 * p_cont(w2)
      p_cont(w2) = N1+(. w2) / |distinct bigram types|

    With d = 3/4 every probability is the exact integer fraction

      num = max(4*c12 - 3, 0)*NBB + 3*N1c(w1)*N1r(w2)   [>= 1 floor]
      den = 4 * c1 * NBB

    (unseen w1 backs off to pure continuation num=max(N1r,1), den=NBB;
    the >=1 floor is the epsilon for bigrams whose w2 never ends a
    slice bigram — deterministic and documented, not a hidden NaN).
    lp = iln(den*PREC) - iln(num*PREC) through the shared integer-ln
    table, so the DuckDB twin is bit-identical with zero rounding.

    Scale shape: identical to quality_perplexity_bigram — the corpus
    explode is scan-side, ALL THREE join-backs (bg -> c12,
    w1 -> (c1, N1c), w2 -> N1r) are Zipf-keyed and ride the
    broadcast-head skew split; NBB is a one-row broadcast. den =
    4*c1*NBB*PREC stays under BIGINT to ~10^5 distinct-bigram slices
    per 10^6-count word; past that the product graduates to
    DECIMAL(38,0) like the other integer-log ops."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bigr = _bigram_corpus(spark, sf_dir)
    pc, bigr_c = _bigram_lm_tables(spark, sf_dir, bigr)

    lm_bg = pc.select("bg", "c12")
    lm_c1 = pc.groupBy("w1").agg(
        F.struct(
            F.sum("c12").cast("long").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("n1c"),
        ).alias("c1s")
    )
    w2_of = lambda c: F.element_at(F.split(c, " "), 2)
    lm_w2 = (
        pc.select(w2_of(F.col("bg")).alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n1r"))
    )
    nbb_row = pc.agg(F.count(F.lit(1)).cast("long").alias("nbb"))

    rows = bigr_c.withColumn("w2", w2_of(F.col("bg")))
    joined = _skew_left_join(
        _skew_left_join(
            _skew_left_join(rows, lm_bg, "bg", "c12"), lm_c1, "w1", "c1s"
        ),
        lm_w2,
        "w2",
        "n1r",
    ).crossJoin(F.broadcast(nbb_row))

    c12f = F.coalesce(F.col("c12"), F.lit(0)).cast("long")
    n1rf = F.coalesce(F.col("n1r"), F.lit(0)).cast("long")
    seen = F.col("c1s").isNotNull()
    num_seen = F.greatest(
        F.greatest(F.lit(KN_D_DEN) * c12f - F.lit(KN_D_NUM), F.lit(0))
        * F.col("nbb")
        + F.lit(KN_D_NUM) * F.col("c1s.n1c") * n1rf,
        F.lit(1).cast("long"),
    )
    den_seen = F.lit(KN_D_DEN) * F.col("c1s.c1") * F.col("nbb")
    scored = joined.withColumn(
        "num", F.when(seen, num_seen).otherwise(F.greatest(n1rf, F.lit(1)))
    ).withColumn(
        "den", F.when(seen, den_seen).otherwise(F.col("nbb"))
    ).withColumn(
        "lp",
        F.expr(_iln_sql(f"(den * {PREC})", "spark"))
        - F.expr(_iln_sql(f"(num * {PREC})", "spark")),
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(lp) DIV count(1)").alias("ce_kn_scaled"),
    )
    return docs.select("doc_id").join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
            "n_bigrams"
        ),
        F.coalesce(F.col("ce_kn_scaled"), F.lit(EMPTY_CE))
        .cast("long")
        .alias("ce_kn_scaled"),
    )


BIGRAM_ORACLE_SQL = f"""
    WITH tk AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS a FROM documents
    ),
    bigr AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a)),
                   i -> a[i])) AS w1,
               unnest(list_transform(range(1, len(a)),
                   i -> a[i] || ' ' || a[i + 1])) AS bg
        FROM tk WHERE len(a) >= 2
    ),
    sl AS (
        SELECT * FROM bigr
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {LM_MOD} = 0
    ),
    lm_bg AS (SELECT bg, count(*) AS c12 FROM sl GROUP BY bg),
    lm_c1 AS (SELECT w1, count(*) AS c1 FROM sl GROUP BY w1),
    vrow AS (
        SELECT count(DISTINCT t) AS vsize FROM (
            SELECT unnest(string_split({_NORM}, ' ')) AS t
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % {LM_MOD} = 0
        ) WHERE t <> ''
    ),
    scored AS (
        SELECT b.doc_id,
               {_iln_sql(
                   f"((coalesce(c.c1, 0) + (SELECT vsize FROM vrow))"
                   f" * {PREC})", "duckdb")}
               - {_iln_sql(f"((coalesce(g.c12, 0) + 1) * {PREC})", "duckdb")}
                   AS lp
        FROM bigr b
        LEFT JOIN lm_bg g USING (bg)
        LEFT JOIN lm_c1 c USING (w1)
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(lp) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS ce2_scaled
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           coalesce(p.ce2_scaled, {EMPTY_CE}) AS ce2_scaled
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
"""


KN_ORACLE_SQL = f"""
    WITH tk AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS a FROM documents
    ),
    bigr AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
               unnest(list_transform(range(1, len(a)),
                   i -> a[i] || ' ' || a[i + 1])) AS bg
        FROM tk WHERE len(a) >= 2
    ),
    pc AS MATERIALIZED (
        SELECT w1, bg, CAST(count(*) AS BIGINT) AS c12
        FROM bigr
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {LM_MOD} = 0
        GROUP BY w1, bg
    ),
    lm_c1 AS MATERIALIZED (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1c
        FROM pc GROUP BY w1
    ),
    lm_w2 AS MATERIALIZED (
        SELECT string_split(bg, ' ')[2] AS w2,
               CAST(count(*) AS BIGINT) AS n1r
        FROM pc GROUP BY 1
    ),
    nbbt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nbb FROM pc),
    nd AS MATERIALIZED (
        SELECT b.doc_id,
               CAST(CASE WHEN c.c1 IS NULL
                    THEN greatest(coalesce(r.n1r, 0), 1)
                    ELSE greatest(
                      greatest({KN_D_DEN} * coalesce(g.c12, 0)
                               - {KN_D_NUM}, 0) * nbbt.nbb
                      + {KN_D_NUM} * c.n1c * coalesce(r.n1r, 0), 1)
               END AS BIGINT) AS num,
               CAST(CASE WHEN c.c1 IS NULL THEN nbbt.nbb
                    ELSE {KN_D_DEN} * c.c1 * nbbt.nbb
               END AS BIGINT) AS den
        FROM bigr b
        LEFT JOIN pc g ON g.bg = b.bg
        LEFT JOIN lm_c1 c ON c.w1 = b.w1
        LEFT JOIN lm_w2 r ON r.w2 = string_split(b.bg, ' ')[2]
        CROSS JOIN nbbt
    ),
    scored AS MATERIALIZED (
        SELECT doc_id,
               {_iln_sql(f"(den * {PREC})", "duckdb")}
               - {_iln_sql(f"(num * {PREC})", "duckdb")} AS lp
        FROM nd
    ),
    perdoc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(lp) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS ce_kn_scaled
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           coalesce(p.ce_kn_scaled, {EMPTY_CE}) AS ce_kn_scaled
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
"""


# --- DSIR: data selection via importance resampling ---------------------------

DSIR_B = 64  # hashed n-gram feature buckets (the paper's 10k, scaled down)
DSIR_KEEP_NUM, DSIR_KEEP_DEN = 3, 10  # keep ceil(3/10) of the corpus


def sample_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023): pick the raw-crawl
    subset whose hashed n-gram distribution matches a target corpus.

    The third member of the learned-selection family: perplexity gates
    score against ONE clean LM, the NB classifier discriminates with
    token-level weights — DSIR's defining trick is the HASHED feature
    space: unigrams + bigrams hash into DSIR_B buckets, so the entire
    model (target distribution p, raw distribution q, and the
    per-bucket log ratio lambda_b = ln p_b - ln q_b) is a CONSTANT
    DSIR_B-row table regardless of corpus size. Per-doc importance
    log-weight = sum over the doc's grams of lambda_bucket(gram); the
    top ceil(N * DSIR_KEEP_NUM / DSIR_KEEP_DEN) docs by weight are
    kept, with an exact tie-broken quota.

    All log arithmetic rides the shared 256-entry integer-ln table
    (bit-exact both engines); add-one smoothing per bucket.

    Scale shape: one gram explode (scan-side), ONE bucket aggregate
    (DSIR_B groups — map-side combine collapses the corpus to
    B rows per task), lambda attaches back as a BROADCAST DSIR_B-row
    table (shuffle-free scoring — the advantage hashed features buy
    over the NB's Zipf-keyed token join), one doc_id aggregate. The
    exact quota uses the distinct-score cumulative window (bounded by
    the fixed-point value space, same argument as the perplexity
    tertiles) plus a per-score row_number for the boundary ties.
    """
    # testdata parquet is ONE split (CLAUDE.md footgun): repartition to
    # width BEFORE the gram explode or the md5-per-gram hashing — the
    # op's dominant cost, and it feeds both the bucket aggregate and
    # the per-doc score — runs as a single task
    par = max(spark.sparkContext.defaultParallelism, 8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    pos = TX.hash15(F.col("source")) % NB_POS_MOD == 0

    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select(
        "doc_id",
        pos.alias("pos"),
        F.explode(F.concat(toks, bigrams)).alias("gram"),
    ).select(
        "doc_id", "pos", (TX.hash15(F.col("gram")) % DSIR_B).alias("bucket")
    )

    counts = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.expr(_iln_sql(f"((ct + 1) * {PREC})", "spark"))
            - F.expr(_iln_sql(f"((tt + {DSIR_B}) * {PREC})", "spark"))
            - F.expr(_iln_sql(f"((cr + 1) * {PREC})", "spark"))
            + F.expr(_iln_sql(f"((tr + {DSIR_B}) * {PREC})", "spark"))
        ).cast("long").alias("lam"),
    )
    perdoc = (
        grams.select("doc_id", "bucket")
        .join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam").alias("s"),
        )
    )
    alldocs = (
        docs.select("doc_id", pos.alias("is_target"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("dsir_logw_scaled"),
        )
    )

    quota = docs.agg(
        F.expr(
            f"(count(*) * {DSIR_KEEP_NUM} + {DSIR_KEEP_DEN} - 1) "
            f"DIV {DSIR_KEEP_DEN}"
        ).alias("q")
    )
    dist = alldocs.groupBy("dsir_logw_scaled").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy(F.desc("dsir_logw_scaled")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cut = (
        dist.withColumn("cum", F.sum("c").over(wcum))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("cum") - F.col("c") < F.col("q"))
        .select(
            "dsir_logw_scaled",
            F.least(F.col("c"), F.col("q") - (F.col("cum") - F.col("c")))
            .cast("long")
            .alias("keep_k"),
        )
    )
    wtie = Window.partitionBy("dsir_logw_scaled").orderBy("doc_id")
    return (
        alldocs.join(F.broadcast(cut), "dsir_logw_scaled", "left")
        .withColumn("rn", F.row_number().over(wtie))
        .select(
            "doc_id",
            "is_target",
            "n_grams",
            "dsir_logw_scaled",
            (
                F.col("keep_k").isNotNull() & (F.col("rn") <= F.col("keep_k"))
            ).alias("kept"),
        )
    )


_DSIR_H15G = "CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)"

_DSIR_CTES = f"""tk AS (
        SELECT doc_id, {_POS} AS pos,
               list_filter(string_split({_NORM}, ' '), t -> t <> '') AS a
        FROM documents
    ),
    grams0 AS (
        SELECT doc_id, pos, unnest(a) AS gram FROM tk
        UNION ALL
        SELECT doc_id, pos,
               unnest(list_transform(range(1, len(a)),
                   i -> a[i] || ' ' || a[i + 1])) AS gram
        FROM tk WHERE len(a) >= 2
    ),
    grams AS (
        SELECT doc_id, pos, {_DSIR_H15G} % {DSIR_B} AS bucket FROM grams0
    ),
    counts AS (
        SELECT bucket,
               CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS cr
        FROM grams GROUP BY bucket
    ),
    totals AS (
        SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
        FROM counts
    ),
    lam AS (
        SELECT bucket,
               {_iln_sql(f"((ct + 1) * {PREC})", "duckdb")}
             - {_iln_sql(f"((tt + {DSIR_B}) * {PREC})", "duckdb")}
             - {_iln_sql(f"((cr + 1) * {PREC})", "duckdb")}
             + {_iln_sql(f"((tr + {DSIR_B}) * {PREC})", "duckdb")} AS lam
        FROM counts CROSS JOIN totals
    ),
    perdoc AS (
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(l.lam) AS BIGINT) AS s
        FROM grams g JOIN lam l USING (bucket)
        GROUP BY g.doc_id
    ),
    alldocs AS (
        SELECT d.doc_id,
               {_POS.replace("source", "d.source")} AS is_target,
               coalesce(p.n_grams, 0) AS n_grams,
               coalesce(p.s, 0) AS dsir_logw_scaled
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
    ),
    quota AS (
        SELECT (count(*) * {DSIR_KEEP_NUM} + {DSIR_KEEP_DEN} - 1)
                   // {DSIR_KEEP_DEN} AS q
        FROM documents
    ),
    dist AS (
        SELECT dsir_logw_scaled, CAST(count(*) AS BIGINT) AS c
        FROM alldocs GROUP BY dsir_logw_scaled
    ),
    cut AS (
        SELECT dsir_logw_scaled,
               CAST(least(c, (SELECT q FROM quota) - (cum - c)) AS BIGINT)
                   AS keep_k
        FROM (
            SELECT dsir_logw_scaled, c,
                   sum(c) OVER (ORDER BY dsir_logw_scaled DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM dist
        )
        WHERE cum - c < (SELECT q FROM quota)
    ),
    ranked AS (
        SELECT a.*, k.keep_k,
               row_number() OVER (PARTITION BY a.dsir_logw_scaled
                   ORDER BY a.doc_id) AS rn
        FROM alldocs a LEFT JOIN cut k USING (dsir_logw_scaled)
    )"""

DSIR_ORACLE_SQL = f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, is_target, n_grams, dsir_logw_scaled,
           keep_k IS NOT NULL AND rn <= keep_k AS kept
    FROM ranked
"""


def dsir_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured honesty for the DSIR gate (the role classifier_eval_pr
    plays for the NB classifier and ann_ivf_recall for IVF): per
    source, how the selection actually moved the mixture. Reports kept
    counts, the PREC-scaled kept fraction, and the PREC-scaled
    enrichment of target-provenance documents among the kept set vs
    the corpus base rate — the number that says whether importance
    resampling pulled the mixture TOWARD the target distribution or
    just shuffled it.

    One aggregate over the (already one-pass) selection output plus a
    broadcast one-row corpus base-rate frame; truncating division
    touches only non-negative counts."""
    sel = sample_dsir_select(spark, sf_dir)
    base = sel.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.col("is_target").cast("long")).alias("n_tgt_all"),
        F.sum(F.col("kept").cast("long")).alias("n_kept_all"),
        F.sum((F.col("is_target") & F.col("kept")).cast("long")).alias(
            "n_tgt_kept_all"
        ),
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    per_src = (
        sel.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
    )
    return per_src.crossJoin(F.broadcast(base)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.expr(f"(n_kept * {PREC}) DIV n_docs").cast("long").alias(
            "kept_frac_scaled"
        ),
        # enrichment = (kept-target share) / (corpus-target share),
        # PREC-scaled. Reduce FIRST: (ntk*PREC DIV nk) * na DIV nta —
        # the naive ntk*na*PREC numerator multiplies two corpus-sized
        # counts and overflows BIGINT near 10^7 docs; this form keeps
        # every intermediate linear in one count (x PREC)
        F.expr(
            f"CASE WHEN n_kept_all > 0 AND n_tgt_all > 0 THEN "
            f"(((n_tgt_kept_all * {PREC}) DIV n_kept_all) * n_all) "
            f"DIV n_tgt_all ELSE -1 END"
        ).cast("long").alias("target_enrichment_scaled"),
    )


DSIR_EVAL_ORACLE_SQL = f"""
    WITH {_DSIR_CTES},
    sel AS (
        SELECT r.doc_id, r.is_target,
               r.keep_k IS NOT NULL AND r.rn <= r.keep_k AS kept
        FROM ranked r
    ),
    base AS (
        SELECT count(*) AS n_all,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tgt_all,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept_all,
               CAST(sum(CASE WHEN is_target AND kept THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tgt_kept_all
        FROM sel
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN s.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST((sum(CASE WHEN s.kept THEN 1 ELSE 0 END) * {PREC})
                // count(*) AS BIGINT) AS kept_frac_scaled,
           CAST(CASE WHEN (SELECT n_kept_all FROM base) > 0
                      AND (SELECT n_tgt_all FROM base) > 0 THEN
                ((((SELECT n_tgt_kept_all FROM base) * {PREC})
                  // (SELECT n_kept_all FROM base))
                 * (SELECT n_all FROM base))
                // (SELECT n_tgt_all FROM base)
                ELSE -1 END AS BIGINT) AS target_enrichment_scaled
    FROM sel s JOIN documents d USING (doc_id)
    GROUP BY d.source
"""


# --- collocation mining: pointwise mutual information over bigrams -----------

PMI_MIN_COUNT = 3  # hapax/near-hapax bigrams carry no PMI signal
PMI_TOP_K = 20


def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: the PMI_TOP_K adjacent-word
    pairs with the highest pointwise mutual information — the phrase
    -vocabulary-induction pass tokenizer and phrase-query pipelines run
    before committing multi-word units (Mikolov et al. 2013 word2vec
    phrases use exactly this score with a discount; the discount here
    is the PMI_MIN_COUNT support floor).

        pmi = ln( c12 * T / (c1 * c2) )

    with ALL terms drawn from one (w1, w2, c12) pair table: c1/c2 are
    the left/right marginals, T the total bigram count — so the corpus
    is scanned exactly once and every statistic after that is pair-
    table-sized (Heaps-law sublinear). Computed as
    iln(c12*PREC) + iln(T*PREC) - iln(c1*PREC) - iln(c2*PREC) via the
    shared 256-entry integer-ln table: every intermediate is a BIGINT,
    bit-identical in DuckDB, tracking float PMI to ~2^-8.

    Scale shape: ONE corpus-wide bigram shuffle with map-side combine
    builds the pair table; the marginals are pair-table aggregates; the
    marginal join-backs run only on the support-filtered survivors
    (c12 >= PMI_MIN_COUNT), a tiny fraction of the pair table, against
    broadcast marginal dims capped the same way (a marginal of a
    surviving pair is itself >= the pair's count, so the filtered
    marginal tables lose nothing); global top-K compiles to
    TakeOrderedAndProject (deterministic tie-break pmi desc, bigram
    asc). Nothing after the first shuffle is corpus-sized.

    Reference parity: the reference's keyword lists are hand-curated
    multi-word cues (src/api/app/validators/excel_validator.py:331-352);
    this is the statistic that DISCOVERS such units from the corpus.
    """
    pairs = memo(
        spark,
        sf_dir,
        "pmi-pairs",
        lambda: (
            _bigram_corpus(spark, sf_dir)
            .select(
                F.col("w1"),
                F.element_at(F.split(F.col("bg"), " "), 2).alias("w2"),
            )
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c12"))
        ),
    )
    surv = pairs.filter(F.col("c12") >= PMI_MIN_COUNT)
    # marginals restricted to surviving keys: c1(w1) >= c12 of any
    # surviving pair >= PMI_MIN_COUNT, so filtering the marginal tables
    # to survivors-only drops nothing the join needs
    c1 = (
        pairs.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
        .join(surv.select("w1").distinct(), "w1")
    )
    c2 = (
        pairs.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
        .join(surv.select("w2").distinct(), "w2")
    )
    t_row = pairs.agg(F.sum("c12").cast("long").alias("t_bg"))
    scored = (
        surv.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(t_row))
        .select(
            F.concat(F.col("w1"), F.lit(" "), F.col("w2")).alias("bigram"),
            F.col("c12").cast("long").alias("c12"),
            (
                F.expr(_iln_sql(f"(c12 * {PREC})", "spark"))
                + F.expr(_iln_sql(f"(t_bg * {PREC})", "spark"))
                - F.expr(_iln_sql(f"(c1 * {PREC})", "spark"))
                - F.expr(_iln_sql(f"(c2 * {PREC})", "spark"))
            ).cast("long").alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.col("pmi_scaled").desc(), F.col("bigram").asc()
    ).limit(PMI_TOP_K)


PMI_ORACLE_SQL = f"""
    WITH tokraw AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token,
               generate_subscripts(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' '), 1) AS rawpos
        FROM documents
    ),
    ptok AS (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        FROM tokraw WHERE token <> ''
    ),
    pairs AS (
        SELECT a.token AS w1, b.token AS w2, count(*) AS c12
        FROM ptok a JOIN ptok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY a.token, b.token
    ),
    m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pairs GROUP BY w1),
    m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM pairs GROUP BY w2),
    t AS (SELECT CAST(sum(c12) AS BIGINT) AS t_bg FROM pairs),
    scored AS (
        SELECT pairs.w1 || ' ' || pairs.w2 AS bigram,
               CAST(pairs.c12 AS BIGINT) AS c12,
               CAST({_iln_sql(f"(pairs.c12 * {PREC})", "duckdb")}
                    + {_iln_sql(f"(t.t_bg * {PREC})", "duckdb")}
                    - {_iln_sql(f"(m1.c1 * {PREC})", "duckdb")}
                    - {_iln_sql(f"(m2.c2 * {PREC})", "duckdb")}
                    AS BIGINT) AS pmi_scaled
        FROM pairs
        JOIN m1 USING (w1)
        JOIN m2 USING (w2)
        CROSS JOIN t
        WHERE pairs.c12 >= {PMI_MIN_COUNT}
    )
    SELECT bigram, c12, pmi_scaled
    FROM scored ORDER BY pmi_scaled DESC, bigram ASC LIMIT {PMI_TOP_K}
"""


# --- Zipf exponent fit ----------------------------------------------------------

ZIPF_RANKS = 64  # top ranks fitted per source
ZIPF_DOWN = 4096  # iln downscale so regression products stay in BIGINT
ZIPF_OUT = 1_000_000  # slope reported as slope_e6


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent over the token frequency spectrum — the
    classic corpus-health diagnostic (Zipf 1949; used by corpus-quality
    audits to flag template/boilerplate floods, which flatten the
    slope, and degenerate generators, which steepen it): fit
    ln(freq) = a + s * ln(rank) over the top ZIPF_RANKS tokens by
    ordinary least squares and report s (≈ −1 for natural text).

    Exactness: x = iln(rank·PREC) DIV ZIPF_DOWN and y = iln(cnt·PREC)
    DIV ZIPF_DOWN ride the shared 256-entry integer-ln table, so every
    point is a BIGINT both engines derive identically; the OLS slope

        s_e6 = sign(n·Σxy − Σx·Σy) · (ZIPF_OUT·|n·Σxy − Σx·Σy|)
                                        DIV (n·Σxx − (Σx)²)

    applies the truncating division to a NON-NEGATIVE numerator only
    (the repo rule: negative DIV is engine-divergent between flooring
    and truncating semantics), and the ZIPF_DOWN downscale bounds
    |x|,|y| ≤ ~5e3 so n·Σxy ≤ ~2e9 and the scaled numerator stays
    orders of magnitude inside int64. One verified exception: the x/y
    downscale itself sees iln(PREC) = −580 (table-rounding jitter at
    rank 1 / cnt 1), and Spark DIV and DuckDB // BOTH truncate toward
    zero on integer operands (checked: (-5)//4096 = 0, (-5000)//4096 =
    −1 in DuckDB), so the one negative input both engines can see maps
    to 0 identically — the pytest twin replicates with truncating, not
    flooring, division.

    Scale shape: one map-side-combined (source, token) count shuffle —
    the same aggregate every quality op shares; the per-source top-N
    compiles to WindowGroupLimit (each map task forwards ≤ N rows per
    source), and the regression is a constant-state per-source rollup.
    Nothing after the first shuffle is corpus-sized.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    counts = (
        docs.select("source", F.explode(toks).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    ranked = (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ZIPF_RANKS)
        .select(
            "source",
            F.expr(
                f"CAST({_iln_sql(f'(rnk * {PREC})', 'spark')}"
                f" DIV {ZIPF_DOWN} AS BIGINT)"
            ).alias("x"),
            F.expr(
                f"CAST({_iln_sql(f'(cnt * {PREC})', 'spark')}"
                f" DIV {ZIPF_DOWN} AS BIGINT)"
            ).alias("y"),
            "cnt",
        )
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.max("cnt").alias("top1_cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_ranks") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_ranks") * F.col("sxx") - F.col("sx") * F.col("sx")
    q = F.expr(
        f"CAST(({ZIPF_OUT} * abs(n_ranks * sxy - sx * sy))"
        " DIV (n_ranks * sxx - sx * sx) AS BIGINT)"
    )
    return (
        agg.filter(F.col("n_ranks") >= 2)
        .select(
            "source",
            "n_ranks",
            "top1_cnt",
            F.when(num < 0, -q).otherwise(q).cast("long").alias("slope_e6"),
        )
    )


ZIPF_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    counts AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
        FROM tok WHERE token <> '' GROUP BY source, token
    ),
    ranked AS (
        SELECT source, cnt,
               row_number() OVER (PARTITION BY source
                   ORDER BY cnt DESC, token ASC) AS rnk
        FROM counts
    ),
    pts AS (
        SELECT source, cnt,
               CAST({_iln_sql(f'(rnk * {PREC})', 'duckdb')}
                    // {ZIPF_DOWN} AS BIGINT) AS x,
               CAST({_iln_sql(f'(cnt * {PREC})', 'duckdb')}
                    // {ZIPF_DOWN} AS BIGINT) AS y
        FROM ranked WHERE rnk <= {ZIPF_RANKS}
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_ranks,
               CAST(max(cnt) AS BIGINT) AS top1_cnt,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n_ranks, top1_cnt,
           CAST(CASE WHEN n_ranks * sxy - sx * sy < 0
                THEN -(({ZIPF_OUT} * abs(n_ranks * sxy - sx * sy))
                       // (n_ranks * sxx - sx * sx))
                ELSE (({ZIPF_OUT} * abs(n_ranks * sxy - sx * sy))
                      // (n_ranks * sxx - sx * sx)) END AS BIGINT) AS slope_e6
    FROM agg WHERE n_ranks >= 2
"""


# --- per-document TF-IDF keyphrases ----------------------------------------------

KEYPHRASE_K = 5  # tokens reported per document


def text_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyphrase extraction by integer-exact TF-IDF — the
    document-side dual of search_keyword_topk (there the query probes
    the corpus; here every document reports the tokens that most
    distinguish it), the standard first-pass keyword tagger a curation
    pipeline runs to route documents to topic mixtures.

    Score = tf · iln(((N+1)·PREC) DIV df) with the shared 256-entry
    integer-ln table, so both engines derive identical BIGINTs; the one
    integer division has a non-negative numerator by construction
    (df ≤ N ⇒ the iln argument ≥ PREC). At corpus sizes where
    N·PREC overflows the iln bound the idf argument saturates at
    iln(PREC) = −580 for corpus-saturating tokens (df = N), which only
    strengthens the ranking's stopword suppression — ordering stays
    engine-identical because both compute the same integers.

    Scale shape: the same one map-side-combined (doc_id, token) tf
    shuffle the whole quality family shares; df aggregates the
    already-reduced tf rows (vocabulary-sized, not corpus-sized); the
    tf⋈df join-back is Zipf-hot on token so it rides the shared
    _skew_left_join (top-HEAD_K df rows broadcast, only the de-skewed
    tail shuffles); the per-doc top-K compiles to WindowGroupLimit
    (each map task forwards ≤ K rows per doc). Nothing after the tf
    aggregate is corpus-row-sized.

    Reference parity: the reference tags extractions with free-form
    "keywords" fields produced by the LLM pass
    (src/processor/app/extractors/langchain_extractor.py extraction
    schema); this is that tagger rebuilt as a corpus-statistical
    distributed plan.
    """
    par = max(spark.sparkContext.defaultParallelism, 8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        _skew_left_join(tf, dfc, "token", "df")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "idf",
            F.expr(
                _iln_sql(f"(((n_docs + 1) * {PREC}) DIV df)", "spark")
            ).cast("long"),
        )
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf") * F.col("idf")).cast("long").alias("score_scaled"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_scaled").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KEYPHRASE_K)
        .select("doc_id", "rank", "token", "tf", "df", "score_scaled")
    )


KEYPHRASE_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE token <> '' GROUP BY doc_id, token
    ),
    dfc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
               CAST(tf.tf * {_iln_sql(
                   f'(((stats.n_docs + 1) * {PREC}) // dfc.df)', 'duckdb'
               )} AS BIGINT) AS score_scaled
        FROM tf JOIN dfc USING (token) CROSS JOIN stats
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY score_scaled DESC, token ASC) AS BIGINT) AS rank
        FROM scored
    )
    SELECT doc_id, rank, token, tf, df, score_scaled
    FROM ranked WHERE rank <= {KEYPHRASE_K}
"""
