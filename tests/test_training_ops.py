"""Training-data operators: dedup, similarity, text analysis.

Structural/semantic assertions at sf0.001; exact cross-engine parity is
covered by the DuckDB oracles (tools/check_oracle.py and the driver's
correctness gate).
"""

import pytest

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
SF001 = "/root/testdata/sf0.001"


def test_dedup_exact_covers_all_docs(spark):
    from ai_ocr_spark.operators.dedup import dedup_exact

    out = dedup_exact(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert out["n_copies"].sum() == docs
    assert (out["n_copies"] >= 1).all()
    # fingerprints are md5 hex
    assert out["fingerprint"].str.fullmatch(r"[0-9a-f]{32}").all()


def test_minhash_finds_near_dups_and_agrees_with_exact_jaccard(spark):
    from ai_ocr_spark.operators.dedup import dedup_minhash_lsh

    out = dedup_minhash_lsh(spark, SF01).toPandas()
    # sf0.01 documents contain known near-dup pairs (jaccard >= 0.5)
    assert len(out) > 0
    assert (out["jaccard"] >= 0.5).all()
    assert (out["doc_a"] < out["doc_b"]).all()
    # no duplicate pairs out of the band join
    assert not out.duplicated(["doc_a", "doc_b"]).any()


def test_url_domain_etld1_psl_semantics(spark):
    """Every fixture family lands on the PSL rule it was built to
    exercise: multi-label suffix, private registry, default-rule
    fallback, and the bare-suffix edge (etld1 NULL)."""
    from ai_ocr_spark.operators.textstats import url_domain_etld1

    out = url_domain_etld1(spark, SF).toPandas()
    for _, r in out.iterrows():
        fam = r["doc_id"] % 6
        host, suf, e1 = r["host"], r["public_suffix"], r["etld1"]
        if fam == 0:
            assert host.startswith("www.blog.") and suf == "co.uk"
            assert r["known_rule"] and e1 == host.split(".", 2)[2]
        elif fam == 1:
            assert suf == "com" and e1 == host.split(".", 1)[1]
        elif fam == 2:
            assert suf == "github.io" and e1 == host  # tenant IS etld1
        elif fam == 3:
            assert suf == "com.au" and e1 == host.split(".", 2)[2]
        elif fam == 4:
            assert suf == "zz" and not r["known_rule"]
            assert e1 == host.split(".", 1)[1]
        else:
            assert host == "co.uk" and suf == "co.uk" and e1 is None


def test_lsh_recall_report_invariants(spark):
    """found <= candidates, found <= truth (subset by construction),
    ratios are exact integer DIVs of the counts, and the report agrees
    with independently-run dedup_minhash_lsh."""
    from ai_ocr_spark.operators.dedup import dedup_lsh_recall, dedup_minhash_lsh

    r = dedup_lsh_recall(spark, SF01).toPandas().iloc[0]
    assert r["n_found_pairs"] <= r["n_lsh_candidates"]
    assert r["n_found_pairs"] <= r["n_true_pairs"]
    assert r["n_found_pairs"] == len(dedup_minhash_lsh(spark, SF01).toPandas())
    assert r["recall_e4"] == (r["n_found_pairs"] * 10000) // r["n_true_pairs"]
    assert (
        r["candidate_precision_e4"]
        == (r["n_found_pairs"] * 10000) // r["n_lsh_candidates"]
    )
    # sf0.01 has known near-dup pairs — truth must be non-empty
    assert r["n_true_pairs"] > 0


def test_simhash_is_deterministic_and_pairs_are_close(spark):
    from pyspark.sql import functions as F

    from ai_ocr_spark.functions.text import simhash32, tokens
    from ai_ocr_spark.operators.dedup import dedup_simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    h1 = docs.select("doc_id", simhash32(tokens(F.col("text"))).alias("h")).toPandas()
    h2 = docs.select("doc_id", simhash32(tokens(F.col("text"))).alias("h")).toPandas()
    assert h1.sort_values("doc_id").equals(h2.sort_values("doc_id"))
    assert ((h1["h"] >= 0) & (h1["h"] < 2**32)).all()

    pairs = dedup_simhash(spark, SF01).toPandas()
    assert (pairs["hamming"] <= 6).all()


def test_ngram_jaccard_pairs_symmetric_threshold(spark):
    from ai_ocr_spark.operators.dedup import dedup_ngram_jaccard

    out = dedup_ngram_jaccard(spark, SF01).toPandas()
    assert len(out) > 0
    assert (out["jaccard"] >= 0.6).all()
    assert (out["jaccard"] <= 1.0).all()


def test_embedding_cosine_bounds(spark):
    from ai_ocr_spark.operators.dedup import dedup_embedding_cosine

    out = dedup_embedding_cosine(spark, SF01).toPandas()
    assert (out["cos"] >= 0.35).all()
    assert (out["cos"] <= 1.0000001).all()


def test_ann_exact_topk_shape_and_order(spark):
    from ai_ocr_spark.operators.similarity import TOP_K, ann_cosine_topk

    out = ann_cosine_topk(spark, SF01).toPandas()
    per_q = out.groupby("query_id").size()
    assert (per_q == TOP_K).all()
    for _, g in out.groupby("query_id"):
        g = g.sort_values("rk")
        assert (g["cos"].diff().dropna() <= 1e-15).all()  # non-increasing
        assert (g["neighbor_id"] != g["query_id"]).all()


def test_ann_ivf_recall_against_exact(spark):
    """IVF with 2 probes should recover a decent fraction of the exact
    top-5 — and must itself be deterministic."""
    from ai_ocr_spark.operators.similarity import (
        IVF_TOP_K,
        ann_cosine_topk,
        ann_ivf_topk,
    )

    exact = ann_cosine_topk(spark, SF01).toPandas()
    ivf = ann_ivf_topk(spark, SF01).toPandas()
    assert (ivf.groupby("query_id").size() <= IVF_TOP_K).all()
    exact_top5 = {
        q: set(g.nsmallest(IVF_TOP_K, "rk")["neighbor_id"])
        for q, g in exact.groupby("query_id")
    }
    hits = total = 0
    for q, g in ivf.groupby("query_id"):
        hits += len(set(g["neighbor_id"]) & exact_top5[q])
        total += IVF_TOP_K
    assert hits / total >= 0.3  # approximate, but far above chance


def test_text_quality_and_tokens(spark):
    from ai_ocr_spark.operators.textstats import (
        text_quality_scores,
        text_token_stats,
    )

    stats = text_token_stats(spark, SF).toPandas()
    assert (stats["n_tokens_re"] >= stats["n_tokens_ws"]).all()
    q = text_quality_scores(spark, SF).toPandas()
    assert ((q["quality"] >= 0.0) & (q["quality"] <= 1.0)).all()
    assert ((q["punct_ratio"] >= 0.0) & (q["punct_ratio"] <= 1.0)).all()


def test_text_langid_detects_english_corpus(spark):
    from ai_ocr_spark.operators.textstats import text_langid

    out = text_langid(spark, SF).toPandas()
    # the synthetic corpus is English-dominant
    assert (out["detected_lang"] == "en").mean() > 0.5
    assert set(out["detected_lang"]) <= {"en", "de", "fr", "ja"}


def test_text_fingerprint_stable_under_whitespace(spark):
    from pyspark.sql import functions as F

    from ai_ocr_spark.functions.text import md5_hex, norm_text

    df = spark.createDataFrame(
        [("a  b\tc",), ("A B C",), ("a b c",)], ["text"]
    ).select(md5_hex(norm_text(F.col("text"))).alias("fp"))
    fps = [r.fp for r in df.collect()]
    assert fps[0] == fps[1] == fps[2]


def test_embedding_lsh_recall_against_bruteforce(spark):
    """LSH candidates are a subset of brute-force pairs with decent
    recall at this signature width."""
    from ai_ocr_spark.operators.dedup import dedup_embedding_cosine
    from ai_ocr_spark.operators.similarity import dedup_embedding_lsh

    exact = dedup_embedding_cosine(spark, SF01).toPandas()
    lsh = dedup_embedding_lsh(spark, SF01).toPandas()
    exact_pairs = set(zip(exact["vec_a"], exact["vec_b"]))
    lsh_pairs = set(zip(lsh["vec_a"], lsh["vec_b"]))
    assert lsh_pairs <= exact_pairs  # no false positives (exact verify)
    if exact_pairs:
        recall = len(lsh_pairs) / len(exact_pairs)
        # 6 tables x 6 planes: expected 1-(1-p^6)^6 ~ 0.25 at cos 0.35
        assert recall >= 0.12, recall


def test_connected_components_pointer_doubling_on_long_path(spark):
    """A 200-node path graph (diameter 199): the r2 propagation loop
    needed one round per hop and its 50-round cap made it raise here.
    Pointer doubling halves label-chain length every round, so 12
    rounds (~log2(199)+detect) must suffice and every node must land
    on component 0."""
    from pyspark.sql import functions as F

    from ai_ocr_spark.operators.dedup import connected_components_labels

    n = 200
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = connected_components_labels(nodes, pairs, max_rounds=12).toPandas()
    assert len(out) == n
    assert set(out["component_id"]) == {0}


def test_connected_components_round_cap_still_raises(spark):
    """Non-convergence must stay loud: with max_rounds too small for
    the graph, the operator raises instead of returning split labels."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ai_ocr_spark.operators.dedup import connected_components_labels

    n = 64
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_labels(nodes, pairs, max_rounds=2)


def test_unigram_rarity_scores_rare_text_low_mean_tf(spark):
    """A doc of corpus-common tokens must have higher mean_tf and lower
    rare_frac than a doc of unique garbage tokens; empty docs get
    zeros."""
    from ai_ocr_spark.operators.textstats import text_unigram_rarity

    out = text_unigram_rarity(spark, "/root/testdata/sf0.001").toPandas()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").toPandas()
    assert len(out) == len(docs)
    assert ((out["rare_frac"] >= 0) & (out["rare_frac"] <= 1)).all()
    assert (out["mean_tf"] >= out["n_tok"].clip(upper=1)).all()  # tf >= 1 per token
    empty = out[out["n_tok"] == 0]
    assert (empty["mean_tf"] == 0).all() and (empty["rare_frac"] == 0).all()


def test_c4_gate_rules_fire(spark):
    from ai_ocr_spark.operators.textstats import quality_filter_c4

    out = quality_filter_c4(spark, "/root/testdata/sf0.001").toPandas()
    assert (out["n_lines"] == 6).all()
    assert (out["n_kept_lines"] <= out["n_lines"]).all()
    # every rule fires somewhere and both keep outcomes occur
    assert out["has_lorem"].any() and (~out["has_lorem"]).any()
    assert out["has_brace"].any() and (~out["has_brace"]).any()
    assert out["keep"].any() and (~out["keep"]).any()
    # page-level drops override sentence count
    assert not out[out["has_lorem"] | out["has_brace"]]["keep"].any()


def test_url_dedup_groups_variants(spark):
    from ai_ocr_spark.operators.dedup import dedup_url_keep_first

    out = dedup_url_keep_first(spark, "/root/testdata/sf0.001").toPandas()
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert out["n_fetches"].sum() == docs  # partition of all fetches
    assert (out["n_fetches"] >= 1).all() and (out["n_fetches"] <= 3).all()
    assert (out["n_fetches"] == 3).any()  # variants really collide
    # canonical urls carry no tracking params, fragments, or case noise
    assert not out["canon_url"].str.contains("utm_|#|WWW").any()
    # keep-first: the representative is the smallest doc_id of its group
    assert (out["first_doc_id"] // 3 * 3 <= out["first_doc_id"]).all()


def test_substring_spans_merges_windows_into_maximal_spans(spark, tmp_path):
    """Hand-built corpus pins the ExactSubstr span semantics:
    cross-doc windows merge into maximal intervals, within-doc-only
    repetition does NOT count (distinct-doc >= 2 rule), and clean docs
    report zeros."""
    import pandas as pd

    from ai_ocr_spark.operators.dedup import dedup_substring_spans

    texts = {
        0: "a b c d e f g h i j",          # full copy of doc 3
        1: "a b c d e f x y z w",          # shares a 6-token prefix
        2: "q r s t u v",                  # clean
        3: "a b c d e f g h i j",          # full copy of doc 0
        4: "a b c d e m m m m m m a b c d e",  # two separated spans;
        # the m-run repeats only WITHIN the doc -> not duplicated
    }
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}
    ).to_parquet(tmp_path / "documents.parquet")
    out = {
        r["doc_id"]: r
        for r in dedup_substring_spans(spark, str(tmp_path)).collect()
    }
    assert (out[0]["n_spans"], out[0]["dup_tokens"], out[0]["max_span"]) == (1, 10, 10)
    assert out[0]["dup_token_frac"] == 1.0
    assert (out[3]["n_spans"], out[3]["dup_tokens"]) == (1, 10)
    assert (out[1]["n_spans"], out[1]["dup_tokens"], out[1]["max_span"]) == (1, 6, 6)
    assert (out[2]["n_spans"], out[2]["dup_tokens"], out[2]["max_span"]) == (0, 0, 0)
    assert (out[4]["n_spans"], out[4]["dup_tokens"], out[4]["max_span"]) == (2, 10, 5)
    assert out[4]["n_tok"] == 16 and out[4]["dup_token_frac"] == 10 / 16


def test_domain_stats_invariants(spark):
    """Per-domain rollup sanity: one row per source, counts consistent,
    dup fraction bounded, majority language actually present."""
    from ai_ocr_spark.operators.textstats import agg_domain_stats

    out = agg_domain_stats(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    assert len(out) == docs["source"].nunique()
    assert out["n_docs"].sum() == len(docs)
    assert ((out["n_uniq"] >= 1) & (out["n_uniq"] <= out["n_docs"])).all()
    assert ((out["dup_frac"] >= 0) & (out["dup_frac"] < 1)).all()
    langs_by_src = docs.groupby("source")["lang"].agg(set)
    for _, r in out.iterrows():
        assert r["top_lang"] in langs_by_src[r["source"]]


def test_gopher_rep_signals(spark):
    """Repetition-rule sanity: seeded line duplicates show up in the
    fractions, the top 2-gram really occurs its reported number of
    times, and the keep gate matches its published thresholds."""
    from ai_ocr_spark.operators.textstats import (
        REP_DUP_LINE_MAX,
        REP_TOP2_CHAR_MAX,
        quality_filter_gopher_rep,
    )

    out = quality_filter_gopher_rep(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == docs
    # slice 1 always repeats -> at least one duplicated line everywhere
    assert (out["n_dup_lines"] >= 1).all()
    # every 4th doc repeats slice 2 as well
    assert (out.loc[out["doc_id"] % 4 == 0, "n_dup_lines"] >= 2).all()
    assert ((out["dup_line_frac"] > 0) & (out["dup_line_frac"] < 1)).all()
    assert (out["top_2gram_count"] >= 1).all()
    assert (out["top_2gram"].str.count(" ") == 1).all()
    expect_keep = (out["dup_line_frac"] <= REP_DUP_LINE_MAX) & (
        out["top_2gram_char_frac"] <= REP_TOP2_CHAR_MAX
    )
    assert (out["keep"] == expect_keep).all()


def test_incremental_lsh_agrees_with_full_pair_set(spark):
    from ai_ocr_spark.functions.text import hash15
    from ai_ocr_spark.operators.dedup import (
        INCR_NEW_MOD,
        dedup_incremental_lsh,
        dedup_minhash_lsh,
    )
    from pyspark.sql import functions as F

    inc = dedup_incremental_lsh(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    new_ids = set(
        r["doc_id"]
        for r in docs.select(
            "doc_id",
            (hash15(F.col("doc_id").cast("string")) % INCR_NEW_MOD).alias("m"),
        )
        .filter(F.col("m") == 0)
        .collect()
    )
    # exactly one verdict row per increment doc
    assert set(inc["doc_id"]) == new_ids
    assert not inc["doc_id"].duplicated().any()
    # verdict must agree with the full (corpus-wide) pair set under the
    # keep-first-eligibility rule: d is a dup iff some partner o with
    # jaccard >= 0.5 is indexed, or is a new doc with o < d
    pairs = dedup_minhash_lsh(spark, SF).toPandas()
    partners: dict[int, set[int]] = {}
    for _, p in pairs.iterrows():
        partners.setdefault(p["doc_a"], set()).add(p["doc_b"])
        partners.setdefault(p["doc_b"], set()).add(p["doc_a"])
    for _, r in inc.iterrows():
        d = r["doc_id"]
        elig = {o for o in partners.get(d, set()) if o not in new_ids or o < d}
        assert bool(r["is_dup"]) == bool(elig), d
        if elig:
            assert r["match_doc_id"] == min(elig)


def test_embedding_label_outliers_flags_bottom_k(spark):
    """Every vector gets a verdict; ranks are a per-label permutation;
    exactly min(K, n_label) vectors per label are outliers, and they
    are the label's lowest cosines."""
    from ai_ocr_spark.operators.similarity import (
        OUTLIER_BOTTOM_K,
        embedding_label_outliers,
    )

    out = embedding_label_outliers(spark, SF).toPandas()
    emb_n = 500
    assert len(out) == emb_n
    assert out["cos_centroid"].between(-1.0 + -1e-12, 1.0 + 1e-12).all()
    for label, g in out.groupby("label"):
        assert (g["n_label"] == len(g)).all()
        assert sorted(g["rn"]) == list(range(1, len(g) + 1))
        k = min(OUTLIER_BOTTOM_K, len(g))
        flagged = g[g["is_outlier"]]
        assert len(flagged) == k
        # flagged = the k smallest cosines (rank ties broken by vec_id)
        assert flagged["cos_centroid"].max() <= g[~g["is_outlier"]][
            "cos_centroid"
        ].min() + 1e-15


def test_embedding_label_outliers_plan_broadcasts_centroids(spark):
    """The |labels|-row centroid table must broadcast back — the corpus
    side is scored in one scan pass; the rank window is label-keyed."""
    from ai_ocr_spark.operators.similarity import embedding_label_outliers
    from ai_ocr_spark.plans.audit import formatted_plan

    plan = formatted_plan(embedding_label_outliers(spark, SF))
    low = plan.lower().replace(" ", "")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(label" in low


def test_text_chunk_windows_tile_with_overlap(spark):
    """Chunks tile each doc: first starts at 0, strides are CHUNK_S,
    the last chunk ends exactly at n_tok, every chunk's text is the
    exact token slice, and consecutive chunks overlap by W - S."""
    from ai_ocr_spark.operators.textstats import (
        CHUNK_S,
        CHUNK_W,
        text_chunk_windows,
    )
    from ai_ocr_spark.functions import text as TX
    from pyspark.sql import functions as F

    out = text_chunk_windows(spark, SF).toPandas()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", TX.norm_text(F.col("text")).alias("norm"))
        .toPandas()
        .set_index("doc_id")["norm"]
    )
    assert (out["tok_start"] == out["chunk_id"] * CHUNK_S).all()
    assert (out["n_tok_chunk"] == out["tok_end"] - out["tok_start"]).all()
    assert (out["n_tok_chunk"] > 0).all() and (out["n_tok_chunk"] <= CHUNK_W).all()
    multi = 0
    for doc_id, g in out.groupby("doc_id"):
        g = g.sort_values("chunk_id")
        toks = docs[doc_id].split(" ")
        assert g["chunk_id"].tolist() == list(range(len(g)))
        assert g["tok_end"].iloc[-1] == len(toks)
        # every non-final chunk is full-width; overlap = W - S
        assert (g["tok_end"].iloc[:-1] == g["tok_start"].iloc[:-1] + CHUNK_W).all()
        for _, r in g.iterrows():
            assert r["chunk_text"] == " ".join(toks[r["tok_start"]:r["tok_end"]])
        multi += len(g) > 1
    assert multi > 0  # the overlap path is actually exercised


def test_text_chunk_windows_plan_has_no_shuffle(spark):
    """The chunker is a pure scan-side projection + explode — an
    Exchange in this plan would be a scale regression."""
    from ai_ocr_spark.operators.textstats import text_chunk_windows
    from ai_ocr_spark.plans.audit import formatted_plan

    plan = formatted_plan(text_chunk_windows(spark, SF))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_tokenizer_bpe_pairs_matches_bruteforce(spark):
    """First-round BPE pair counts match a Python recount over the
    vocabulary, and ranks are the deterministic (cnt DESC, pair ASC)."""
    import re
    from collections import Counter

    from ai_ocr_spark.operators.tokenizer import BPE_TOP_K, tokenizer_bpe_pairs

    out = tokenizer_bpe_pairs(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    vocab: Counter = Counter()
    for t in docs["text"]:
        vocab.update(
            w
            for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
            if w
        )
    pairs: Counter = Counter()
    for w, n in vocab.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += n
    expect = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    got = out.sort_values("rnk")
    assert list(got["pair"]) == [p for p, _ in expect]
    assert list(got["cnt"]) == [c for _, c in expect]
    assert list(got["rnk"]) == list(range(1, len(expect) + 1))


def test_ann_ivf_recall_matches_intersection(spark):
    """recall@K equals the hand-computed |ivf ∩ exact| / K per query and
    is a number the tuning conversation can trust: in (0, 1]."""
    from ai_ocr_spark.operators.similarity import (
        IVF_TOP_K,
        ann_cosine_topk,
        ann_ivf_topk,
        ann_ivf_recall,
    )

    exact = ann_cosine_topk(spark, SF).toPandas()
    ivf = ann_ivf_topk(spark, SF).toPandas()
    got = ann_ivf_recall(spark, SF).toPandas().set_index("query_id")
    assert len(got) == ivf["query_id"].nunique()
    for q in got.index:
        e = set(
            exact[(exact.query_id == q) & (exact.rk <= IVF_TOP_K)]["neighbor_id"]
        )
        i = set(ivf[ivf.query_id == q]["neighbor_id"])
        hits = len(e & i)
        assert got.loc[q, "n_hits"] == hits
        assert got.loc[q, "recall_at_k"] == hits / IVF_TOP_K
    # per-query recall can honestly hit 0.0 at toy scale (that gap is
    # the number this op exists to publish); the macro average must not
    assert (got["recall_at_k"] >= 0).all() and (got["recall_at_k"] <= 1).all()
    assert got["recall_at_k"].mean() > 0


def test_perplexity_unigram_matches_python_bruteforce(spark):
    """ce_scaled equals an independent Python reimplementation of the
    add-one unigram cross-entropy with the SAME integer-ln tables, the
    integer score tracks the true float cross-entropy to table
    precision, and the tertile buckets hit their nearest-rank counts."""
    import hashlib
    import math
    import re
    from collections import Counter

    from ai_ocr_spark.operators.quality_lm import (
        EMPTY_CE,
        LM_MOD,
        quality_perplexity_unigram,
    )
    from ai_ocr_spark.operators.search import (
        BM25_LN2,
        BM25_LN_TABLE,
        BM25_LNPREC,
        BM25_PREC,
    )

    def iln(v: int) -> int:
        bits = v.bit_length()
        mant = (v >> max(bits - 9, 0)) - 256
        return (bits - 1) * BM25_LN2 + BM25_LN_TABLE[mant] - BM25_LNPREC

    def toks(t):
        return [w for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ") if w]

    out = quality_perplexity_unigram(spark, SF).toPandas().set_index("doc_id")
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()

    lm: Counter = Counter()
    for _, row in docs.iterrows():
        h = int(hashlib.md5(str(row["doc_id"]).encode()).hexdigest()[:15], 16)
        if h % LM_MOD == 0:
            lm.update(toks(row["text"]))
    total, vsize = sum(lm.values()), len(lm)
    ilden = iln((total + vsize) * BM25_PREC)

    n_scored = 0
    for _, row in docs.iterrows():
        tk = toks(row["text"])
        got = out.loc[row["doc_id"]]
        if not tk:
            assert got["ce_scaled"] == EMPTY_CE and got["ppl_bucket"] == "tail"
            continue
        n_scored += 1
        s = sum(iln((lm.get(t, 0) + 1) * BM25_PREC) for t in tk)
        ce = (len(tk) * ilden - s) // len(tk)
        assert got["ce_scaled"] == ce and got["n_tok"] == len(tk)
        # the integer score tracks the REAL float cross-entropy to
        # within the 256-entry mantissa table's precision
        fce = -sum(
            math.log((lm.get(t, 0) + 1) / (total + vsize)) for t in tk
        ) / len(tk)
        assert abs(ce / BM25_PREC - fce) < 0.01

    # nearest-rank tertiles: head holds >= ceil(n/3) docs, head+middle
    # >= ceil(2n/3), and all three buckets are non-empty at this sf
    scored = out[out["ce_scaled"] != EMPTY_CE]
    assert len(scored) == n_scored
    n = len(scored)
    counts = scored["ppl_bucket"].value_counts()
    assert counts.get("head", 0) >= (n + 2) // 3
    assert counts.get("head", 0) + counts.get("middle", 0) >= (2 * n + 2) // 3
    assert set(counts.index) == {"head", "middle", "tail"}
    # fluency ordering: every head ce <= every middle ce <= every tail ce
    assert scored[scored["ppl_bucket"] == "head"]["ce_scaled"].max() <= \
        scored[scored["ppl_bucket"] == "middle"]["ce_scaled"].min()
    assert scored[scored["ppl_bucket"] == "middle"]["ce_scaled"].max() <= \
        scored[scored["ppl_bucket"] == "tail"]["ce_scaled"].min()


def test_tokenizer_bpe_train_matches_python_bpe(spark):
    """The full BPE_ROUNDS merge table equals a classic Python BPE
    trainer (word counts -> per-round pair recount -> greedy
    left-to-right non-overlapping merge of the argmax)."""
    import re
    from collections import Counter

    from ai_ocr_spark.operators.tokenizer import (
        BPE_ROUNDS,
        tokenizer_bpe_train,
    )

    out = tokenizer_bpe_train(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    vocab: Counter = Counter()
    for t in docs["text"]:
        vocab.update(
            w
            for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
            if w and len(w) >= 2
        )
    words = {w: (tuple(w), n) for w, n in vocab.items()}

    expect = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pc: Counter = Counter()
        for syms, n in words.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        expect.append((rnd, left, right, cnt))
        for w, (syms, n) in list(words.items()):
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            words[w] = (tuple(merged), n)

    got = [
        (r["rnd"], r["left_sym"], r["right_sym"], r["cnt"])
        for _, r in out.sort_values("rnd").iterrows()
    ]
    assert got == expect


def test_tokenizer_bpe_encode_matches_python_bpe(spark):
    """Per-doc encoded token counts equal a classic Python BPE
    train+encode: train on the >=2-char vocabulary, then encode EVERY
    word (1-char words are single tokens) and sum per document."""
    import re
    from collections import Counter

    from ai_ocr_spark.operators.tokenizer import (
        BPE_ROUNDS,
        tokenizer_bpe_encode,
    )

    out = (
        tokenizer_bpe_encode(spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()

    def words_of(t):
        return [
            w
            for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
            if w
        ]

    vocab: Counter = Counter()
    for t in docs["text"]:
        vocab.update(w for w in words_of(t) if len(w) >= 2)
    train = {w: (tuple(w), n) for w, n in vocab.items()}
    merges = []
    for _ in range(BPE_ROUNDS):
        pc: Counter = Counter()
        for syms, n in train.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        (left, right), _cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        merges.append((left, right))
        for w, (syms, n) in list(train.items()):
            train[w] = (_py_fold_merge(syms, left, right), n)

    def ntok(w):
        syms = tuple(w)
        for left, right in merges:
            syms = _py_fold_merge(syms, left, right)
        return len(syms)

    rows = []
    for _, d in docs.iterrows():
        ws = words_of(d["text"])
        if not ws:
            continue
        rows.append(
            (
                d["doc_id"],
                len(ws),
                sum(len(w) for w in ws),
                sum(ntok(w) for w in ws),
            )
        )
    rows.sort()
    assert len(out) == len(rows)
    for (_, r), (doc_id, n_words, n_chars, n_tokens) in zip(
        out.iterrows(), rows
    ):
        assert (r["doc_id"], r["n_words"], r["n_chars"], r["n_tokens"]) == (
            doc_id,
            n_words,
            n_chars,
            n_tokens,
        )
        assert r["chars_per_token_e4"] == (n_chars * 10000) // n_tokens


def _py_fold_merge(syms, left, right):
    merged, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            merged.append(left + right)
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return tuple(merged)


def test_token_entropy_matches_python_bruteforce(spark):
    """entropy_scaled equals an independent Python reimplementation with
    the same integer-ln tables, tracks float entropy to table precision,
    and the low_entropy flag follows the relative half-max rule."""
    import math
    import re
    from collections import Counter

    from ai_ocr_spark.operators.quality_lm import EMPTY_CE, text_token_entropy
    from ai_ocr_spark.operators.search import (
        BM25_LN2,
        BM25_LN_TABLE,
        BM25_LNPREC,
        BM25_PREC,
    )

    def iln(v: int) -> int:
        bits = v.bit_length()
        return (
            (bits - 1) * BM25_LN2
            + BM25_LN_TABLE[(v >> max(bits - 9, 0)) - 256]
            - BM25_LNPREC
        )

    out = text_token_entropy(spark, SF).toPandas().set_index("doc_id")
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    for _, row in docs.iterrows():
        tk = [
            w
            for w in re.sub(r"\s+", " ", (row["text"] or "").lower())
            .strip()
            .split(" ")
            if w
        ]
        got = out.loc[row["doc_id"]]
        if not tk:
            assert got["entropy_scaled"] == EMPTY_CE and got["low_entropy"]
            continue
        c = Counter(tk)
        n = len(tk)
        s = sum(v * iln(v * BM25_PREC) for v in c.values())
        ent = iln(n * BM25_PREC) - s // n
        assert got["entropy_scaled"] == ent
        assert got["n_tok"] == n and got["n_distinct"] == len(c)
        assert got["low_entropy"] == (2 * ent < iln(n * BM25_PREC))
        fent = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        assert abs(ent / BM25_PREC - fent) < 0.02


def test_kmeans_inertia_decreases_and_partitions_corpus(spark):
    """Lloyd's guarantee holds end-to-end: every vector is assigned
    every round, and total inertia is non-increasing (strictly
    decreasing here) across rounds."""
    from ai_ocr_spark.operators.similarity import (
        KMEANS_K,
        KMEANS_ROUNDS,
        embedding_kmeans,
    )

    out = embedding_kmeans(spark, SF).toPandas()
    n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sorted(out["rnd"].unique()) == list(range(1, KMEANS_ROUNDS + 1))
    per_round = out.groupby("rnd")
    assert (per_round["centroid_id"].count() == KMEANS_K).all()
    assert (per_round["n_members"].sum() == n_vec).all()
    totals = per_round["inertia_scaled"].sum()
    assert all(
        totals[r + 1] < totals[r] for r in range(1, KMEANS_ROUNDS)
    ), totals.to_dict()


def test_mix_epochs_schedule_invariants(spark):
    """The repetition plan is conservation-exact and shows the
    smoothing: quotas sum to ~2x the corpus (integer-floor slack only),
    small sources repeat (epochs >= 2), the largest source doesn't."""
    from ai_ocr_spark.operators.curation import (
        EPOCH_BUDGET_MULT,
        EPOCH_FRAC_SCALE,
        sample_mix_epochs,
    )

    out = sample_mix_epochs(spark, SF01).toPandas()
    pos = out["quota_tokens"] > 0
    assert (out.loc[pos, "epochs"] >= 1).all()
    zero = out[~pos]
    assert (zero["epochs"] == 0).all()
    assert (zero["last_epoch_frac_scaled"] == 0).all()
    assert (~zero["upsampled"]).all()
    total = out["n_tokens"].sum()
    assert 0 <= EPOCH_BUDGET_MULT * total - out["quota_tokens"].sum() < len(out) * total
    # per-source accounting (quota > 0 only — zero-quota rows report
    # 0/0/false by design): (epochs-1)*n + frac*n/SCALE == quota
    op = out[pos]
    got = (op["epochs"] - 1) * op["n_tokens"] + (
        op["last_epoch_frac_scaled"] * op["n_tokens"]
    ) // EPOCH_FRAC_SCALE
    assert ((op["quota_tokens"] - got).abs() <= op["n_tokens"] // EPOCH_FRAC_SCALE + 1).all()
    assert (out["upsampled"] == (out["epochs"] >= 2)).all()
    # sqrt smoothing: the biggest source is downweighted below MULT
    # epochs, the smallest is repeated above MULT
    big = out.loc[out["n_tokens"].idxmax()]
    small = out.loc[out[out["n_tokens"] > 0]["n_tokens"].idxmin()]
    assert big["epochs"] <= EPOCH_BUDGET_MULT
    assert small["epochs"] >= EPOCH_BUDGET_MULT


def test_ann_pq_recall_floor_and_code_compression(spark):
    """PQ recall@5 vs the exact cosine baseline stays above the floor
    measured on this worst-case (structureless) embedding set, and the
    output is a valid per-query ranking."""
    from ai_ocr_spark.operators.similarity import (
        PQ_TOP_K,
        ann_cosine_topk,
        ann_pq_topk,
    )

    pq = ann_pq_topk(spark, SF01).toPandas()
    ex = ann_cosine_topk(spark, SF01).toPandas()
    ex5 = ex[ex["rk"] <= PQ_TOP_K]
    n_q = pq["query_id"].nunique()
    for _, grp in pq.sort_values("rk").groupby("query_id"):
        assert list(grp["rk"]) == list(range(1, PQ_TOP_K + 1))
    assert (pq["query_id"] != pq["neighbor_id"]).all()
    hits = sum(
        len(set(pq[pq["query_id"] == q]["neighbor_id"])
            & set(ex5[ex5["query_id"] == q]["neighbor_id"]))
        for q in pq["query_id"].unique()
    )
    recall = hits / (n_q * PQ_TOP_K)
    # measured 0.50 at sf0.01 (synthetic uniform vectors are PQ's worst
    # case); the floor guards against a broken codebook/ADC path, which
    # measured ~0.08-0.1
    assert recall >= 0.3, recall


def test_perplexity_bigram_matches_python_bruteforce(spark):
    """ce2_scaled equals an independent Python bigram-LM implementation
    with the same integer-ln tables and tracks the float cross-entropy
    to table precision; sub-2-token docs get the sentinel."""
    import hashlib
    import math
    import re
    from collections import Counter

    from ai_ocr_spark.operators.quality_lm import (
        EMPTY_CE,
        LM_MOD,
        quality_perplexity_bigram,
    )
    from ai_ocr_spark.operators.search import (
        BM25_LN2,
        BM25_LN_TABLE,
        BM25_LNPREC,
        BM25_PREC,
    )

    def iln(v: int) -> int:
        bits = v.bit_length()
        return (
            (bits - 1) * BM25_LN2
            + BM25_LN_TABLE[(v >> max(bits - 9, 0)) - 256]
            - BM25_LNPREC
        )

    def toks(t):
        return [
            w
            for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
            if w
        ]

    out = quality_perplexity_bigram(spark, SF).toPandas().set_index("doc_id")
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()

    bg_c: Counter = Counter()
    c1_c: Counter = Counter()
    vocab = set()
    for _, row in docs.iterrows():
        h = int(hashlib.md5(str(row["doc_id"]).encode()).hexdigest()[:15], 16)
        if h % LM_MOD != 0:
            continue
        tk = toks(row["text"])
        vocab.update(tk)
        for a, b in zip(tk, tk[1:]):
            bg_c[(a, b)] += 1
            c1_c[a] += 1
    V = len(vocab)

    for _, row in docs.iterrows():
        tk = toks(row["text"])
        got = out.loc[row["doc_id"]]
        if len(tk) < 2:
            assert got["ce2_scaled"] == EMPTY_CE and got["n_bigrams"] == 0
            continue
        lps = [
            iln((c1_c.get(a, 0) + V) * BM25_PREC)
            - iln((bg_c.get((a, b), 0) + 1) * BM25_PREC)
            for a, b in zip(tk, tk[1:])
        ]
        ce2 = sum(lps) // len(lps)
        assert got["ce2_scaled"] == ce2 and got["n_bigrams"] == len(lps)
        fce = -sum(
            math.log(
                (bg_c.get((a, b), 0) + 1) / (c1_c.get(a, 0) + V)
            )
            for a, b in zip(tk, tk[1:])
        ) / len(lps)
        assert abs(ce2 / BM25_PREC - fce) < 0.01


def test_langid_ngram_learns_all_five_labels(spark):
    """The trained Cavnar-Trenkle classifier must recover every gold
    label (including es/zh, which the stopword-probe text_langid cannot
    even emit) at high accuracy on the seeded corpus, with sane
    distances."""
    from ai_ocr_spark.operators.textstats import (
        LANG_LABELS,
        text_langid_ngram,
    )

    out = text_langid_ngram(spark, SF01).toPandas()
    assert sorted(out["pred_lang"].unique()) == LANG_LABELS
    assert out["correct"].mean() >= 0.95, out["correct"].mean()
    assert (out["best_dist"] >= 0).all()
    docs = spark.read.parquet(f"{SF01}/documents.parquet").count()
    assert len(out) == docs


def test_quality_classifier_nb_is_exact_smoothed_nb(spark):
    """Pure-Python multinomial NB (Laplace-smoothed, trained on the
    hash-stable 20% slice with provenance labels) must reproduce every
    integer LLR bit-for-bit; the integer score tracks the true float
    log P(pos|d)/P(neg|d) to table precision; predictions are
    non-degenerate."""
    import hashlib
    import math
    import re
    from collections import Counter

    from ai_ocr_spark.operators.quality_lm import (
        LM_MOD,
        NB_POS_MOD,
        quality_classifier_nb,
    )
    from ai_ocr_spark.operators.search import (
        BM25_LN2,
        BM25_LN_TABLE,
        BM25_LNPREC,
        BM25_PREC,
    )

    def iln(v: int) -> int:
        bits = v.bit_length()
        mant = (v >> max(bits - 9, 0)) - 256
        return (bits - 1) * BM25_LN2 + BM25_LN_TABLE[mant] - BM25_LNPREC

    def h15(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def toks(t):
        return [w for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ") if w]

    out = quality_classifier_nb(spark, SF).toPandas().set_index("doc_id")
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()

    cp: Counter = Counter()
    cn: Counter = Counter()
    dp = dn = 0
    for _, row in docs.iterrows():
        if h15(str(row["doc_id"])) % LM_MOD != 0:
            continue
        if h15(row["source"]) % NB_POS_MOD == 0:
            cp.update(toks(row["text"]))
            dp += 1
        else:
            cn.update(toks(row["text"]))
            dn += 1
    vocab = set(cp) | set(cn)
    tp, tn, v = sum(cp.values()), sum(cn.values()), len(vocab)
    kden = iln((tp + v) * BM25_PREC) - iln((tn + v) * BM25_PREC)
    prior = iln((dp + 1) * BM25_PREC) - iln((dn + 1) * BM25_PREC)

    for _, row in docs.iterrows():
        got = out.loc[row["doc_id"]]
        tk = toks(row["text"])
        label = h15(row["source"]) % NB_POS_MOD == 0
        sw = sum(
            iln((cp.get(t, 0) + 1) * BM25_PREC)
            - iln((cn.get(t, 0) + 1) * BM25_PREC)
            if t in vocab
            else 0
            for t in tk
        )
        score = prior + sw - len(tk) * kden
        assert got["label_pos"] == label
        assert got["n_tok"] == len(tk)
        assert got["nb_llr_scaled"] == score
        assert got["pred_hi"] == (score > 0)
        # integer LLR tracks the real smoothed NB decision function:
        # every token contributes one table-rounded ln, so the bound
        # scales with n_tok + 2 (prior + denominator terms)
        fscore = (
            math.log((dp + 1) / (dn + 1))
            + sum(
                math.log((cp.get(t, 0) + 1) / (tp + v))
                - math.log((cn.get(t, 0) + 1) / (tn + v))
                for t in tk
            )
        )
        assert abs(score / BM25_PREC - fscore) < 0.004 * (len(tk) + 2)

    # the gate is a real decision boundary at this sf, not a constant
    assert out["pred_hi"].nunique() == 2


def test_classifier_eval_pr_confusion_invariants(spark):
    """The held-out PR sweep must (a) partition the held-out set into a
    full confusion matrix at every threshold, (b) shrink tp/fp
    monotonically as the threshold rises, (c) compute the fixed-point
    precision/recall/F1 exactly from its own counts, (d) cover the
    score range strictly between min and max so no threshold is
    degenerate-by-construction."""
    from ai_ocr_spark.operators.quality_lm import (
        EVAL_BINS,
        LM_MOD,
        PREC,
        classifier_eval_pr,
        quality_classifier_nb,
    )

    out = classifier_eval_pr(spark, SF).toPandas()
    assert list(out["thr_i"]) == list(range(1, EVAL_BINS))

    scored = quality_classifier_nb(spark, SF).toPandas()
    import hashlib

    def h15(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    held = scored[scored["doc_id"].astype(str).map(h15) % LM_MOD != 0]
    n_held = len(held)
    lo, hi = held["nb_llr_scaled"].min(), held["nb_llr_scaled"].max()

    prev_tp = prev_fp = None
    for _, r in out.iterrows():
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n_held
        assert lo <= r["threshold"] <= hi
        # exact recomputation from the held-out frame
        hit = held["nb_llr_scaled"] > r["threshold"]
        assert r["tp"] == (hit & held["label_pos"]).sum()
        assert r["fp"] == (hit & ~held["label_pos"]).sum()
        if prev_tp is not None:
            assert r["tp"] <= prev_tp and r["fp"] <= prev_fp
        prev_tp, prev_fp = r["tp"], r["fp"]
        p, q = r["precision_scaled"], r["recall_scaled"]
        if r["tp"] + r["fp"] > 0:
            assert p == (PREC * r["tp"]) // (r["tp"] + r["fp"])
        else:
            assert p == -1
        if r["tp"] + r["fn"] > 0:
            assert q == (PREC * r["tp"]) // (r["tp"] + r["fn"])
        else:
            assert q == -1
        if p < 0 or q < 0 or p + q == 0:
            assert r["f1_scaled"] == -1
        else:
            assert r["f1_scaled"] == (2 * p * q) // (p + q)


def test_mojibake_repair_is_byte_exact_and_detection_is_tight(spark):
    from ai_ocr_spark.operators.textstats import text_fix_mojibake

    out = text_fix_mojibake(spark, SF01).toPandas().set_index("doc_id")
    docs = (
        spark.read.parquet(f"{SF01}/documents.parquet")
        .select("doc_id", "lang")
        .toPandas()
        .set_index("doc_id")
    )
    j = out.join(docs)
    # repair restores the pre-corruption string on EVERY row
    assert j["repair_ok"].all()
    # detection fires exactly on corrupted rows with non-ASCII seeds
    seeded_nonascii = j["lang"].isin(["de", "fr", "es", "zh"])
    corrupted = (j.index % 3) == 0
    assert (j["mojibake_detected"] == (corrupted & seeded_nonascii)).all()
    # corrupted non-ASCII rows genuinely expanded: repair collapsed >0 bytes
    hit = j[j["mojibake_detected"]]
    assert len(hit) > 0
    assert (hit["n_bytes_collapsed"] > 0).all()
    # untouched rows collapsed nothing
    assert (j.loc[~j["mojibake_detected"], "n_bytes_collapsed"] == 0).all()


def test_robots_gate_longest_match_and_foreign_pass(spark):
    from ai_ocr_spark.operators.links import filter_robots_gate

    out = filter_robots_gate(spark, SF).toPandas()
    # /ad is disallowed on every domain that serves robots.txt
    ad = out[out["resolved"].str.endswith("/ad")]
    assert len(ad) > 0 and (~ad["allowed"]).all()
    assert (ad["matched_rule"] == "disallow:/ad").all()
    # foreign hosts (hub/cdn) have no robots.txt: allowed, no delay
    foreign = out[out["resolved"].str.contains("//hub\\.|//cdn\\.")]
    assert len(foreign) > 0 and foreign["allowed"].all()
    assert foreign["crawl_delay"].isna().all()
    assert foreign["matched_rule"].isna().all()
    # the Allow override beats the broader Disallow by longest match:
    # /topic/1x on a %3 domain is allowed while /topic/<other> is not
    allow_hits = out[out["matched_rule"] == "allow:/topic/1"]
    deny_hits = out[out["matched_rule"] == "disallow:/topic/"]
    assert len(allow_hits) > 0 and allow_hits["allowed"].all()
    assert len(deny_hits) > 0 and (~deny_hits["allowed"]).all()
    # same-domain rows carry the parsed Crawl-delay
    same = out[out["matched_rule"].notna()]
    assert same["crawl_delay"].notna().all()


def test_crawl_delta_statuses_partition_the_url_space(spark):
    from ai_ocr_spark.operators.dedup import (
        DELTA_CHANGED_MOD,
        DELTA_GONE_MOD,
        DELTA_NEW_MOD,
        crawl_delta_report,
    )

    out = crawl_delta_report(spark, SF01).toPandas()
    assert out["url"].is_unique
    docs = spark.read.parquet(f"{SF01}/documents.parquet").toPandas()
    n = len(docs)
    ids = docs["doc_id"]
    exp_gone = (ids % DELTA_GONE_MOD == 0).sum()
    exp_changed = (
        (ids % DELTA_CHANGED_MOD == 0) & (ids % DELTA_GONE_MOD != 0)
    ).sum()
    exp_new = (ids % DELTA_NEW_MOD == 0).sum()
    by = out["status"].value_counts().to_dict()
    assert by.get("gone", 0) == exp_gone
    assert by.get("changed", 0) == exp_changed
    assert by.get("new", 0) == exp_new
    assert by.get("unchanged", 0) == n - exp_gone - exp_changed
    # fingerprints present exactly where the snapshot has the url
    assert out.loc[out["status"] == "gone", "fp_b"].isna().all()
    assert out.loc[out["status"] == "new", "fp_a"].isna().all()
    assert (
        out.loc[out["status"] == "unchanged", "fp_a"]
        == out.loc[out["status"] == "unchanged", "fp_b"]
    ).all()


def test_frontier_topk_excludes_seen_and_disallowed(spark):
    from ai_ocr_spark.operators.links import (
        FRONTIER_K,
        crawl_frontier_topk,
        filter_robots_gate,
    )

    top = crawl_frontier_topk(spark, SF01).toPandas()
    assert len(top) == FRONTIER_K
    assert list(top["rank"]) == list(range(1, FRONTIER_K + 1))
    # ranking is by in-link volume with a deterministic tie-break
    pairs = list(zip(-top["n_inlinks"], top["resolved"]))
    assert pairs == sorted(pairs)
    # nothing already crawled may appear
    docs = spark.read.parquet(f"{SF01}/documents.parquet").toPandas()
    seen = {
        f"https://{s}.example.com/doc/{i}"
        for s, i in zip(docs["source"], docs["doc_id"])
    }
    assert not (set(top["resolved"]) & seen)
    # nothing robots-disallowed may appear
    gate = filter_robots_gate(spark, SF01).toPandas()
    blocked = set(gate.loc[~gate["allowed"], "resolved"])
    assert not (set(top["resolved"]) & blocked)


def test_schedule_waves_politeness_invariants(spark):
    """No (host, wave) exceeds WAVE_PER_HOST; slots are dense per host
    in (n_inlinks desc, url) order; the scheduled set is exactly the
    frontier's gated-unseen candidate set."""
    from ai_ocr_spark.operators.links import (
        WAVE_PER_HOST,
        crawl_schedule_waves,
        filter_robots_gate,
    )

    out = crawl_schedule_waves(spark, SF01).toPandas()
    assert len(out) > 0
    # the politeness cap — THE invariant the op exists for
    per = out.groupby(["host", "wave"]).size()
    assert (per <= WAVE_PER_HOST).all()
    # slots dense + deterministic order within each host
    for _, g in out.groupby("host"):
        g = g.sort_values(["wave", "slot_in_wave"]).reset_index(drop=True)
        assert list(g["wave"] * WAVE_PER_HOST + g["slot_in_wave"]) == list(
            range(len(g))
        )
        pairs = list(zip(-g["n_inlinks"], g["resolved"]))
        assert pairs == sorted(pairs)
    # every url's host column matches its url
    assert (
        out["resolved"].str.extract(r"^[a-z]+://([^/]+)")[0] == out["host"]
    ).all()
    # scheduled set == gated, unseen candidates (nothing dropped/added)
    gate = filter_robots_gate(spark, SF01).toPandas()
    allowed = set(gate.loc[gate["allowed"], "resolved"])
    docs = spark.read.parquet(f"{SF01}/documents.parquet").toPandas()
    seen = {
        f"https://{s}.example.com/doc/{i}"
        for s, i in zip(docs["source"], docs["doc_id"])
    }
    assert set(out["resolved"]) == allowed - seen


def test_kn_perplexity_matches_python_bruteforce(spark):
    """ce_kn_scaled equals an independent Python interpolated-KN
    implementation using the same integer-ln tables, and KN actually
    differs from the add-one gate (absolute discounting is not a
    relabeling)."""
    import re
    from collections import Counter, defaultdict

    from ai_ocr_spark.operators.quality_lm import (
        EMPTY_CE,
        KN_D_DEN,
        KN_D_NUM,
        LM_MOD,
        quality_perplexity_bigram,
        quality_perplexity_kn,
    )
    from ai_ocr_spark.operators.search import (
        BM25_LN2,
        BM25_LN_TABLE,
        BM25_LNPREC,
        BM25_PREC,
    )

    def iln(v: int) -> int:
        bits = v.bit_length()
        return (
            (bits - 1) * BM25_LN2
            + BM25_LN_TABLE[(v >> max(bits - 9, 0)) - 256]
            - BM25_LNPREC
        )

    def toks(t):
        return [
            w
            for w in re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
            if w
        ]

    import hashlib

    def in_slice(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % LM_MOD == 0

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    c12: Counter = Counter()
    for _, d in docs.iterrows():
        if not in_slice(d["doc_id"]):
            continue
        a = toks(d["text"])
        for i in range(len(a) - 1):
            c12[(a[i], a[i + 1])] += 1
    c1: Counter = Counter()
    n1c: Counter = Counter()
    n1r: Counter = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1c[w1] += 1
        n1r[w2] += 1
    nbb = len(c12)

    def lp(w1, w2):
        if w1 not in c1:
            num, den = max(n1r.get(w2, 0), 1), nbb
        else:
            num = max(
                max(KN_D_DEN * c12.get((w1, w2), 0) - KN_D_NUM, 0) * nbb
                + KN_D_NUM * n1c[w1] * n1r.get(w2, 0),
                1,
            )
            den = KN_D_DEN * c1[w1] * nbb
        return iln(den * BM25_PREC) - iln(num * BM25_PREC)

    out = quality_perplexity_kn(spark, SF).toPandas().set_index("doc_id")
    for _, d in docs.iterrows():
        a = toks(d["text"])
        r = out.loc[d["doc_id"]]
        if len(a) < 2:
            assert r["n_bigrams"] == 0 and r["ce_kn_scaled"] == EMPTY_CE
            continue
        lps = [lp(a[i], a[i + 1]) for i in range(len(a) - 1)]
        assert r["n_bigrams"] == len(lps)
        total = sum(lps)
        assert r["ce_kn_scaled"] == total // len(lps)
    # KN is a genuinely different score from add-one, not a relabeling
    addone = (
        quality_perplexity_bigram(spark, SF).toPandas().set_index("doc_id")
    )
    diff = (
        out.loc[out["n_bigrams"] > 0, "ce_kn_scaled"]
        != addone.loc[addone["n_bigrams"] > 0, "ce2_scaled"]
    )
    assert diff.any()


def test_nfc_normalize_families_fire(spark):
    """Every decomposed fixture family actually composes (changed=True,
    codepoints shrink) and the ASCII control row is a no-op; outputs
    match stdlib unicodedata exactly."""
    import unicodedata

    from ai_ocr_spark.operators.textstats import (
        NFC_PREFIXES,
        text_nfc_normalize,
    )

    out = text_nfc_normalize(spark, SF).toPandas()
    n = len(NFC_PREFIXES)
    for _, r in out.iterrows():
        fam = r["doc_id"] % n
        assert r["raw"].startswith(NFC_PREFIXES[fam])
        assert r["nfc"] == unicodedata.normalize("NFC", r["raw"])
        if fam == n - 1:  # plain ascii control row
            assert not r["changed"] and r["n_cp_raw"] == r["n_cp_nfc"]
        else:
            assert r["changed"] and r["n_cp_nfc"] < r["n_cp_raw"]


def test_pii_scrub_every_class_fires(spark):
    """r5 PII breadth: every redaction class fires at least once, the
    Luhn gate is selective (valid cards redact, invalid candidates
    survive verbatim), and the checksum agrees with a pure-Python
    Luhn on the seeded digits."""
    from ai_ocr_spark.operators.textstats import text_pii_scrub

    out = text_pii_scrub(spark, SF).toPandas()
    assert (out["n_emails"] >= 1).all()
    assert (out["n_phones"] >= 1).all()
    assert (out["n_ips"] == 1).all()
    assert (out["n_ids"] == 1).all()
    # the known-valid 4242... card seeds every 10th doc — fires at any SF
    assert out.loc[out["doc_id"] % 10 == 0, "card_luhn_valid"].all()
    assert (out["n_cards"] == out["card_luhn_valid"].astype(int)).all()
    # redaction is visible in the tail (seeds sit at the end of seeded)
    valid = out[out["card_luhn_valid"]]
    invalid = out[~out["card_luhn_valid"]]
    assert len(valid) and len(invalid)  # both branches exercised
    assert valid["scrubbed_tail"].str.contains("<CARD>").all()
    assert not invalid["scrubbed_tail"].str.contains("<CARD>").any()
    assert out["scrubbed_tail"].str.contains("<IP>").all()
    assert out["scrubbed_tail"].str.contains("<ID>").all()

    def luhn(card: str) -> bool:
        s = 0
        for i, ch in enumerate(card):  # even length: double odd 1-based
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            s += d
        return s % 10 == 0

    for _, r in out.head(50).iterrows():
        did = int(r["doc_id"])
        if did % 10 == 0:
            card = "4242424242424242"
        else:
            card = (
                "4"
                + str((did * 37) % 1000000).zfill(6)
                + str((did * 101) % 1000000000).zfill(9)
            )
        assert luhn(card) == bool(r["card_luhn_valid"]), did


def test_nfc_prefix_pins_are_ucd_stable():
    """Pin the LITERAL expected NFC form of every fixture prefix
    (computed once under UCD 14.0.0). The driver oracle compares
    CPython's unicodedata against DuckDB's utf8proc; if either engine
    moves to a Unicode version that renormalizes these sequences, THIS
    test names the culprit — a future driver hash mismatch on
    text_nfc_normalize is then immediately attributable to UCD skew
    rather than an operator regression (ADVICE r4)."""
    import unicodedata

    from ai_ocr_spark.operators.textstats import NFC_PREFIXES

    pinned = {
        "cafe\u0301": "caf\u00e9",  # e + COMBINING ACUTE composes
        "n\u0303o": "\u00f1o",  # n + COMBINING TILDE composes
        # long s + dot above compose to U+1E9B; dot below (ccc 220)
        # stays, canonically ordered after the composition
        "\u017f\u0307\u0323": "\u1e9b\u0323",
        "\u1100\u1161": "\uac00",  # jamo pair -> syllable GA
        "A\u030angstrom": "\u00c5ngstrom",  # A + COMBINING RING
        "plain ascii": "plain ascii",  # NFC-stable control row
    }
    assert list(pinned) == NFC_PREFIXES
    for raw, expect in pinned.items():
        assert unicodedata.normalize("NFC", raw) == expect, (
            f"UCD skew: CPython {unicodedata.unidata_version} "
            f"renormalizes {raw!r}"
        )


def test_sitemap_discover_roundtrip_and_flags(spark):
    """Parser recovers exactly the builder's entries: one row per doc
    plus one NEW url per SITEMAP_NEW_MOD-th doc; known flags match the
    corpus; recrawl ranks are dense per source in (lastmod desc, loc)
    order."""
    from ai_ocr_spark.operators.links import SITEMAP_NEW_MOD, sitemap_discover

    out = sitemap_discover(spark, SF01).toPandas()
    docs = spark.read.parquet(f"{SF01}/documents.parquet").toPandas()
    n_new = (docs["doc_id"] % SITEMAP_NEW_MOD == 0).sum()
    assert len(out) == len(docs) + n_new
    assert (~out["known"]).sum() == n_new
    assert out.loc[~out["known"], "loc"].str.contains("/page/").all()
    assert out.loc[out["known"], "loc"].str.contains("/doc/").all()
    # every crawled url appears exactly once
    urls = {
        f"https://{s}.example.com/doc/{i}"
        for s, i in zip(docs["source"], docs["doc_id"])
    }
    assert set(out.loc[out["known"], "loc"]) == urls
    for _, g in out.groupby("source"):
        g = g.sort_values("recrawl_rank")
        assert list(g["recrawl_rank"]) == list(range(1, len(g) + 1))
        pairs = [(l, loc) for l, loc in zip(g["lastmod"], g["loc"])]
        assert pairs == sorted(pairs, key=lambda p: (_neg_str(p[0]), p[1]))


def _neg_str(s):
    """Sort key that inverts lexicographic order (for lastmod DESC)."""
    return tuple(-ord(c) for c in s)


def test_dsir_quota_is_exact_and_selection_is_topk(spark):
    from ai_ocr_spark.operators.quality_lm import (
        DSIR_KEEP_DEN,
        DSIR_KEEP_NUM,
        sample_dsir_select,
    )

    out = sample_dsir_select(spark, SF01).toPandas()
    n = len(out)
    quota = -(-n * DSIR_KEEP_NUM // DSIR_KEEP_DEN)
    kept = out[out["kept"]]
    assert len(kept) == quota  # EXACT quota, ties resolved
    # kept set is precisely the top of the (score desc, doc_id asc) order
    ordered = out.sort_values(
        ["dsir_logw_scaled", "doc_id"], ascending=[False, True]
    )
    assert set(ordered.head(quota)["doc_id"]) == set(kept["doc_id"])
    # every doc scored: grams counted, BIGINT weights
    assert (out["n_grams"] > 0).all()
    assert out["dsir_logw_scaled"].dtype.kind == "i"


def test_mojibake_guard_rejects_lookalikes_without_throwing(spark):
    """The review's adversarial case: text with one REAL
    lead+continuation pair plus a lone latin-1 char passes the naive
    pair signature but its latin-1 re-encoding is NOT valid UTF-8 --
    the strict-sequence guard must classify it undetected (and thus
    never decode it) instead of throwing under ANSI."""
    from pyspark.sql import functions as F

    from ai_ocr_spark.operators.textstats import (
        _MOJI_LEAD_RE,
        _MOJI_SEQ_RE,
        _NON_ASCII_RE,
    )

    rows_in = [
        (0, "\u00c2\u00bc cup of \u00df"),  # valid pair + lone latin-1
        (1, "caf\u00c3\u00a9"),  # genuine mojibake of 'cafe-acute'
        (2, "\u00e0\u0080\u0080 overlong"),  # overlong 3-byte form
        (3, "\u00ed\u00a0\u0080 surrogate"),  # encoded UTF-16 surrogate
    ]
    df = spark.createDataFrame(rows_in, "doc_id long, corrupt string")
    detected = F.col("corrupt").rlike(_MOJI_LEAD_RE) & ~F.regexp_replace(
        F.col("corrupt"), _MOJI_SEQ_RE, ""
    ).rlike(_NON_ASCII_RE)
    fixed = F.when(
        detected,
        F.decode(F.encode(F.col("corrupt"), "ISO-8859-1"), "UTF-8"),
    ).otherwise(F.col("corrupt"))
    rows = (
        df.select("doc_id", detected.alias("det"), fixed.alias("fixed"))
        .orderBy("doc_id")
        .collect()
    )
    # only the genuinely-valid mojibake row is detected and repaired;
    # lookalike, overlong and surrogate rows pass through UNTOUCHED and
    # the query completes without an ANSI decode error
    assert [r["det"] for r in rows] == [False, True, False, False]
    assert rows[1]["fixed"] == "caf\u00e9"
    assert rows[0]["fixed"] == rows_in[0][1]


def test_dsir_eval_report_accounting_is_consistent(spark):
    from ai_ocr_spark.operators.quality_lm import (
        DSIR_KEEP_DEN,
        DSIR_KEEP_NUM,
        dsir_eval_report,
        sample_dsir_select,
    )

    rep = dsir_eval_report(spark, SF01).toPandas()
    sel = sample_dsir_select(spark, SF01).toPandas()
    n = len(sel)
    # per-source kept counts sum to the exact global quota
    assert rep["n_kept"].sum() == -(-n * DSIR_KEEP_NUM // DSIR_KEEP_DEN)
    assert rep["n_docs"].sum() == n
    # the enrichment factor is one global PREC-scaled integer on every row
    assert rep["target_enrichment_scaled"].nunique() == 1
    e = rep["target_enrichment_scaled"].iloc[0]
    kept = sel[sel["kept"]]
    expect = (
        kept["is_target"].sum() * 1_000_000 // len(kept) * n
        // sel["is_target"].sum()
    )
    assert e == expect


def test_tokenizer_vocab_coverage_consistent_with_encode(spark):
    """The per-lang coverage rollup must re-partition exactly the same
    corpus mass the per-doc encode reports: grand totals equal, every
    fixed-point ratio recomputable from its own integer numerators, and
    fragmentation genuinely present (the 4-round merge table cannot
    absorb the whole vocabulary)."""
    from ai_ocr_spark.operators.tokenizer import (
        tokenizer_bpe_encode,
        tokenizer_vocab_coverage,
    )

    cov = tokenizer_vocab_coverage(spark, SF).toPandas()
    enc = tokenizer_bpe_encode(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()

    assert sorted(cov["lang"]) == sorted(docs["lang"].unique())
    for col in ("n_words", "n_chars", "n_tokens"):
        assert cov[col].sum() == enc[col].sum(), col
    for _, r in cov.iterrows():
        assert r["chars_per_token_e4"] == (r["n_chars"] * 10000) // r["n_tokens"]
        assert r["fertility_e4"] == (r["n_tokens"] * 10000) // r["n_words"]
        assert 0 <= r["frag_share_e4"] <= 10000
        # fertility >= 1 token per word, and some words stay fragmented
        assert r["fertility_e4"] >= 10000
        assert r["frag_share_e4"] > 0


def test_ann_ivf_pq_topk_prunes_to_probed_lists(spark):
    """IVFADC output is a valid per-query ranking whose neighbors all
    come from the query's probed inverted lists, and per-query recall
    never exceeds the coarse IVF path's: a hit must survive the prune,
    and any exact-top-K neighbor that survives is in ann_ivf_topk's
    exact-rerank top-K by definition (fewer than K candidates beat it
    by cosine)."""
    from ai_ocr_spark.operators.similarity import (
        IVF_TOP_K,
        PQ_TOP_K,
        _emb,
        _ivf_index,
        _ivf_probes,
        ann_cosine_topk,
        ann_ivf_pq_topk,
        ann_ivf_topk,
    )

    assert IVF_TOP_K == PQ_TOP_K  # the recall-bound argument needs it
    out = ann_ivf_pq_topk(spark, SF01).toPandas()
    for _, grp in out.sort_values("rk").groupby("query_id"):
        assert list(grp["rk"]) == list(range(1, PQ_TOP_K + 1))
    assert (out["query_id"] != out["neighbor_id"]).all()

    cent, assigned = _ivf_index(spark, SF01)
    asg = assigned.select("vec_id", "centroid_id").toPandas()
    probes = (
        _ivf_probes(_emb(spark, SF01), cent)
        .select("query_id", "centroid_id")
        .toPandas()
    )
    probe_set = {(r.query_id, r.centroid_id) for r in probes.itertuples()}
    list_of = dict(zip(asg["vec_id"], asg["centroid_id"]))
    for r in out.itertuples():
        assert (r.query_id, list_of[r.neighbor_id]) in probe_set

    ex = ann_cosine_topk(spark, SF01).toPandas()
    ex5 = ex[ex["rk"] <= PQ_TOP_K]
    ivf = ann_ivf_topk(spark, SF01).toPandas()
    total_hits = 0
    for q in out["query_id"].unique():
        exq = set(ex5[ex5["query_id"] == q]["neighbor_id"])
        h_ivfpq = len(set(out[out["query_id"] == q]["neighbor_id"]) & exq)
        h_ivf = len(set(ivf[ivf["query_id"] == q]["neighbor_id"]) & exq)
        assert h_ivfpq <= h_ivf, (q, h_ivfpq, h_ivf)
        total_hits += h_ivfpq
    # not a degenerate path: the composition still finds true neighbors
    assert total_hits > 0


def test_ann_ivf_pq_recall_matches_intersection(spark):
    """The recall op's values equal a hand-computed intersection of
    the composed query's output with the exact baseline."""
    from ai_ocr_spark.operators.similarity import (
        PQ_TOP_K,
        ann_cosine_topk,
        ann_ivf_pq_recall,
        ann_ivf_pq_topk,
    )

    rec = ann_ivf_pq_recall(spark, SF01).toPandas().set_index("query_id")
    out = ann_ivf_pq_topk(spark, SF01).toPandas()
    ex = ann_cosine_topk(spark, SF01).toPandas()
    ex5 = ex[ex["rk"] <= PQ_TOP_K]
    assert len(rec) == out["query_id"].nunique()
    for q in out["query_id"].unique():
        hits = len(
            set(out[out["query_id"] == q]["neighbor_id"])
            & set(ex5[ex5["query_id"] == q]["neighbor_id"])
        )
        assert rec.loc[q, "n_hits"] == hits
        assert rec.loc[q, "recall_at_k"] == hits / PQ_TOP_K


def test_text_readability_matches_python_recompute(spark):
    """The FK components equal an independent Python recompute over the
    same canonical form, every word contributes at least one syllable,
    and the sentinel shape holds (fk NULL iff no words)."""
    import re

    from ai_ocr_spark.operators.textstats import text_readability

    out = text_readability(spark, SF001).toPandas().set_index("doc_id")
    docs = (
        spark.read.parquet(f"{SF001}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    nn = out[out["n_words"] > 0]
    assert (nn["n_syllables"] >= nn["n_words"]).all()
    assert out["fk_e4"].isna().equals(out["n_words"] == 0)
    for doc_id, text in zip(docs["doc_id"][:40], docs["text"][:40]):
        norm = re.sub(r"\s+", " ", (text or "").lower()).strip()
        r = out.loc[doc_id]
        if norm == "":
            assert r["n_words"] == 0
            continue
        tok = norm.split(" ")
        w = len(tok)
        s = max(1, len(re.findall(r"[.!?]+", norm)))
        sy = len(re.findall(r"[aeiouy]+", norm)) + sum(
            1 for t in tok if not re.search(r"[aeiouy]", t)
        )
        assert r["n_words"] == w and r["n_sentences"] == s
        assert r["n_syllables"] == sy
        assert r["wps_e4"] == (w * 10000) // s
        assert r["spw_e4"] == (sy * 10000) // w
        assert r["fk_e4"] == (w * 3900) // s + (sy * 11800) // w - 155900


def test_fineweb_rules_fire_and_match_python(spark):
    """quality_filter_fineweb: every rule fires, both keep outcomes
    occur, and every stat matches an independent Python recompute of
    the identical seeded document."""
    import duckdb
    import re

    from ai_ocr_spark.operators.textstats import (
        FW_DUP_CHAR_MAX,
        FW_PUNCT_MIN,
        FW_SHORT_CHARS,
        FW_SHORT_MAX,
        quality_filter_fineweb,
    )

    sf = "/root/testdata/sf0.001"
    out = quality_filter_fineweb(spark, sf).toPandas().set_index("doc_id")
    texts = dict(
        duckdb.connect().execute(
            "SELECT doc_id, coalesce(text,'') FROM "
            f"read_parquet('{sf}/documents.parquet')"
        ).fetchall()
    )
    for doc_id, t in texts.items():
        p = "" if doc_id % 17 == 0 else "."
        l1 = ("hi" if doc_id % 19 == 0 else t[0:50]) + p
        lines = [
            l1,
            "aa bb" if doc_id % 19 == 0 else t[50:100],
            "tiny" if doc_id % 19 == 0 else t[100:150],
            l1 if doc_id % 6 == 0 else t[150:190] + p,
            (
                "also tiny"
                if doc_id % 19 == 0
                else "A closing remark rounds out the page nicely"
            )
            + p,
        ]
        n = len(lines)
        n_punct = sum(1 for l in lines if re.search(r'[.!?"]$', l))
        n_short = sum(1 for l in lines if len(l) < FW_SHORT_CHARS)
        total = sum(len(l) for l in lines)
        dup = sum(len(l) for l in lines if lines.count(l) > 1)
        r = out.loc[doc_id]
        assert (r.n_lines, r.n_punct_lines, r.n_short_lines) == (
            n, n_punct, n_short,
        ), doc_id
        assert (r.total_chars, r.dup_chars) == (total, dup), doc_id
        assert r.keep == (
            n_punct / n >= FW_PUNCT_MIN
            and dup / total <= FW_DUP_CHAR_MAX
            and n_short / n < FW_SHORT_MAX
        ), doc_id
    # each of the three rules fires somewhere, and both outcomes occur
    assert (out["punct_ratio"] < FW_PUNCT_MIN).any()
    assert (out["dup_char_frac"] > FW_DUP_CHAR_MAX).any()
    assert (out["short_frac"] >= FW_SHORT_MAX).any()
    assert out["keep"].any() and (~out["keep"]).any()


def test_collocations_pmi_matches_python_bruteforce(spark):
    """The integer PMI equals an independent Python recompute with the
    same integer-ln tables, tracks float PMI to table precision (four
    iln calls -> |err| < 4 * ln(1 + 2^-8)), respects the support floor,
    and the top-K ordering is the true deterministic order."""
    import math
    import re
    from collections import Counter

    from ai_ocr_spark.operators.quality_lm import (
        PMI_MIN_COUNT,
        PMI_TOP_K,
        collocations_pmi,
    )
    from ai_ocr_spark.operators.search import (
        BM25_LN2,
        BM25_LN_TABLE,
        BM25_LNPREC,
        BM25_PREC,
    )

    def iln(v: int) -> int:
        bits = v.bit_length()
        mant = (v >> max(bits - 9, 0)) - 256
        return (bits - 1) * BM25_LN2 + BM25_LN_TABLE[mant] - BM25_LNPREC

    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("text")
        .collect()
    )
    pairs: Counter = Counter()
    for r in rows:
        tk = re.sub(r"\s+", " ", (r.text or "").lower()).strip().split(" ")
        tk = [t for t in tk if t]
        for a, b in zip(tk, tk[1:]):
            pairs[(a, b)] += 1
    c1: Counter = Counter()
    c2: Counter = Counter()
    for (a, b), c in pairs.items():
        c1[a] += c
        c2[b] += c
    t_bg = sum(pairs.values())

    expect = []
    for (a, b), c in pairs.items():
        if c < PMI_MIN_COUNT:
            continue
        pmi = (
            iln(c * BM25_PREC)
            + iln(t_bg * BM25_PREC)
            - iln(c1[a] * BM25_PREC)
            - iln(c2[b] * BM25_PREC)
        )
        expect.append((f"{a} {b}", c, pmi))
    expect.sort(key=lambda x: (-x[2], x[0]))
    expect = expect[:PMI_TOP_K]

    got = [
        (r.bigram, r.c12, r.pmi_scaled)
        for r in collocations_pmi(spark, SF).collect()
    ]
    assert got == expect, (got[:5], expect[:5])

    # integer PMI tracks the real float PMI to table precision
    tol = 4 * math.log(1 + 2**-8)
    for bg, c, pmi in got:
        a, b = bg.split(" ")
        fpmi = math.log(c * t_bg / (c1[a] * c2[b]))
        assert abs(pmi / BM25_PREC - fpmi) < tol, (bg, pmi / BM25_PREC, fpmi)
    # every surfaced bigram clears the support floor
    assert all(c >= PMI_MIN_COUNT for _, c, _ in got)
    assert len(got) == PMI_TOP_K


def test_collocations_pmi_topk_plan(spark):
    """Global top-K compiles to TakeOrderedAndProject (no global sort
    materializes the full scored frame)."""
    from ai_ocr_spark.memo import clear_caches
    from ai_ocr_spark.operators.quality_lm import collocations_pmi
    from ai_ocr_spark.plans.audit import formatted_plan

    clear_caches()
    plan = formatted_plan(collocations_pmi(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
