"""search_query_expansion invariants: the pseudo-relevance-feedback
step must be feedback-bounded past the ranker — the K-docs-per-query
hit list broadcasts into the corpus scan (doc-store point-lookup
stand-in) and the candidate-vocabulary df probe sits BELOW its
aggregate so only candidate-term postings shuffle — and the result
must equal an independent Python recompute of Rocchio-style expansion
(feedback tf x integer idf, original query terms excluded)."""

import re

from ai_ocr_spark.plans.audit import formatted_plan

SF = "/root/testdata/sf0.001"


def _fresh(spark):
    from ai_ocr_spark.memo import clear_caches

    clear_caches()
    return spark


def test_expansion_matches_bruteforce(spark):
    from ai_ocr_spark.operators.search import (
        EXP_TOP_N,
        IDF_SCALE,
        SEARCH_QUERIES,
        search_bm25_topk,
        search_query_expansion,
    )

    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    toks = {}
    for r in rows:
        tk = re.sub(r"\s+", " ", (r.text or "").lower()).strip().split(" ")
        toks[r.doc_id] = [t for t in tk if t]
    n_docs = len(rows)

    fb = {}
    for r in search_bm25_topk(spark, SF).collect():
        fb.setdefault(r.query_id, []).append(r.doc_id)

    expected = set()
    for qid, docs in fb.items():
        fbtf = {}
        for did in docs:
            for t in toks[did]:
                if t not in SEARCH_QUERIES[qid]:
                    fbtf[t] = fbtf.get(t, 0) + 1
        scored = []
        for t, tf in fbtf.items():
            df = sum(1 for tk in toks.values() if t in tk)
            scored.append((-(tf * ((IDF_SCALE * n_docs) // df)), t, tf))
        scored.sort()
        for i, (negw, t, tf) in enumerate(scored[:EXP_TOP_N], start=1):
            expected.add((qid, i, t, tf, -negw))

    got = {
        (r.query_id, r.rnk, r.token, r.fb_tf, r.weight)
        for r in search_query_expansion(_fresh(spark), SF).collect()
    }
    assert got == expected


def test_expansion_plan_shape(spark):
    """Feedback docs and candidate terms both enter the corpus scans as
    broadcast probes (BroadcastHashJoin, no shuffled corpus join on the
    hit list), the per-query term ranking compiles to WindowGroupLimit,
    and no cartesian product appears (the only cross join is the
    broadcast one-row n_docs frame)."""
    from ai_ocr_spark.operators.search import search_query_expansion

    plan = formatted_plan(search_query_expansion(_fresh(spark), SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_expansion_excludes_query_terms(spark):
    from ai_ocr_spark.operators.search import (
        SEARCH_QUERIES,
        search_query_expansion,
    )

    for r in search_query_expansion(_fresh(spark), SF).collect():
        assert r.token not in SEARCH_QUERIES[r.query_id], r
