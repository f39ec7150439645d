"""Plan-shape invariants for the r5 positional-retrieval pair: the
vocabulary probe must sit BELOW every aggregate (so only phrase /
proximity terms' positional postings ever shuffle), the per-query
top-K must compile to WindowGroupLimit, and the proximity self-join
must keep its equality keys (a shared-lineage attribute collapse would
degrade it to a nested-loop scan — the CLAUDE.md rename-before-join
footgun)."""

import re

from ai_ocr_spark.plans.audit import formatted_plan

SF = "/root/testdata/sf0.001"


def _fresh(spark):
    from ai_ocr_spark.memo import clear_caches

    clear_caches()
    return spark


def _depth(line: str) -> int:
    m = re.search(r"[A-Za-z]", line)
    return m.start() if m else 0


def _probe_below_every_aggregate(plan: str, gen_pat: str) -> bool:
    """r4d's walk, generalized to posexplode: from every positional
    Generate, walking UP the printed tree (nearest strictly-shallower
    line) must meet a Join before any Aggregate — the vocab probe
    happens before anything shuffles. Works on the embedded cached
    physical plan text too (the persisted index build)."""
    lines = plan.splitlines()
    gens = [i for i, ln in enumerate(lines) if gen_pat in ln]
    assert gens, plan
    for g in gens:
        d = _depth(lines[g])
        i = g - 1
        seen_join = False
        while i >= 0:
            di = _depth(lines[i])
            if di < d:
                d = di
                if "Join" in lines[i]:
                    seen_join = True
                if "Aggregate" in lines[i] and not seen_join:
                    return False
            i -= 1
    return True


def test_phrase_probe_below_anchor_aggregate(spark):
    """The positional-index build (embedded in the plan as the cached
    relation) must vocab-probe the posexplode output before any
    aggregate, and the phrase query must read that persisted index,
    not re-scan the corpus."""
    from ai_ocr_spark.operators.search import search_phrase_topk

    df = search_phrase_topk(_fresh(spark), SF)
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in lp, lp
    assert _probe_below_every_aggregate(lp, "Generate posexplode"), lp


def test_positional_topk_window_group_limit(spark):
    from ai_ocr_spark.operators.search import (
        search_phrase_topk,
        search_proximity_topk,
    )

    for fn in (search_phrase_topk, search_proximity_topk):
        plan = formatted_plan(fn(spark, SF))
        assert "WindowGroupLimit" in plan, plan[:2000]


def test_proximity_join_keeps_equality_keys(spark):
    """Both proximity sides read the SAME persisted postings frame; the
    right side is renamed before the join so the (query, doc) equality
    keys survive. A silent key collapse (trivially-true predicate)
    would surface as a nested-loop / cartesian physical join."""
    from ai_ocr_spark.operators.search import search_proximity_topk

    plan = formatted_plan(search_proximity_topk(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_pos_postings_memoized_once(spark):
    """Repeated phrase/proximity calls must probe ONE persisted
    positional index (the stored-index stand-in), not rebuild it."""
    from ai_ocr_spark.operators.search import _pos_postings

    a = _pos_postings(_fresh(spark), SF)
    b = _pos_postings(spark, SF)
    assert a is b


def test_snippet_contains_phrase_and_matches_bruteforce(spark):
    """Every snippet embeds its phrase verbatim, and the whole result
    equals an independent Python recompute (tokenize -> first anchor ->
    clamped window) joined to the phrase top-K."""
    import re

    from ai_ocr_spark.operators.search import (
        PHRASE_QUERIES,
        SNIPPET_POST,
        SNIPPET_PRE,
        search_phrase_topk,
        search_snippet_topk,
    )

    rows = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    toks = {}
    for r in rows:
        tk = re.sub(r"\s+", " ", (r.text or "").lower()).strip().split(" ")
        toks[r.doc_id] = [t for t in tk if t]

    def first_anchor(doc_id, phrase):
        tk = toks[doc_id]
        for i in range(len(tk) - len(phrase) + 1):
            if tk[i : i + len(phrase)] == phrase:
                return i
        return None

    top = {
        (r.query_id, r.doc_id): r.rnk
        for r in search_phrase_topk(spark, SF).collect()
    }
    got = {
        (r.query_id, r.doc_id): (r.rnk, r.first_anchor, r.snippet)
        for r in search_snippet_topk(spark, SF).collect()
    }
    assert set(got) == set(top)
    for (qid, did), (rnk, a0, snippet) in got.items():
        phrase = PHRASE_QUERIES[qid]
        assert rnk == top[(qid, did)]
        exp_a0 = first_anchor(did, phrase)
        assert a0 == exp_a0, (qid, did, a0, exp_a0)
        s = max(a0 - SNIPPET_PRE, 0)
        e = a0 + len(phrase) - 1 + SNIPPET_POST
        assert snippet == " ".join(toks[did][s : e + 1]), (qid, did)
        assert " ".join(phrase) in snippet


def test_snippet_doc_lookup_is_broadcast(spark):
    """The hit list (K docs/query) must broadcast into the corpus join —
    the doc-store point-lookup stand-in — never shuffle the corpus."""
    from ai_ocr_spark.operators.search import search_snippet_topk

    plan = formatted_plan(search_snippet_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
