"""Value + plan pins for the Dolma-style Bloom dedup probe
(sketch.dedup_bloom_probe): the whole result must equal an independent
Python Bloom recompute, false negatives must be impossible (every exact
dup is flagged maybe-seen — pinned at sf0.1 where 3 exact-dup docs
straddle the base/increment split), the measured false-positive rate
must sit under the design bound, and the probe-side bitmap join must
broadcast (the corpus never shuffles for membership)."""

import hashlib
import re

from ai_ocr_spark.plans.audit import formatted_plan

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.1"


def _norm(t):
    return re.sub(r"\s+", " ", (t or "").lower()).strip()


def _is_new(doc_id):
    from ai_ocr_spark.operators.dedup import INCR_NEW_MOD

    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    return h % INCR_NEW_MOD == 0


def _positions(digest):
    from ai_ocr_spark.operators.sketch import BLOOM_B, BLOOM_K

    return [int(digest[8 * i : 8 * i + 8], 16) % BLOOM_B for i in range(BLOOM_K)]


def _python_probe(spark, sf_dir):
    """Independent recompute: (doc_id -> (bloom_hit, exact_dup)) over
    the increment, from a set-of-positions Bloom built on the base."""
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    digests = {r.doc_id: hashlib.md5(_norm(r.text).encode()).hexdigest() for r in rows}
    base_bits, base_fps = set(), set()
    for did, dg in digests.items():
        if not _is_new(did):
            base_bits.update(_positions(dg))
            base_fps.add(dg)
    return {
        did: (
            all(p in base_bits for p in _positions(dg)),
            dg in base_fps,
        )
        for did, dg in digests.items()
        if _is_new(did)
    }


def test_bloom_probe_matches_python_recompute(spark):
    from ai_ocr_spark.operators.sketch import dedup_bloom_probe

    exp = _python_probe(spark, SF)
    got = {
        r.doc_id: (r.bloom_hit, r.exact_dup)
        for r in dedup_bloom_probe(spark, SF).collect()
    }
    assert got == exp
    # design bound: with BLOOM_B = 63,488 bits and ~400 base keys the
    # per-probe FPR is ~1e-6; anything near 1% means broken hashing
    fps = sum(1 for h, e in got.values() if h and not e)
    assert fps / len(got) < 0.01, fps


def test_bloom_probe_no_false_negatives_at_sf01(spark):
    """sf0.1 is the scale where exact dups straddle the split: every
    straddling dup MUST come back maybe-seen (Bloom's one guarantee)."""
    from ai_ocr_spark.operators.sketch import dedup_bloom_probe

    got = dedup_bloom_probe(spark, SF01).collect()
    tp = [r for r in got if r.exact_dup]
    assert len(tp) == 3, sorted(r.doc_id for r in tp)
    assert all(r.bloom_hit for r in tp)


def test_bloom_bitmap_is_bounded_and_broadcast(spark):
    """The filter table must stay <= BLOOM_WORDS rows (constant-state
    mergeable sketch) and join the probe side as a broadcast — no
    corpus shuffle for membership, no cartesian anywhere."""
    from ai_ocr_spark.operators.sketch import (
        BLOOM_WORDS,
        _bloom_table,
        dedup_bloom_probe,
    )

    df = dedup_bloom_probe(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    bloom = _bloom_table(spark, SF)
    assert bloom.count() <= BLOOM_WORDS
