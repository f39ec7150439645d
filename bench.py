"""Benchmark entry for the driver: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the `noop` sink (full execution, no
driver collect). The flagship number is the fused extraction pipeline's
docs/sec, reported alongside per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Timed warm (median of 3) after the flagship; their sum is the headline.
HEADLINE = [
    "q1_pricing_summary",
    "join_customer_orders",
    "join_anti_customers_without_orders",
    "window_top3_events_per_user",
    "events_daily_metrics",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    # dedup_embedding_cosine is deliberately NOT here: it is the
    # O(n^2) exact ground-truth oracle for the LSH path, not a
    # scale-shape query — benching it at full n would publish a
    # nested-loop join as a headline number. The scale path is:
    "dedup_embedding_lsh",
    # r5: SemDeDup over the memoized IVF clusters (within-cluster
    # pairs only — the scale-shaped semantic dedup)
    "dedup_semdedup",
    "dedup_substring_spans",
    "decontam_ngram_overlap",
    # r5: the fuzzy decontamination leg over the shared band index
    "decontam_minhash",
    # r5: the embedding decontamination leg (broadcast bench side)
    "decontam_embedding",
    "sample_domain_cap",
    "dedup_lines_global",
    "filter_bloom_blocklist",
    "ann_cosine_topk",
    "ann_ivf_topk",
    # r5: binary sign-quantization ANN (integer Hamming scan over
    # the memoized 8-byte code table + exact rerank)
    "ann_hamming_topk",
    "text_quality_scores",
    # r5: integer-exact FK readability (scan-speed projection)
    "text_readability",
    "text_langid",
    "text_pii_scrub",
    "quality_filter_gopher",
    # r5: the FineWeb line-structural filters (scan-speed)
    "quality_filter_fineweb",
    "url_canonicalize",
    "join_asof_orders",
    "range_join_event_pairs",
    "sketch_distinct_kmv",
    "sketch_distinct_hll",
    "sketch_heavy_hitters_cms",
    "sample_temperature_mix",
    "dedup_incremental_lsh",
    "agg_length_percentiles",
    "search_keyword_topk",
    "pagerank_link_graph",
    # r5: SALSA hub/authority (two-sided co-partition pin)
    "graph_salsa",
    "sample_stratified_split",
    "sample_pack_sequences",
    "embedding_label_outliers",
    "text_chunk_windows",
    # r4 additions — each timed run re-invokes the query builder, so
    # the in-process iteration loops (bpe_train rounds, kmeans
    # rounds) are INSIDE the timed section, not amortized away
    "search_bm25_topk",
    "quality_perplexity_unigram",
    "quality_perplexity_bigram",
    "quality_perplexity_kn",
    "text_token_entropy",
    "text_langid_ngram",
    "tokenizer_bpe_pairs",
    "tokenizer_bpe_train",
    "tokenizer_bpe_encode",
    "embedding_kmeans",
    "ann_pq_topk",
    "ann_ivf_recall",
    "pipeline_metrics_report",
    "mm_image_features",
    # r5: perceptual image near-dup (decode + integer aHash + one
    # hash-bucket shuffle)
    "mm_image_ahash",
    # r5: the OCR leg (glyph render -> container -> template match),
    # the lexical-x-ANN fusion, and the IVFADC composition (coarse
    # prune + ADC scoring over the probed lists' codes)
    "mm_ocr_text",
    "ann_rrf_hybrid",
    "ann_ivf_pq_topk",
    # r4b: the crawl loop's publish artifacts + the encoding scrub,
    # the robots frontier gate and the re-crawl delta join
    "pipeline_wet_roundtrip",
    "anchor_text_index",
    "text_fix_mojibake",
    "filter_robots_gate",
    "crawl_delta_report",
    "warc_cdx_index",
    "crawl_frontier_topk",
    # r4c: the crawl loop's scheduling + discovery tail and the
    # PSL/registrable-domain projection
    "crawl_schedule_waves",
    "sitemap_discover",
    "url_domain_etld1",
    # r4d: rank fusion over the two lexical rankers (runs both
    # subplans inside the timed section — prices the full fusion),
    # and the incremental index refresh (base build + increment
    # probe + merged-stat serve all inside the timed section)
    "search_rrf_fusion",
    "search_index_refresh",
    "sketch_quantiles_logbin",
    # r5: positional retrieval over the memoized positional index —
    # exact-phrase anchor join + in-window proximity pairs
    "search_phrase_topk",
    "search_proximity_topk",
    # r5: snippet generation — phrase ranking + first-occurrence
    # window + broadcast doc-store lookup, all inside the timed run
    "search_snippet_topk",
    # r5: PMI collocation mining over the one-scan bigram pair table
    "collocations_pmi",
    # r5: Dolma-style Bloom dedup membership — warm probes ride the
    # memoized bit_or bitmap; the exact leg prices the FPR witness
    "dedup_bloom_probe",
    # r5: pseudo-relevance-feedback expansion — runs the BM25
    # ranker inside the timed section, then the feedback-bounded
    # term mining (prices the full two-pass PRF loop)
    "search_query_expansion",
    # r5: SymSpell deletion-neighborhood suggestion — prices the
    # vocab aggregate + deletion-index build + candidate verify
    "search_spell_suggest",
    # r5: degree-oriented triangle closure over the cached
    # orientation (wedge self-join exchange-free on the lo pin)
    "graph_triangle_count",
    # r5: HLL shard-merge witness — three map-side-combinable
    # aggregations, constant state per source
    "sketch_hll_merge_shards",
    # r5: integer-exact Zipf exponent fit — one token shuffle,
    # WindowGroupLimit top-64, constant-state per-source OLS
    "text_zipf_fit",
    # r5: per-doc TF-IDF keyphrases — shared tf shuffle, skew-split
    # tf⋈df join-back, WindowGroupLimit top-5 per doc
    "text_keyphrases",
    # r5: trained-langid confusion matrix — langid plan + one
    # 25-cell aggregate with map-side combine
    "langid_eval_confusion",
    # r5: prefix->top-K completion index — vocab-sized explode,
    # WindowGroupLimit per prefix
    "search_autocomplete",
    # r5: MOSS winnowing fingerprints — zero-shuffle array plan,
    # per-doc rightmost-min window selection
    "text_winnow_fingerprints",
    # r5: winnowing-fingerprint pair join — stop-fingerprint cap
    # bounds every bucket's pair fan-out
    "dedup_winnow_pairs",
    # r5: in-degree power-law fit — pinned-edge aggregate, degree
    # histogram, constant-state global OLS
    "graph_degree_powerlaw",
    # r5: shot-boundary detection — fused decoder mapInPandas,
    # adjacent-frame SAD, no shuffle
    "mm_video_scene_cut",
    # r5: energy-VAD segmentation — fused decoder, windowed
    # energies, rising-edge segments, no shuffle
    "mm_audio_vad",
    # r5: windowed conversion funnel — user-keyed chain, each step
    # joins a user-dimension frame back to one filtered scan
    "events_funnel",
    # r5: weekly retention cohorts — two user-keyed aggregates,
    # calendar-sized matrix
    "events_retention",
    # r5: event-type Markov transitions — one user-keyed lag
    # window, types²-bounded matrix
    "events_markov_transitions",
    # r5 final batch: k-core peel (bounded localCheckpoint rounds
    # over the pinned edge table), theta-sketch intersection
    # (K-row sketches + the exact witness join), MAD anomaly rule
    # (one calendar-sized count + tiny windows)
    "graph_kcore",
    "sketch_kmv_intersect",
    "events_anomaly_mad",
    # r5 final: RFM quintile rollup — one fact-table aggregate,
    # customer-dim windows after
    "rfm_customer_segments",
    # r5 final: rational Newman assortativity (degree agg + two
    # co-partitioned joins + constant-state sums) and the host
    # rollup (two dim joins + one |hosts|²-bounded aggregate)
    "graph_assortativity",
    "graph_host_edges",
    # r5 final: the streaming MAD twin — prices the 3-batch drain
    # + the shared verdict suffix (batch==stream contract)
    "stream_anomaly_mad",
    # r5 final: personalized PageRank — the pagerank plan with a
    # seed-gated teleport; same per-round exchange budget
    "graph_ppr_seeds",
    # r5 final: the theta-algebra completion over the shared
    # memoized sketch parts (K-row pair frames + witness join)
    "sketch_kmv_setops",
]

# Cache-backed operators, also timed once straight after clear_caches()
# (the queries_cold column). Every one is a headline query too.
COLD = [
    "dedup_minhash_lsh",
    "dedup_incremental_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "dedup_substring_spans",
    "ann_ivf_topk",
    "ann_pq_topk",
    # ivfpq cold prices all three builds: IVF index + PQ codebooks
    # + the code-carrying inverted lists
    "ann_ivf_pq_topk",
    # r5: BQ cold prices the sign-code table build + Hamming scan
    "ann_hamming_topk",
    # r5: semdedup cold prices the IVF index build + the
    # within-cluster pair pass
    "dedup_semdedup",
    "filter_bloom_blocklist",
    "sketch_heavy_hitters_cms",
    # r4d memoized indexes: shared ranker postings + corpus stats,
    # the incremental-refresh base postings, the encoded BPE
    # vocabulary, the first-occurrence line index, the LID doc
    # profiles — cold prices each build + first probe honestly
    "search_rrf_fusion",
    "search_index_refresh",
    "tokenizer_bpe_encode",
    "dedup_lines_global",
    "text_langid_ngram",
    # r5: salsa cold prices the pinned two-sided edge index + the
    # full auth power-iteration chain (warm probes recompute only
    # the final hub half-step off the cached auth vector)
    "graph_salsa",
    # r5: phrase cold prices the positional-postings index build
    # (shared with search_proximity_topk) + the anchor-join probe
    "search_phrase_topk",
    # r5: pmi cold prices the bigram pair-table build + the
    # marginal joins and top-K
    "collocations_pmi",
    # r5: bloom cold prices the bit_or bitmap build + first probe
    "dedup_bloom_probe",
    # r5: winnow-pairs cold prices the fingerprint posting index
    # build (the full k-gram winnowing chain) + the pair join
    "dedup_winnow_pairs",
    # r5 final: intersect cold prices the distinct (source, h)
    # shingle-set build + the sketch pairing and exact witness
    "sketch_kmv_intersect",
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def compact_line(timings, total, sf, docs_per_sec) -> str:
    """The one stdout JSON line, guaranteed under the driver's 2000-char
    tail capture (BENCH_r04.json came back parsed:null when the r4 line
    overran it and lost its head, including "value"). A deterministic
    fallback chain trades per-query median precision for line budget —
    the full-precision detail always lives in BENCH/HEADLINE_r5.json —
    and only the last-resort tier drops entries (slowest kept, metric
    says so). Pure function so tests can pin the budget without Spark.
    """

    def _line(ndigits, metric, qdict):
        # ndigits=None -> whole seconds as ints (round(v, 0) still
        # prints "1.0", which saves nothing — the r5 line outgrew the
        # float tiers when the query list passed ~75 entries)
        vals = (
            {k: int(round(v)) for k, v in qdict.items()}
            if ndigits is None
            else {k: round(v, ndigits) for k, v in qdict.items()}
        )
        return json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": vals,
                "sf": sf,
                "docs_per_sec": round(docs_per_sec, 2),
            },
            separators=(",", ":"),
        )

    for ndigits, metric in (
        (2, "median warm wall sec; detail in BENCH/HEADLINE_r5.json"),
        (1, "median warm wall sec; detail in BENCH/HEADLINE_r5.json"),
        (1, "see BENCH/HEADLINE_r5.json"),
        (None, "see BENCH/HEADLINE_r5.json"),
    ):
        line = _line(ndigits, metric, timings)
        if len(line) < 1900:
            return line
    top = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:40])
    return _line(
        None, "slowest 40 of all; full set in BENCH/HEADLINE_r5.json", top
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entrymod
    from ai_ocr_spark.pipeline import extract_pages, pages_from_documents
    from ai_ocr_spark.session import get_spark

    spark = get_spark(app="bench")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    def _timed_samples(run) -> list[float]:
        """Warm once (codegen/JIT + persisted intermediates), then time
        THREE executions and report the median with [min, max] spread.
        A single warm run still swings 2-4x under shared-host noise
        (BENCH_r03 driver read 38.1s vs 17.75s builder on identical
        code); the median of three gives the driver's one invocation a
        stable number, and the spread makes residual noise visible."""
        run()
        samples = []
        for _ in range(3):
            t0 = time.monotonic()
            run()
            samples.append(time.monotonic() - t0)
        samples.sort()
        return samples

    # --- flagship: fused extraction pipeline (docs/sec) -----------------
    pages = pages_from_documents(spark, sf_dir)
    n_docs = pages.count()
    samples = _timed_samples(
        lambda: _materialize(
            extract_pages(pages, run_id="bench", num_partitions=cpus * 2)
        )
    )
    pipe_s = samples[1]
    timings["pipeline_extract"] = round(pipe_s, 3)
    spread["pipeline_extract"] = [round(samples[0], 3), round(samples[2], 3)]
    docs_per_sec = n_docs / pipe_s if pipe_s > 0 else 0.0

    # --- headline relational / training-data queries --------------------
    qs = entrymod.queries()
    missing = [n for n in HEADLINE if n not in qs]
    if missing:  # fail loudly — a silent skip would shrink the total
        raise KeyError(f"headline queries missing from queries(): {missing}")
    for name in HEADLINE:
        fn = qs[name]
        samples = _timed_samples(lambda: _materialize(fn(spark, sf_dir)))
        timings[name] = round(samples[1], 3)
        spread[name] = [round(samples[0], 3), round(samples[2], 3)]

    total = round(sum(timings.values()), 3)

    # --- cold-build column (VERDICT r2 "What's wrong" #3) ---------------
    # The steady-state numbers above price the PROBE with the memoized
    # persisted intermediates (shingle/digest/SRP-signature/IVF-index
    # tables) already hot — defensible because an index is built once
    # and probed many times, but it hides the index-build cost. For
    # each cache-backed operator, one timed run straight after
    # clear_caches() prices build + probe together, reported as
    # "<name>_cold" ALONGSIDE (not inside) the steady-state total.
    from ai_ocr_spark.memo import clear_caches

    cold = {}
    for name in COLD:
        clear_caches(spark)
        t0 = time.monotonic()
        _materialize(qs[name](spark, sf_dir))
        cold[f"{name}_cold"] = round(time.monotonic() - t0, 3)
    clear_caches(spark)

    # --- emit: compact stdout line + full committed detail file ---------
    # The driver records only the LAST 2000 chars of bench output
    # (BENCH_r04.json came back parsed:null because the r4 line — long
    # metric string + inline spread/cold dicts — overran that window and
    # lost its head, including "value"). The stdout line therefore stays
    # COMPACT and asserted < 1900 chars: short metric, median-only
    # queries dict, tight separators. Spread, cold column, n_docs, cpus
    # and the full methodology note live in BENCH/HEADLINE_r5.json,
    # written here and committed in-repo for the judge.
    detail = {
        "metric": (
            "total steady-state headline query wall time, per-query MEDIAN"
            " of 3 warm runs (spread = [min,max] per query), memoized index"
            " tables hot (flagship: fused extraction pipeline docs/sec at"
            " the median); queries_cold = same op timed once immediately"
            " after clear_caches, pricing index build + probe"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "queries_cold": cold,
        "sf": sf,
        "docs_per_sec": round(docs_per_sec, 2),
        "n_docs": n_docs,
        "cpus": cpus,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "HEADLINE_r5.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench line

    line = compact_line(timings, total, sf, docs_per_sec)
    assert len(line) < 1900, f"bench line {len(line)} chars >= 1900"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
