"""Final r5 trio: k-core peel, KMV theta-sketch intersection, MAD
anomaly rule. Each operator is pinned against an independent Python
replay of its full semantics (same style as the funnel/retention
pins), and each measured constant is asserted non-degenerate — the
peel removes nodes AND keeps a core, the sketches saturate AND the
witness exposes real estimation error, the Hampel threshold fires AND
leaves quiet days.
"""

import collections

SF = "/root/testdata/sf0.001"


# --- graph_kcore --------------------------------------------------------


def _python_kcore(spark):
    from ai_ocr_spark.operators.graph import KCORE_K, PR_FANOUT

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    n = len(ids)
    und = set()
    for d in ids:
        for j in range(1, PR_FANOUT + 1):
            dst = (d * d + j * 31 + 7) % n
            if dst != d:
                und.add((min(d, dst), max(d, dst)))
    edges = list(und)
    alive = {v for e in edges for v in e}
    peel, r = {}, 0
    while True:
        r += 1
        deg = collections.Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        bad = {v: deg.get(v, 0) for v in alive if deg.get(v, 0) < KCORE_K}
        if not bad:
            break
        for v, d in bad.items():
            peel[v] = (r, d)
        alive -= set(bad)
        edges = [(a, b) for a, b in edges if a in alive and b in alive]
    deg = collections.Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    exp = {v: (0, deg.get(v, 0), True) for v in alive}
    exp.update({v: (rr, d, False) for v, (rr, d) in peel.items()})
    return exp, r - 1


def test_kcore_matches_python_replay(spark):
    from ai_ocr_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        graph_kcore,
    )

    exp, rounds = _python_kcore(spark)
    rows = graph_kcore(spark, SF).collect()
    got = {r.doc_id: (r.peel_round, r.deg_at_peel, r.in_core) for r in rows}
    assert got == exp
    # the peel must converge inside the oracle's fixed unroll, with
    # margin (extra unrolled rounds are no-ops, missing ones are not)
    assert rounds < KCORE_ROUNDS
    # non-degenerate at this SF: nodes peel away AND a core survives
    n_core = sum(1 for v in got.values() if v[2])
    assert 0 < n_core < len(got)
    # the k-core invariant: every survivor keeps degree >= k inside
    # the core; every peeled node was flagged below k
    assert all(d >= KCORE_K for _, d, c in got.values() if c)
    assert all(d < KCORE_K for _, d, c in got.values() if not c)


def test_kcore_peel_rounds_monotone(spark):
    """A node peeled in round r+1 was above the bar in round r — round
    labels are the peel ordering, not arbitrary tags."""
    from ai_ocr_spark.operators.graph import graph_kcore

    rows = graph_kcore(spark, SF).collect()
    by_round = collections.Counter(
        r.peel_round for r in rows if not r.in_core
    )
    rounds = sorted(by_round)
    assert rounds == list(range(1, len(rounds) + 1))  # no gaps
    assert all(by_round[r] > 0 for r in rounds)


def test_kcore_raises_when_the_unroll_stops_short(spark, monkeypatch):
    """With KCORE_ROUNDS below the fixture's peel depth the DuckDB
    twin would stop mid-peel; the Spark side must raise, not return a
    frame that silently differs from it."""
    import pytest

    from ai_ocr_spark.operators import graph

    _, rounds = _python_kcore(spark)
    assert rounds >= 1
    monkeypatch.setattr(graph, "KCORE_ROUNDS", rounds - 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        graph.graph_kcore(spark, SF)


# --- sketch_kmv_intersect ----------------------------------------------


def _python_kmv_intersect(spark):
    import hashlib

    from ai_ocr_spark.operators.sketch import KMV_I_K

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    sets: dict[str, set] = collections.defaultdict(set)
    for r in docs:
        toks = " ".join((r.text or "").lower().split()).split(" ")
        for i in range(len(toks) - 2):
            sh = " ".join(toks[i : i + 3])
            h = int(hashlib.md5(sh.encode()).hexdigest()[:15], 16)
            sets[r.source].add(h)
    theta = {}
    ret = {}
    for s, hs in sets.items():
        top = sorted(hs)[:KMV_I_K]
        th = (1 << 60) if len(top) < KMV_I_K else top[-1]
        theta[s] = (len(top), th)
        ret[s] = {h for h in top if h < th}
    exp = {}
    for sa in sets:
        for sb in sets:
            if sa >= sb:
                continue
            th = min(theta[sa][1], theta[sb][1])
            common = len(ret[sa] & ret[sb])
            exp[(sa, sb)] = (
                theta[sa][0],
                theta[sb][0],
                th,
                common,
                round(common * float(1 << 60) / float(th), 4),
                len(sets[sa] & sets[sb]),
            )
    return exp


def test_kmv_intersect_matches_python_replay(spark):
    from ai_ocr_spark.operators.sketch import (
        KMV_I_K,
        sketch_kmv_intersect,
    )

    exp = _python_kmv_intersect(spark)
    rows = sketch_kmv_intersect(spark, SF).collect()
    got = {
        (r.src_a, r.src_b): (
            r.k_a,
            r.k_b,
            r.theta,
            r.common,
            r.est_inter,
            r.n_exact_inter,
        )
        for r in rows
    }
    assert set(got) == set(exp)
    for k in exp:
        ga, ea = got[k], exp[k]
        assert ga[:4] == ea[:4], (k, ga, ea)
        assert ga[5] == ea[5], (k, ga, ea)
        assert abs(ga[4] - ea[4]) < 1e-6, (k, ga, ea)
    # the sketches must genuinely saturate at this SF (otherwise the
    # theta estimator degenerates to the exact count and the operator
    # tests nothing)
    assert all(ka == KMV_I_K and kb == KMV_I_K for ka, kb, *_ in got.values())
    # the witness exposes real estimation error somewhere, and the
    # estimator is not wildly off everywhere: on average within 2x
    errs = [
        abs(est - exact) / max(exact, 1)
        for *_, est, exact in got.values()
    ]
    assert any(e > 0 for e in errs)
    assert sum(errs) / len(errs) < 1.0


# --- events_anomaly_mad -------------------------------------------------


def _python_anomaly(spark):
    from ai_ocr_spark.operators.temporal import ANOMALY_MAD_MULT

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr("event_type", "date_format(ts, 'yyyy-MM-dd') AS day")
        .collect()
    )
    cnt = collections.Counter((r.event_type, r.day) for r in rows)
    by_type: dict[str, dict] = collections.defaultdict(dict)
    for (t, d), n in cnt.items():
        by_type[t][d] = n
    exp = {}
    for t, days in by_type.items():
        items = sorted(days.items(), key=lambda kv: (kv[1], kv[0]))
        nd = len(items)
        med = items[(nd + 1) // 2 - 1][1]
        ads = sorted(
            (abs(n - med), d) for d, n in days.items()
        )
        mad = ads[(nd + 1) // 2 - 1][0]
        for d, n in days.items():
            ad = abs(n - med)
            exp[(t, d)] = (
                n,
                med,
                mad,
                (1_000_000 * ad) // max(mad, 1),
                ad > ANOMALY_MAD_MULT * mad,
            )
    return exp


def test_anomaly_mad_matches_python_replay(spark):
    from ai_ocr_spark.operators.temporal import events_anomaly_mad

    exp = _python_anomaly(spark)
    rows = events_anomaly_mad(spark, SF).collect()
    got = {
        (r.event_type, r.day): (r.n, r.med, r.mad, r.rz_e6, r.is_anomaly)
        for r in rows
    }
    assert got == exp
    # the threshold bites without flagging everything: anomalies exist
    # (across types), quiet days exist IN EVERY type
    flags = collections.defaultdict(list)
    for (t, _), (*_, a) in got.items():
        flags[t].append(a)
    assert sum(any(v) for v in flags.values()) >= 3
    assert all(not all(v) for v in flags.values())
    # robust centre: the median day is never its own anomaly
    assert all(
        not a for (n, med, *_, a) in got.values() if n == med
    )


def test_stream_anomaly_matches_batch(spark):
    """The streaming twin must equal the batch op ROW-FOR-ROW over the
    same events — the cross-batch complete-mode state merge is the only
    delta, so any drop/double-count shifts a count and breaks this."""
    from ai_ocr_spark.operators.temporal import events_anomaly_mad
    from ai_ocr_spark.streaming.windows import stream_anomaly_mad

    batch = {
        (r.event_type, r.day): (r.n, r.med, r.mad, r.rz_e6, r.is_anomaly)
        for r in events_anomaly_mad(spark, SF).collect()
    }
    streamed = {
        (r.event_type, r.day): (r.n, r.med, r.mad, r.rz_e6, r.is_anomaly)
        for r in stream_anomaly_mad(spark, SF).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_rfm_matches_python_replay(spark):
    """Full Python replay of the RFM rollup: per-customer metrics,
    rank-with-tie-sharing quintile scores, segment labels. Also pins
    that every lifecycle segment actually fires at this SF and that
    tied metric values always share a score."""
    import datetime

    from ai_ocr_spark.operators.relational import rfm_customer_segments

    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .selectExpr(
            "o_custkey", "CAST(o_orderdate AS DATE) AS d", "o_totalprice"
        )
        .collect()
    )
    import decimal

    per = collections.defaultdict(lambda: [datetime.date.min, 0, decimal.Decimal(0)])
    refd = max(r.d for r in orders)
    for r in orders:
        c = per[r.o_custkey]
        c[0] = max(c[0], r.d)
        c[1] += 1
        c[2] += decimal.Decimal(str(r.o_totalprice))
    n = len(per)
    cust = {
        k: (
            (refd - v[0]).days,
            v[1],
            float(round(v[2], 2)),
        )
        for k, v in per.items()
    }

    def ranks(vals, reverse):
        order = sorted(set(vals), reverse=reverse)
        below = {}
        seen = 0
        for v in order:
            below[v] = seen + 1
            seen += sum(1 for x in vals if x == v)
        return below

    rs = ranks([v[0] for v in cust.values()], reverse=False)
    fs = ranks([v[1] for v in cust.values()], reverse=True)
    ms = ranks([v[2] for v in cust.values()], reverse=True)
    exp = {}
    for k, (rec, freq, mon) in cust.items():
        r_s = 5 - ((rs[rec] - 1) * 5) // n
        f_s = 5 - ((fs[freq] - 1) * 5) // n
        m_s = 5 - ((ms[mon] - 1) * 5) // n
        if r_s >= 4 and f_s >= 4:
            seg = "champion"
        elif r_s >= 4 and f_s <= 2:
            seg = "new_or_returning"
        elif r_s <= 2 and f_s >= 3:
            seg = "at_risk"
        elif r_s <= 2 and f_s <= 2:
            seg = "hibernating"
        else:
            seg = "steady"
        exp[k] = (rec, freq, mon, r_s, f_s, m_s, seg)
    rows = rfm_customer_segments(spark, SF).collect()
    got = {
        r.custkey: (
            r.recency_days,
            r.frequency,
            r.monetary,
            r.r_score,
            r.f_score,
            r.m_score,
            r.segment,
        )
        for r in rows
    }
    assert got == exp
    segs = {v[6] for v in got.values()}
    assert segs == {
        "champion",
        "new_or_returning",
        "at_risk",
        "hibernating",
        "steady",
    }
    # tie-sharing invariant: same frequency value -> same f_score
    by_freq = collections.defaultdict(set)
    for _, f, _, _, fsc, _, _ in got.values():
        by_freq[f].add(fsc)
    assert all(len(s) == 1 for s in by_freq.values())


def test_assortativity_matches_python_replay(spark):
    """Independent replay of the full rational Newman coefficient:
    synthetic edge rule -> undirected degrees -> symmetric sums ->
    sign-split e6 division. Also pins the graph's measured
    disassortativity (hub-leaf structure, like the real web)."""
    from ai_ocr_spark.operators.graph import PR_FANOUT, graph_assortativity

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    n = len(ids)
    und = set()
    for d in ids:
        for j in range(1, PR_FANOUT + 1):
            dst = (d * d + j * 31 + 7) % n
            if dst != d:
                und.add((min(d, dst), max(d, dst)))
    deg = collections.Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    m2 = 2 * len(und)
    sx = sum(deg[a] + deg[b] for a, b in und)
    sxy = 2 * sum(deg[a] * deg[b] for a, b in und)
    sxx = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in und)
    num = m2 * sxy - sx * sx
    den = m2 * sxx - sx * sx
    q = (1_000_000 * abs(num)) // den
    exp = (len(und), sx, sxy, sxx, -q if num < 0 else q)
    row = graph_assortativity(spark, SF).collect()
    assert len(row) == 1
    r = row[0]
    assert (r.n_edges, r.sx, r.sxy, r.sxx, r.r_e6) == exp
    assert r.r_e6 < 0  # hub-leaf disassortativity, by construction


def test_host_edges_matches_python_replay(spark):
    """Replay the host rollup: per directed doc edge, endpoint host
    attribution, pair weights, distinct linking docs. Pins that the
    rollup genuinely compresses (host pairs << doc edges) and that
    self-loop host pairs exist (intra-host linking)."""
    from ai_ocr_spark.operators.graph import PR_FANOUT, graph_host_edges

    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    )
    host = {r.doc_id: r.source for r in rows}
    n = len(rows)
    agg = collections.defaultdict(lambda: [0, set()])
    n_edges = 0
    for d in host:
        dsts = set()
        for j in range(1, PR_FANOUT + 1):
            dst = (d * d + j * 31 + 7) % n
            if dst != d:
                dsts.add(dst)
        for dst in dsts:
            k = (host[d], host[dst])
            agg[k][0] += 1
            agg[k][1].add(d)
            n_edges += 1
    exp = {k: (v[0], len(v[1]), k[0] == k[1]) for k, v in agg.items()}
    got = {
        (r.src_host, r.dst_host): (r.n_links, r.n_src_docs, r.self_loop)
        for r in graph_host_edges(spark, SF).collect()
    }
    assert got == exp
    assert len(got) < n_edges / 5  # genuine compression
    assert any(sl for *_, sl in got.values())


def test_ppr_matches_python_replay(spark):
    """Replay the full personalized power iteration in Python and pin
    the personalization itself: seed teleport only, mass visibly
    concentrated (nodes outside the seeds' forward cone hold EXACT 0,
    which global PageRank never does — its teleport pays everyone)."""
    from ai_ocr_spark.operators.graph import (
        PPR_SEED_MOD,
        PR_BASE,
        PR_FANOUT,
        PR_ITERS,
        PR_UNIT,
        graph_ppr_seeds,
    )

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    n = len(ids)
    adj, outdeg = [], collections.Counter()
    for d in ids:
        dsts = set()
        for j in range(1, PR_FANOUT + 1):
            dst = (d * d + j * 31 + 7) % n
            if dst != d:
                dsts.add(dst)
        for dst in dsts:
            adj.append((d, dst))
            outdeg[d] += 1
    rnk = {d: (PR_UNIT if d % PPR_SEED_MOD == 0 else 0) for d in ids}
    for _ in range(PR_ITERS):
        c = collections.Counter()
        for s, d in adj:
            c[d] += (rnk[s] * 85) // (100 * outdeg[s])
        rnk = {
            d: (PR_BASE if d % PPR_SEED_MOD == 0 else 0) + c.get(d, 0)
            for d in ids
        }
    rows = graph_ppr_seeds(spark, SF).collect()
    got = {r.doc_id: (r.rnk, r.is_seed) for r in rows}
    exp = {d: (rnk[d], d % PPR_SEED_MOD == 0) for d in ids}
    assert got == exp
    zeros = sum(1 for v, _ in got.values() if v == 0)
    assert zeros > 0  # personalization: unreachable nodes hold exact 0
    assert any(s for _, s in got.values())
    # seeds hold teleport mass by construction
    assert all(v > 0 for v, s in got.values() if s)


def test_kmv_setops_matches_python_replay(spark):
    """Replay union/aNotB theta algebra in Python and pin the exact
    sample-count identity (common + anotb + bnota == union) plus the
    inclusion-exclusion witnesses."""
    import hashlib

    from ai_ocr_spark.operators.sketch import KMV_I_K, sketch_kmv_setops

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    sets = collections.defaultdict(set)
    for r in docs:
        toks = " ".join((r.text or "").lower().split()).split(" ")
        for i in range(len(toks) - 2):
            h = int(
                hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[
                    :15
                ],
                16,
            )
            sets[r.source].add(h)
    theta, ret = {}, {}
    for s, hs in sets.items():
        top = sorted(hs)[:KMV_I_K]
        th = (1 << 60) if len(top) < KMV_I_K else top[-1]
        theta[s] = th
        ret[s] = {h for h in top if h < th}
    exp = {}
    for sa in sets:
        for sb in sets:
            if sa >= sb:
                continue
            th = min(theta[sa], theta[sb])
            ra = {h for h in ret[sa] if h < th}
            rb = {h for h in ret[sb] if h < th}
            sc = float(1 << 60) / float(th)
            ni = len(sets[sa] & sets[sb])
            exp[(sa, sb)] = (
                th,
                len(ra | rb),
                round(len(ra | rb) * sc, 4),
                len(ra - rb),
                round(len(ra - rb) * sc, 4),
                len(rb - ra),
                round(len(rb - ra) * sc, 4),
                True,  # identity holds by set algebra
                len(sets[sa]) + len(sets[sb]) - ni,
                len(sets[sa]) - ni,
                len(sets[sb]) - ni,
            )
    rows = sketch_kmv_setops(spark, SF).collect()
    got = {
        (r.src_a, r.src_b): (
            r.theta,
            r.union_samples,
            r.union_est,
            r.anotb_samples,
            r.anotb_est,
            r.bnota_samples,
            r.bnota_est,
            r.identity_ok,
            r.n_exact_union,
            r.n_exact_anotb,
            r.n_exact_bnota,
        )
        for r in rows
    }
    assert set(got) == set(exp)
    for k in exp:
        ga, ea = got[k], exp[k]
        for i in (0, 1, 3, 5, 7, 8, 9, 10):
            assert ga[i] == ea[i], (k, i, ga[i], ea[i])
        for i in (2, 4, 6):
            assert abs(ga[i] - ea[i]) < 1e-6, (k, i)
    assert all(v[7] for v in got.values())  # the algebra identity bit
    # differences are genuinely asymmetric somewhere (real structure)
    assert any(v[3] != v[5] for v in got.values())
