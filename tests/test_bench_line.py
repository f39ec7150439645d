"""The bench stdout line must stay under the driver's 2000-char tail
capture at every realistic query-list size — BENCH_r04.json was lost to
this (parsed:null), and the r5 list at ~78 entries outgrew the original
float-precision fallback tiers. Pure-function pins, no Spark."""

import json

import __spark_entry__ as em
from bench import COLD, HEADLINE, compact_line


def _fake_timings(n):
    # realistic name lengths (the current list averages ~19 chars) and
    # mixed magnitudes so rounding tiers actually differ
    return {
        f"operator_family_{i:02d}_variant_name": 0.123 + (i % 7) * 1.234
        for i in range(n)
    }


def test_line_under_budget_at_current_and_future_sizes():
    for n in (60, 78, 90, 120, 200):
        t = _fake_timings(n)
        line = compact_line(t, round(sum(t.values()), 3), 0.1, 4321.09)
        assert len(line) < 1900, (n, len(line))


def test_line_is_parseable_json_with_contract_keys():
    t = _fake_timings(78)
    d = json.loads(compact_line(t, 99.9, 0.1, 1234.5))
    for key in ("metric", "value", "unit", "queries", "sf", "docs_per_sec"):
        assert key in d
    assert d["unit"] == "sec" and d["value"] == 99.9
    assert len(d["queries"]) > 0


def test_emergency_tier_keeps_the_slowest_and_says_so():
    t = _fake_timings(200)
    d = json.loads(compact_line(t, 123.4, 0.1, 1000.0))
    if len(d["queries"]) < len(t):  # emergency tier fired
        assert "slowest" in d["metric"]
        kept = set(d["queries"])
        slowest = {
            k for k, _ in sorted(t.items(), key=lambda kv: -kv[1])[:40]
        }
        assert kept == slowest


def test_bench_query_lists_name_real_queries():
    """A renamed or dropped operator fails here, not minutes into a bench
    run. No Spark: only the operator table is read."""
    names = set(em.queries())
    assert [n for n in HEADLINE + COLD if n not in names] == []
    assert len(set(HEADLINE)) == len(HEADLINE)
    assert len(set(COLD)) == len(COLD)
    assert set(COLD) <= set(HEADLINE)
