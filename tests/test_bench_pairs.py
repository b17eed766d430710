"""The claim rule of tools/bench_pairs.py on made-up paired runs."""

from tools.bench_pairs import _seeds, summarize

E2E = [{"name": "docs_per_s", "better": "higher"},
       {"name": "peak_rss_mb", "better": "lower"}]


def _pairs(parent, change, metric="docs_per_s"):
    return [({"metrics": {metric: p, "peak_rss_mb": 100.0}},
             {"metrics": {metric: c, "peak_rss_mb": 100.0}})
            for p, c in zip(parent, change)]


def test_seed_ranges():
    assert _seeds("61..64") == [61, 62, 63, 64]
    assert _seeds("7") == [7]


def test_claim_needs_nine_tenths_wins_and_gap_over_parent_iqr():
    parent = [100.0, 102, 98, 101, 99, 100, 103, 97, 100, 101]
    s = summarize(_pairs(parent, [p + 20 for p in parent]), E2E)
    assert s["docs_per_s"]["wins"] == 10
    assert s["docs_per_s"]["claim_holds"]
    # ties count for neither side
    assert s["peak_rss_mb"]["wins"] == 0
    assert not s["peak_rss_mb"]["claim_holds"]

    # 8/10 wins: no claim, however large the gap
    change = [p + 20 for p in parent[:8]] + [p - 1 for p in parent[8:]]
    assert not summarize(_pairs(parent, change), E2E)[
        "docs_per_s"]["claim_holds"]

    # 10/10 wins by less than the parent's interquartile range: no claim
    wide = [80.0, 120, 90, 110, 85, 115, 95, 105, 100, 100]
    s = summarize(_pairs(wide, [p + 1 for p in wide]), E2E)
    assert s["docs_per_s"]["wins"] == 10
    assert not s["docs_per_s"]["claim_holds"]


def test_lower_is_better_metric_wins_when_it_drops():
    e2e = [{"name": "cpu_s_per_kdoc", "better": "lower"}]
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.0, 10.1, 9.9]
    pairs = _pairs(parent, [p - 3 for p in parent], "cpu_s_per_kdoc")
    s = summarize(pairs, e2e)["cpu_s_per_kdoc"]
    assert s["wins"] == 10 and s["claim_holds"]
    assert s["change"][1] < s["parent"][1]
