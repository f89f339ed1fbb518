"""The bench record's comparison surface — the headline subset is
pinned to real registry specs, ``vs_prev`` is a raw geomean against
the committed baseline, and tools/ab.py's summary step is a pure
function of time_queries' output.  No SparkSession."""

import json
import os

import pytest

import bench
from lofar_bf_pulsar_scripts_spark.registry import HEADLINE_QUERIES, specs
from tools import ab

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_queries_exist_and_are_distinct():
    names = {s.name for s in specs()}
    missing = [n for n in HEADLINE_QUERIES if n not in names]
    assert not missing, missing
    assert len(HEADLINE_QUERIES) == len(set(HEADLINE_QUERIES))
    # "~50 structurally distinct plans" (r11 VERDICT item 8)
    assert 45 <= len(HEADLINE_QUERIES) <= 70


def test_geomean():
    assert abs(bench._geomean([2.0, 0.5]) - 1.0) < 1e-12
    assert abs(bench._geomean([4.0]) - 4.0) < 1e-12


def test_vs_prev_raw_geomean_over_common_queries():
    prev = {"sf": 0.1, "queries": {"a": 1.0, "b": 2.0, "gone": 5.0}}
    now = {"sf": 0.1, "queries": {"a": 2.0, "b": 1.0, "c": 3.0, "new": 9.0}}
    out = bench.vs_prev(prev, now, ["b", "c"])
    # common = {a: 2.0, b: 0.5}; headline subset = {b}
    assert out == {
        "common_queries": 2,
        "raw_geomean_ratio": 1.0,
        "headline_raw_geomean_ratio": 0.5,
    }
    # no common headline query: the headline ratio is absent
    assert "headline_raw_geomean_ratio" not in bench.vs_prev(
        prev, now, ["c"]
    )


def test_vs_prev_none_on_sf_mismatch_or_no_common_query():
    now = {"sf": 0.01, "queries": {"a": 1.0}}
    assert bench.vs_prev({"sf": 0.1, "queries": {"a": 1.0}}, now, []) is None
    assert bench.vs_prev({"sf": 0.01, "queries": {"b": 1.0}}, now, []) is None
    assert bench.vs_prev(None, now, []) is None


def test_print_priority_covers_committed_printed_sets():
    """r15 (VERDICT item 2): the printed bench line must never again
    silently evict queries the driver's series already tracks.  The
    HEADLINE + PRINT_PRIORITY keep-list must cover every query name
    the committed r13 and r14 records printed."""
    from bench import HEADLINE, PRINT_PRIORITY

    keep = set(HEADLINE) | set(PRINT_PRIORITY)
    for rec_name in ("BENCH_r13.json", "BENCH_r14.json"):
        rec = json.load(open(os.path.join(REPO, rec_name)))
        printed = set((rec.get("parsed") or {}).get("queries") or {})
        assert printed <= keep, (rec_name, sorted(printed - keep))


def test_ab_parses_time_queries_output():
    out = "\n".join([
        "lsh_ann_topk                               1.870 s  "
        "(passes: 5.1 1.9 1.87 2.0 1.88)",
        "nope: unknown query",
        "WARN some spark log line 3.0 s",
        f"{'q' * 45} 12.500 s  (passes: 12.5)",
    ])
    assert ab.parse_times(out) == {
        "lsh_ann_topk": 1.87, "nope": "unknown", "q" * 45: 12.5,
    }


def test_ab_compare_median_ratio_and_wins():
    base = [{"q": 2.0}, {"q": 1.0}, {"q": 4.0}]
    head = [{"q": 1.0}, {"q": 1.0}, {"q": 1.5}]
    row = ab.compare("q", base, head)
    assert row["base"] == [2.0, 1.0, 4.0] and row["head"] == [1.0, 1.0, 1.5]
    assert row["ratio"] == pytest.approx(1.0 / 2.0)  # medians 1.0 / 2.0
    assert row["head_wins"] == 2  # the tied round counts for neither


def test_ab_compare_reports_query_missing_on_one_side():
    ok = [{"q": 1.0}] * 3
    row = ab.compare("q", ok, [{"q": 1.0}, {}, {"q": 1.0}])
    assert row["head"] == "failed" and row["base"] == [1.0] * 3
    assert row["ratio"] is None and row["head_wins"] is None
    row = ab.compare("q", [{"q": "unknown"}] * 3, ok)
    assert row["base"] == "unknown" and row["ratio"] is None
