"""Round-13: plan-shape guards for the most expensive headline
queries (r12 VERDICT item 4).  The lake-layout tests already pin
PartitionFilters / zero-Exchange for the at-rest stores; these pin
the JOIN/EXCHANGE shape of the top headline plans, so a plan
regression — a lost broadcast, a new shuffle, a cross join — fails a
test instead of surfacing as bench drift a round later (exactly the
class the r12 contraction-probe SMJ was caught by hand).

Counts come from the SIMPLE-mode physical plan (one line per op; the
formatted mode prints every op twice).  Bounds are pinned AT the
r13-measured values on sf0.001: an improvement lowers a count and the
pin should be re-tightened; a regression raises one and must be
explained or fixed.  `min_broadcast` is the floor of Broadcast*Join
ops — a broadcast that degrades to SortMergeJoin trips BOTH bounds.
The meta-test at the bottom proves the machinery detects an
artificially lowered auto-broadcast threshold."""

import contextlib
import io
import re

import pytest

from lofar_bf_pulsar_scripts_spark import registry
from lofar_bf_pulsar_scripts_spark.registry import load_table

SF_DIR = "/root/testdata/sf0.001"
_SPECS = {s.name: s for s in registry._SPECS}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _counts(plan: str) -> dict:
    return {
        "exchange": len(re.findall(r"\bExchange\b", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "broadcast_joins": len(re.findall(r"Broadcast\w*Join", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


# (max_exchange, max_smj, min_broadcast) — r13 pins at sf0.001.
# training_data_pipeline's 12 SMJs are the LSH band self-joins and
# doc-scale co-joins (big-big by design); everything else is
# broadcast-or-local.
GUARDS = {
    "forget_documents_stores": (0, 0, 0),
    # r14 re-tighten: the inline gopher filter (keep_text=True)
    # removed the pass_ids semi-join from every consumer of `passing`
    # and from the flagged funnel join — 44 -> 34 Exchanges, 8 joins
    # gone (19 -> 11 broadcasts, all eliminated not flipped: SMJ
    # count unchanged)
    "training_data_pipeline": (34, 12, 11),
    # r14 re-tighten: the driver-side-LUT probe rewrite (wave 18)
    # dropped trained_ivf_pq_rerank_top3 6->3 Exchanges and
    # trained_pq_adc_top3 3->2
    "trained_pq_adc_top3": (2, 0, 1),
    "trained_ivf_pq_rerank_top3": (3, 0, 3),
    "delete_closure_ids": (6, 0, 2),
    "dup_clusters": (0, 0, 0),
    "near_dedup_pipeline": (3, 1, 0),
    "hybrid_rrf_search": (14, 0, 5),
    # r14 re-tighten: the size-adaptive rank (bucket_min_rows) sends
    # fixture/bench-scale inputs to the window form — 1 Exchange, no
    # broadcast offset dimension (the bucketed shape only appears
    # above 2M input rows, where it pays)
    "qq_normalize_stats": (1, 0, 0),
    "quality_dedup_keep": (4, 1, 2),
    # r15 re-pin 2 -> 5: the persisted (DISK_ONLY) hash proxy prints
    # its CACHED plan subtree (scan + spread exchange) under BOTH
    # self-join branches, and the spread_small_scan round-robin adds
    # one real exchange — the cached subtree executes ONCE (populated
    # eagerly at build), so the physical shuffle count is unchanged
    # +1 spread; the textual count is 5
    "image_phash_pairs": (5, 0, 1),
    # re-pin 11 -> 4 Exchanges, 6 -> 3 broadcasts: ivf_assign's
    # numpy pass replaced its BroadcastNestedLoopJoin (planned twice,
    # the corpus feeds both the ADC tier and the rerank) and the
    # driver-side probe selection replaced the query x centroid
    # crossJoin + window
    "ivf_pq_rerank_top3": (4, 0, 3),
    "incremental_components": (3, 0, 2),
    "lta_superquery_manifest": (6, 0, 3),
}


@pytest.mark.parametrize("name", sorted(GUARDS))
def test_plan_guard(spark, name):
    max_exchange, max_smj, min_broadcast = GUARDS[name]
    df = _SPECS[name].spark_fn(spark, SF_DIR)
    c = _counts(_plan(df))
    assert c["cartesian"] == 0, (name, c)
    assert c["exchange"] <= max_exchange, (name, c)
    assert c["smj"] <= max_smj, (name, c)
    assert c["broadcast_joins"] >= min_broadcast, (name, c)


def test_guard_machinery_detects_lost_broadcast(spark):
    """Self-test: disabling the auto-broadcast threshold must flip a
    size-estimated dim join from Broadcast*Join to SortMergeJoin and
    the counters must see it — proof the guards above would fail on
    the regression class they exist for."""
    o = load_table(spark, "orders", SF_DIR)
    c = load_table(spark, "customer", SF_DIR)
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    before = _counts(_plan(j))
    assert before["broadcast_joins"] >= 1, before
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        after = _counts(_plan(
            o.join(c, o["o_custkey"] == c["c_custkey"])
        ))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert after["broadcast_joins"] == 0, after
    assert after["smj"] >= 1, after
    assert after["exchange"] > before["exchange"], (before, after)
