"""Continuous guard for the duplicated-shuffle class (r10 verdict
item 8): the full registry-wide audit (tools/reuse_audit.py) runs
per-round; this marked-slow test keeps a REPRESENTATIVE subset under
pytest so a new duplicate exchange in the most at-risk families fails
the suite the day it is introduced, not at round close.

The class: a query deriving a per-key aggregate AND a 1-row total (or
any two branches) from one subtree should pay ONE fact scan + shuffle;
AQE inserts ReusedExchange only when the two exchange subtrees
canonicalize identically, and a stray isnotnull/projection difference
silently doubles the fact pipeline (the broken-q15 shape, invisible to
result tests and pre-execution plans)."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.reuse_audit import (  # noqa: E402
    drain_plans,
    exchange_fingerprints,
    execution_mark,
)

SF_SMALL = "/root/testdata/sf0.001"

# Most at-risk families: the broadcast-total idiom (q11/q15/q22 — the
# audit's motivating bug), multi-branch aggregates, a salted join, and
# two streaming stateful plans (a duplicated shuffle there repeats
# EVERY trigger; AQE never inserts ReusedExchange in stateful
# streaming plans, so nothing rescues it at runtime).
REPRESENTATIVE = [
    "q11_important_stock",
    "q15_top_supplier",
    "q22_sales_opportunity",
    "agg_heavy_hitters",
    "join_salted_skew",
    "pipeline_snapshot_diff",
    "streaming_stateful_totals",
    "streaming_tumbling_hour",
]


@pytest.mark.slow
@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_no_duplicated_exchange_subtrees(spark, name):
    from datafusion_streams_spark.operators import REGISTRY

    mark = execution_mark(spark)
    df = REGISTRY[name].fn(spark, SF_SMALL)
    df.collect()
    plans = [df._jdf.queryExecution().executedPlan().toString()]
    stream_plans = drain_plans(spark, mark)
    if name.startswith("streaming_"):
        assert stream_plans, f"{name}: no micro-batch plan in the status store"
    plans += stream_plans
    for plan in plans:
        final = plan.split("== Initial Plan ==")[0]
        counts = Counter(exchange_fingerprints(final))
        dups = {fp.splitlines()[0][:110]: n for fp, n in counts.items() if n > 1}
        assert not dups, f"{name}: duplicated shuffle subtrees: {dups}"


@pytest.mark.slow
def test_every_streaming_query_leaves_one_plan(spark):
    """The audit fingerprints every streaming query, not only those
    that drain through ``streaming.microbatch.drain``:
    ``streaming_checkpoint_recovery`` starts its own query twice on one
    checkpoint and counts once, by its checkpoint's id."""
    from datafusion_streams_spark.operators import REGISTRY

    names = [n for n in REGISTRY if n.startswith("streaming_")]
    plans = {}
    for name in names:
        mark = execution_mark(spark)
        REGISTRY[name].fn(spark, SF_SMALL).collect()
        plans[name] = len(drain_plans(spark, mark))
    assert len(names) == 24
    assert plans == dict.fromkeys(names, 1), plans
