#!/usr/bin/env python3
"""Registry-wide exchange-reuse audit (r10).

The q15 lesson: a query that computes a per-key aggregate AND a
derived 1-row total in one DAG should pay ONE fact scan + shuffle —
AQE's stage cache inserts a ReusedExchange when (and only when) the
two exchange subtrees canonicalize identically. q15's supplier
equi-join pushed an isnotnull below the agg on one branch only, the
subtrees stopped matching, and the fact pipeline silently ran twice.
That class is invisible to result tests and to pre-execution plans
(ReusedExchange only appears in the EXECUTED plan).

This audit runs EVERY registered query at sf0.001 and fingerprints
each shuffle exchange (normalized argument + normalized subtree) in:
(a) the final adaptive plan of the returned batch DataFrame, and
(b) every micro-batch physical plan the query executed along the way
— the drain runner logs them via
``streaming.microbatch.PLAN_LOG`` when this audit installs a list, so
streaming-tagged queries and batch queries that drain an internal
stream are covered too (a duplicated shuffle in a streaming plan
repeats EVERY trigger — strictly worse than the batch class; and AQE
never inserts ReusedExchange in stateful streaming plans, so nothing
rescues it at runtime). Any plan containing two IDENTICAL
fingerprints — the same data shuffled twice with no reuse — flags.
Plain duplicate *scans* of a table are NOT flagged: two scans with
different pushed filters/columns are usually cheaper than
scan-once-reuse at 100 TB (pushdown wins), and the suite's plan tests
cover pushdown.

    cd /tmp && python /root/repo/tools/reuse_audit.py   # one JSON line

Clean output = {"flagged": {}}. Expected cadence: after any change to
a query that derives multiple aggregates from one subtree. r10 HEAD:
0 flagged across all 262 queries (238 batch final plans + the
captured streaming micro-batch plans; the executed-plan reuse test in
tests/test_plans.py pins the two known broadcast-total queries — this
sweep catches NEW instances).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _node_col(line: str) -> int:
    """Column where the node TEXT starts — i.e. past the tree glyphs
    (spaces, ':', '+', '-'). The codegen prefix '*(n)' is part of the
    node text, NOT indentation: lstrip'ping '*' and '(' made siblings
    of an exchange look deeper than it and absorbed them into its
    fingerprint (caught by the r10 review)."""
    for i, ch in enumerate(line):
        if ch not in " :+-":
            return i
    return len(line)


def exchange_fingerprints(final_plan: str) -> list[str]:
    """One fingerprint per shuffle exchange: the exchange node plus its
    subtree, rendered DEPTH-RELATIVE — each line becomes
    '<depth-delta>:<node text>' so the same duplicated subtree at two
    different tree depths (exactly the broken-q15 shape) still compares
    equal; the original raw-prefix fingerprints never matched across
    depths and the audit was blind to its own motivating bug (caught
    by the r10 review, verified on synthetic plans in
    tests/test_conventions.py). Expr ids / plan ids / codegen stage
    ids are normalized away; ReusedExchange LEAVES are skipped — their
    rendering embeds the reused exchange's own 'Exchange hash...'
    text, and two same-depth references to one exchange are perfect
    reuse, not a duplicate shuffle. All four exchange kinds are
    matched, including RoundRobinPartitioning (repartition(n) /
    catalog.spread) — previously invisible (r10 ADVICE)."""
    lines = final_plan.splitlines()
    fps = []
    for i, line in enumerate(lines):
        if "ReusedExchange" in line:
            continue
        if not re.search(
            r"Exchange (hashpartitioning|rangepartitioning|SinglePartition"
            r"|RoundRobinPartitioning)",
            line,
        ):
            continue
        col = _node_col(line)
        sub = [f"0:{line[col:]}"]
        # walk until indentation closes — NO fixed line cap: a 40-line
        # cap silently truncated deep subtrees, so two DIFFERENT
        # exchanges sharing a 40-line prefix compared equal (r10
        # ADVICE). Plans are bounded, so the full walk is cheap.
        for j in range(i + 1, len(lines)):
            nxt = lines[j]
            ncol = _node_col(nxt)
            if ncol <= col:
                break
            sub.append(f"{ncol - col}:{nxt[ncol:]}")
        fp = re.sub(r"#\d+[A-Za-z]*", "#", "\n".join(sub))
        fp = re.sub(r"plan_id=\d+", "plan_id=", fp)
        fp = re.sub(r"\*\(\d+\)", "*", fp)
        fps.append(fp)
    return fps


def main() -> int:
    from datafusion_streams_spark import get_session
    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.streaming import microbatch as mb

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    spark = get_session(app_name="reuse-audit", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")

    flagged: dict[str, object] = {}
    plan_gaps: dict[str, int] = {}
    n_batch = 0
    n_stream_plans = 0
    for name, spec in REGISTRY.items():
        # capture every micro-batch physical plan the query executes —
        # streaming-tagged queries AND batch-tagged queries that drain
        # an internal stream before their read-back aggregate. A
        # duplicated shuffle inside a streaming plan repeats every
        # trigger, so it is strictly worse than the batch class.
        mb.PLAN_LOG = []
        try:
            df = spec.fn(spark, sf_dir)
            df.collect()
            plans = [("batch", df._jdf.queryExecution().executedPlan().toString())]
        except Exception as e:  # audit tool: record, keep sweeping
            flagged[name] = f"ERR {type(e).__name__}: {e}"
            continue
        finally:
            stream_plans, mb.PLAN_LOG = mb.PLAN_LOG, None
        n_batch += 1
        # drain() logs a PLAN_UNAVAILABLE sentinel when a plan
        # accessor raises — count those as per-query capture gaps so
        # under-coverage is reported, never silent (r10 ADVICE)
        gaps = [p for p in stream_plans if p.startswith("PLAN_UNAVAILABLE")]
        if gaps:
            plan_gaps[name] = len(gaps)
        stream_plans = [p for p in stream_plans if not p.startswith("PLAN_UNAVAILABLE")]
        n_stream_plans += len(stream_plans)
        plans += [("stream", p) for p in stream_plans]
        for kind, plan in plans:
            final = plan.split("== Initial Plan ==")[0]
            counts = Counter(exchange_fingerprints(final))
            dups = sum(n - 1 for n in counts.values() if n > 1)
            if dups:
                flagged[name] = {
                    "plan": kind,
                    "duplicate_exchanges": dups,
                    "sample": [fp.splitlines()[0].strip()[:110]
                               for fp, n in counts.items() if n > 1],
                }
    print(json.dumps({"probe": "exchange_reuse_audit", "queries": n_batch,
                      "streaming_plans": n_stream_plans,
                      "plan_capture_gaps": plan_gaps, "flagged": flagged}))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
