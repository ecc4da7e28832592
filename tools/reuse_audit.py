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
(b) the last micro-batch physical plan of every streaming query it ran
along the way, read back from Spark's SQL status store, so
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


def _status_store(spark):
    """The session's SQL status store (kept with the UI off) after the
    listener bus has applied every event posted so far."""
    jss = spark._jsparkSession
    jss.sparkContext().listenerBus().waitUntilEmpty()
    return jss.sharedState().statusStore()


def execution_mark(spark) -> int:
    """Id of the newest SQL execution in the status store, -1 when it
    holds none: the ``since`` of a later ``root_executions`` read."""
    store = _status_store(spark)
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def root_executions(spark, since: int) -> list:
    """Root SQL executions (JVM ``SQLExecutionUIData``) after the mark
    ``since``, in id order. A nested execution, such as a write that a
    micro-batch or its foreachBatch function runs inside the trigger's
    own execution, is left out.

    The store evicts the executions that completed first once it holds
    ``spark.sql.ui.retainedExecutions``. If the mark itself is gone, a
    later execution may be gone too, so this raises rather than
    under-report."""
    store = _status_store(spark)
    n = store.executionsCount()
    if since >= 0:
        evicted = store.execution(since).isEmpty()
    else:
        evicted = n >= int(spark.conf.get("spark.sql.ui.retainedExecutions"))
    if evicted:
        raise RuntimeError(
            f"the SQL status store evicted executions after mark {since}; "
            "raise spark.sql.ui.retainedExecutions or read more often"
        )
    k = 16  # the store lists by id: page back from the newest
    while True:
        k = min(k, n)
        page = store.executionsList(n - k, k)
        execs = [page.apply(i) for i in range(page.size())]
        if k == n or execs[0].executionId() <= since:
            break
        k *= 4
    return [
        e for e in execs
        if e.executionId() > since and e.rootExecutionId() == e.executionId()
    ]


def _batch_writes(spark, since: int):
    """``(name, id, runId, batch id, execution id)`` of every
    micro-batch write after the mark ``since``, in execution order. Each
    trigger's write is a root execution whose description Spark sets to
    the query name, ``id`` (kept in the checkpoint, so a resumed query
    keeps it), ``runId`` and ``batch``."""
    for e in root_executions(spark, since):
        m = re.fullmatch(
            r"(.*)\nid = (\S+)\nrunId = (\S+)\nbatch = (\d+)", e.description()
        )
        if m:
            yield m[1], m[2], m[3], int(m[4]), e.executionId()


def stream_batches(spark, since: int) -> dict[tuple[str, str], dict[int, int]]:
    """Micro-batches of every streaming run after the mark ``since``:
    ``{(query name, runId): {batch id: execution id}}``, one entry per
    trigger, no-data batches included."""
    runs: dict[tuple[str, str], dict[int, int]] = {}
    for name, _, run_id, batch, execution in _batch_writes(spark, since):
        runs.setdefault((name, run_id), {})[batch] = execution
    return runs


def local_checkpoints(spark, since: int) -> int:
    """Eager ``localCheckpoint`` root executions after the mark
    ``since``. Each round of ``dedup.min_label_components`` ends in
    one, so for one call this is the rounds it took to converge."""
    return sum(
        e.description().startswith("localCheckpoint at")
        for e in root_executions(spark, since)
    )


def executed_plan(spark, execution_id: int) -> str:
    """The physical plan an execution ran, drawn as ``explain()`` draws
    its tree, from the plan graph the SQL status store keeps. The
    store's plan text will not do for a micro-batch: Spark re-plans a
    streaming plan in append mode to describe it, so a complete-mode
    sort would show shuffles that never ran. A node inside a
    whole-stage-codegen stage gets its ``*(n)`` prefix, and a node met
    a second time (a reused exchange) is drawn as a ``Reused`` leaf."""
    graph = _status_store(spark).planGraph(execution_id)
    text: dict[int, str] = {}

    def collect(nodes, prefix: str) -> None:
        for i in range(nodes.size()):
            n = nodes.apply(i)
            if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                stage = re.search(r"\((\d+)\)", n.name())[1]
                collect(n.nodes(), f"*({stage}) ")
            else:
                text[n.id()] = prefix + n.desc()

    collect(graph.nodes(), "")
    children: dict[int, list[int]] = {}
    edges = graph.edges()
    for i in range(edges.size()):
        e = edges.apply(i)
        children.setdefault(e.toId(), []).append(e.fromId())
    has_parent = {c for cs in children.values() for c in cs}
    lines: list[str] = []
    seen: set[int] = set()

    def draw(node: int, lead: str, glyph: str) -> None:
        if node in seen:
            lines.append(f"{lead}{glyph}Reused{text[node]}")
            return
        seen.add(node)
        lines.append(lead + glyph + text[node])
        lead += {"": "", "+- ": "   ", ":- ": ":  "}[glyph]
        kids = children.get(node, [])
        for i, child in enumerate(kids):
            draw(child, lead, "+- " if i == len(kids) - 1 else ":- ")

    for root in text:
        if root not in has_parent:
            draw(root, "", "")
    return "\n".join(lines)


def drain_plans(spark, since: int) -> list[str]:
    """The last micro-batch plan of each streaming query that ran after
    the mark ``since``: every ``streaming.microbatch.drain`` run, and a
    query stopped and resumed on one checkpoint
    (``streaming_checkpoint_recovery``) once, by its checkpoint's
    ``id``. Under a fixed config a query's plan does not change shape
    between batches, so its last batch stands for all."""
    last: dict[str, int] = {}
    for _, query_id, _, _, execution in _batch_writes(spark, since):
        last[query_id] = execution
    return [executed_plan(spark, execution) for execution in last.values()]


def main() -> int:
    from datafusion_streams_spark import get_session
    from datafusion_streams_spark.operators import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    spark = get_session(app_name="reuse-audit", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")

    flagged: dict[str, object] = {}
    n_batch = 0
    n_stream_plans = 0
    for name, spec in REGISTRY.items():
        # every micro-batch plan the query executes is read back from
        # the status store: streaming-tagged queries AND batch-tagged
        # queries that drain an internal stream before their read-back
        # aggregate. A duplicated shuffle inside a streaming plan
        # repeats every trigger, so it is strictly worse than the batch
        # class.
        mark = execution_mark(spark)
        try:
            df = spec.fn(spark, sf_dir)
            df.collect()
            plans = [("batch", df._jdf.queryExecution().executedPlan().toString())]
        except Exception as e:  # audit tool: record, keep sweeping
            flagged[name] = f"ERR {type(e).__name__}: {e}"
            continue
        n_batch += 1
        stream_plans = drain_plans(spark, mark)
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
                      "streaming_plans": n_stream_plans, "flagged": flagged}))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
