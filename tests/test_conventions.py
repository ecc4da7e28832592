"""Source-scan conventions the verdicts established, pinned so they
cannot silently regress:

- r10: no eager ``.first()`` scalar pulls inside registered query
  bodies — every scalar threshold broadcasts its 1-row aggregate back
  into the same DAG (the q11 idiom; the eager pull crashed on empty
  input at sf0.001 and costs an extra job). The only sanctioned
  ``.first()`` calls are driver-side CONVERGENCE/CATCH-UP predicates,
  which genuinely need a value on the driver to decide whether to loop
  again (connected-components label sum, streaming catch-up row
  count).
- r8/r9: zero row-at-a-time ``F.udf`` anywhere — Python touches data
  only through Arrow (pandas_udf / mapInPandas / applyInPandas).
- Streaming queries start only through ``streaming.microbatch.drain``,
  and every directory the engine writes comes from ``scratch.py``.
- Fixture tables are read only through ``catalog.table``, which holds
  the one ns->us guard for ``events.ts``.
- The engine keeps no probe hooks: plans, triggers and convergence
  rounds are read from Spark's own SQL status store and listeners.
- The bit-parity nearest-centroid fold has one numpy spelling,
  ``clustering._nearest``.
"""

import ast
import io
import tokenize
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "datafusion_streams_spark"


def _count_first_calls(source: str) -> int:
    """Count ``.first()`` CALL SITES (zero-arg — the eager
    DataFrame action) via the token stream. Docstrings and comments
    legitimately discuss the anti-pattern, and ``F.first(col)`` is the
    harmless AGGREGATE function — neither may trip the scan, which is
    why this is tokens with an empty-parens requirement, not a grep."""
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    n = 0
    for i in range(len(toks) - 3):
        if (
            toks[i].type == tokenize.OP and toks[i].string == "."
            and toks[i + 1].type == tokenize.NAME and toks[i + 1].string == "first"
            and toks[i + 2].type == tokenize.OP and toks[i + 2].string == "("
            and toks[i + 3].type == tokenize.OP and toks[i + 3].string == ")"
        ):
            n += 1
    return n

# file (relative to the package) -> exact allowed .first() count, each
# a loop-convergence or catch-up predicate audited in the r9 verdict
ALLOWED_FIRST = {
    "operators/dedup.py": 1,       # connected-components label-sum convergence
    "streaming/queries.py": 1,     # streaming catch-up predicate
}


def _source_files():
    return sorted(PKG.rglob("*.py"))


def test_no_eager_first_outside_convergence_predicates():
    offenders = {}
    for f in _source_files():
        n = _count_first_calls(f.read_text())
        rel = str(f.relative_to(PKG))
        if n != ALLOWED_FIRST.get(rel, 0):
            offenders[rel] = n
    assert not offenders, (
        f"unexpected .first() counts {offenders}; registered queries must "
        "broadcast 1-row scalar aggregates back into the DAG "
        "(see q11_important_stock) — if a NEW convergence predicate is "
        "genuinely driver-side, add it to ALLOWED_FIRST with a comment"
    )


def _name_counts(name: str) -> dict[str, int]:
    """Per-file count of NAME tokens ``name``: attribute, call or import
    — docstrings and comments that merely mention it never count."""
    counts = {}
    for f in _source_files():
        toks = tokenize.generate_tokens(io.StringIO(f.read_text()).readline)
        n = sum(1 for t in toks if t.type == tokenize.NAME and t.string == name)
        if n:
            counts[str(f.relative_to(PKG))] = n
    return counts


# file -> exact allowed ``writeStream`` count. streaming_checkpoint_recovery
# kills and resumes a query on a shared checkpoint, which the runner's
# own checkpoint cannot express, so it keeps its one start() helper.
ALLOWED_WRITESTREAM = {
    "streaming/microbatch.py": 1,  # drain(), the runner
    "streaming/queries.py": 1,     # streaming_checkpoint_recovery
}


def test_write_stream_only_in_the_runner():
    assert _name_counts("writeStream") == ALLOWED_WRITESTREAM, (
        "start streaming queries through streaming.microbatch.drain, which "
        "raises on timeout and stops the query and removes its checkpoint"
    )


def test_nearest_centroid_fold_has_one_copy():
    assert _name_counts("argmin") == {"operators/clustering.py": 1}, (
        "assign nearest centroids through clustering._nearest (and "
        "clustering._sq_dist on the driver): one spelling of the "
        "bit-parity distance fold"
    )


def test_mkdtemp_only_in_the_scratch_helper():
    assert _name_counts("mkdtemp") == {"scratch.py": 2}, (
        "take engine dirs from scratch.scratch_dir: one root per process, "
        "removed at exit"
    )


def test_fixture_reads_only_through_catalog_table():
    """A query that spells a fixture path itself can skip the events
    ns->us guard or read tables it never uses; ``catalog.table`` owns
    the layout, and the guard has exactly one copy."""
    inline, guards = [], []
    for f in _source_files():
        text, rel = f.read_text(), str(f.relative_to(PKG))
        if 'parquet(f"{sf_dir}/' in text and rel != "catalog.py":
            inline.append(rel)
        if "ts div 1000" in text:
            guards.append(rel)
    assert inline == [], (
        f"inline fixture reads in {inline}: read through catalog.table"
    )
    assert guards == ["catalog.py"], (
        f"ns->us events guard in {guards}: keep one copy, "
        "catalog.normalize_event_ts"
    )


# module globals the engine once filled only so that tools and tests
# could look inside a run
PROBE_HOOKS = ("PLAN_LOG", "PROGRESS_LOG", "LAST_CONVERGENCE_ROUNDS", "log_executed_plan")


def test_no_probe_hooks_in_the_engine():
    """Tools and tests read a run's plans, triggers and convergence
    rounds from Spark's SQL status store and a StreamingQueryListener
    (tools/reuse_audit.py, tools/scale_probe.py), so no hook name may
    come back in the engine, the tools or the tests. No engine module
    but scratch.py, which owns the one process root, rebinds a module
    global."""
    root = PKG.parent
    here = Path(__file__).resolve()
    hooks = [
        f"{f.relative_to(root)}: {h}"
        for d in ("datafusion_streams_spark", "tools", "tests")
        for f in sorted((root / d).rglob("*.py"))
        if f != here
        for h in PROBE_HOOKS
        if h in f.read_text()
    ]
    assert hooks == [], f"probe hooks {hooks}: read Spark's status store"
    rebinders = [
        str(f.relative_to(PKG))
        for f in _source_files()
        if any(isinstance(n, ast.Global) for n in ast.walk(ast.parse(f.read_text())))
    ]
    assert rebinders == ["scratch.py"], (
        f"`global` statements in {rebinders}: return the value or read "
        "it from Spark instead"
    )


def test_no_row_at_a_time_python_udf():
    """Token-level, not a grep (r10 review): `F.udf(`-only matching
    missed `from pyspark.sql.functions import udf` + bare `udf(...)`
    or `@udf` decorators. Any NAME token `udf` in package code —
    import, attribute, decorator, call — is an offender; `pandas_udf`
    is a different NAME token and never matches, and prose mentions of
    UDFs in docstrings/comments are not NAME tokens."""
    offenders = []
    for f in _source_files():
        toks = tokenize.generate_tokens(io.StringIO(f.read_text()).readline)
        for t in toks:
            if t.type == tokenize.NAME and t.string == "udf":
                offenders.append(f"{f.relative_to(PKG)}:{t.start[0]}")
    assert offenders == [], (
        f"row-at-a-time Python UDF in {offenders}: use pandas_udf / "
        "mapInPandas (Arrow-vectorized) instead"
    )


def test_reuse_audit_fingerprints_catch_the_q15_class():
    """The r10 review found the original fingerprints kept raw tree
    glyphs, so the same duplicated subtree at two DIFFERENT tree depths
    (exactly the broken-q15 shape) never compared equal and the audit
    was blind to its motivating bug. Pin the fixed behavior on
    synthetic plans: depth-relative equality, ReusedExchange leaves
    skipped, and codegen-prefixed siblings not absorbed as children."""
    import sys

    sys.path.insert(0, str(PKG.parents[0] / "tools"))
    from reuse_audit import exchange_fingerprints
    from collections import Counter

    # same subtree at two depths with different glyph prefixes
    plan_dup = "\n".join([
        "*(6) Project [a#1]",
        ":- *(6) HashAggregate(keys=[k#1], functions=[sum(v#2)])",
        ":  +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]",
        ":     +- *(1) HashAggregate(keys=[k#1], functions=[partial_sum(v#2)])",
        ":        +- *(1) Filter isnotnull(k#1)",
        ":           +- FileScan parquet [k#1,v#2]",
        "+- BroadcastExchange IdentityBroadcastMode, [plan_id=20]",
        "   +- *(5) HashAggregate(keys=[], functions=[max(t#3)])",
        "      +- *(4) HashAggregate(keys=[k#7], functions=[sum(v#8)])",
        "         +- Exchange hashpartitioning(k#7, 8), ENSURE_REQUIREMENTS, [plan_id=30]",
        "            +- *(2) HashAggregate(keys=[k#7], functions=[partial_sum(v#8)])",
        "               +- *(2) Filter isnotnull(k#7)",
        "                  +- FileScan parquet [k#7,v#8]",
    ])
    counts = Counter(exchange_fingerprints(plan_dup))
    assert sum(n - 1 for n in counts.values() if n > 1) == 1, counts

    # perfect reuse: the second reference is a ReusedExchange leaf —
    # its rendering embeds 'Exchange hashpartitioning' but must NOT be
    # fingerprinted as a duplicate shuffle
    plan_reused = "\n".join([
        "*(6) Project [a#1]",
        ":- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]",
        ":  +- *(1) HashAggregate(keys=[k#1], functions=[partial_sum(v#2)])",
        ":     +- FileScan parquet [k#1,v#2]",
        "+- ReusedExchange [k#9, sum#10], Exchange hashpartitioning(k#1, 8), [plan_id=10]",
    ])
    counts = Counter(exchange_fingerprints(plan_reused))
    assert sum(n - 1 for n in counts.values() if n > 1) == 0, counts

    # a codegen-prefixed SIBLING after the exchange must not be
    # absorbed into its subtree ('*(' is node text, not indentation)
    plan_sib = "\n".join([
        ":- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]",
        ":  +- FileScan parquet [k#1]",
        "+- *(2) Sort [k#1 ASC]",
        "   +- FileScan parquet [k#1]",
    ])
    (fp,) = exchange_fingerprints(plan_sib)
    assert "Sort" not in fp, fp


def test_reuse_audit_fingerprints_r11_blind_spots():
    """r10 ADVICE closed two audit blind spots; pin both on synthetic
    plans: (a) subtree walk is uncapped — two DIFFERENT exchanges that
    share a >40-line prefix must NOT compare equal (the old fixed cap
    truncated them identical); (b) RoundRobinPartitioning exchanges
    (repartition(n) / catalog.spread) are fingerprinted like the other
    three kinds."""
    import sys

    sys.path.insert(0, str(PKG.parents[0] / "tools"))
    from collections import Counter

    from reuse_audit import exchange_fingerprints

    # (a) two exchanges identical through 45 lines, diverging at the
    # leaf: with the old min(i+40) cap both fingerprints truncated at
    # the shared prefix and false-flagged as duplicates
    def deep(leaf: str) -> list[str]:
        lines = ["Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=1]"]
        for d in range(1, 45):
            lines.append("   " * d + f"+- *(1) Project [k#{d}]")
        lines.append("   " * 45 + f"+- FileScan parquet [{leaf}]")
        return lines

    plan = "\n".join(deep("k#1,v#2") + deep("OTHER#3"))
    counts = Counter(exchange_fingerprints(plan))
    assert len(counts) == 2, "uncapped walk must distinguish deep leaves"
    assert all(n == 1 for n in counts.values()), counts

    # identical deep subtrees still flag (the walk reaches the leaf)
    plan_same = "\n".join(deep("k#1,v#2") + deep("k#9,v#8"))
    counts = Counter(exchange_fingerprints(plan_same))
    assert sum(n - 1 for n in counts.values() if n > 1) == 1, counts

    # (b) duplicated round-robin repartition of the same subtree flags
    plan_rr = "\n".join([
        ":- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=3]",
        ":  +- FileScan parquet [k#1]",
        "+- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=4]",
        "   +- FileScan parquet [k#7]",
    ])
    counts = Counter(exchange_fingerprints(plan_rr))
    assert sum(n - 1 for n in counts.values() if n > 1) == 1, counts
