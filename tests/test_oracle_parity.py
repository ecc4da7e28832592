"""The correctness gate, locally: every registered query runs on Spark
and on DuckDB (oracle SQL) at sf0.01 and must match exactly —
mirroring the driver's CORRECTNESS check."""

from __future__ import annotations

import pytest

from datafusion_streams_spark.operators import REGISTRY
from tests.conftest import SF_DIR, assert_frames_match

ORACLE_QUERIES = [name for name, spec in REGISTRY.items() if spec.oracle is not None]
ROWS_ONLY_QUERIES = [name for name, spec in REGISTRY.items() if spec.oracle is None]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, SF_DIR).toPandas()
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_no_rows_only_queries_remain():
    """r9 milestone: the four approximate sketches were the last
    rows-only queries; their bound-as-data rewrite makes every
    registered query oracle-backed. New queries must ship with an
    oracle (or consciously revisit this invariant)."""
    assert ROWS_ONLY_QUERIES == [], ROWS_ONLY_QUERIES


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"key", "value", "len_value"}


def test_registry_complete():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert len(q) >= 25, f"expected a wide inventory, got {len(q)}"
    assert set(o) <= set(q)


def test_verified_prefix_is_the_r15_rotation():
    """The driver hard-verifies only the first 50 registry slots. The
    round-15 window (r14 verdict item #2) is pure rotation — r15
    changed no query code (the round's edits are bench/tooling), so
    the changed-first slot count is 0: all 17 remaining r9 rows
    (q11_important_stock onward — the r9 drain completes), then the
    alphabetical head of the r10 rows (33). After CORRECTNESS_r15
    lands, no driver row anywhere predates r10, holding the 6-round
    full-refresh cadence documented in COVERAGE.md."""
    import json
    import os

    from datafusion_streams_spark.operators import VERIFIED_FIRST

    names = list(REGISTRY)
    assert len(VERIFIED_FIRST) == 50
    assert names[:50] == list(VERIFIED_FIRST)

    window = names[:50]
    # r9 milestone, held: NOTHING in the registry is rows-only —
    # every registered query carries a DuckDB oracle
    rows_only = [n for n in REGISTRY if REGISTRY[n].oracle is None]
    assert rows_only == [], rows_only

    # pure-rotation discipline: the r9 drain leads the window
    assert window[0] == "q11_important_stock"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict = {}
    for rnd in range(1, 15):
        f = os.path.join(repo, f"CORRECTNESS_r{rnd:02d}.json")
        if os.path.exists(f):
            for name, row in json.load(open(f)).items():
                if row.get("hash_match"):
                    last_green[name] = rnd
    if last_green:  # absent in a bare checkout
        # r9 closed the four sketches: no registered query is
        # hash-never-green any more
        never_hash = set(REGISTRY) - set(last_green)
        assert never_hash == set(), sorted(never_hash)
        # the r9 drain: every row whose last driver green predates
        # r10 must sit inside this window
        stale = [n for n, r in last_green.items() if r <= 9 and n in REGISTRY]
        assert set(stale) <= set(window), sorted(set(stale) - set(window))


def test_approx_distinct_accuracy(spark, duck):
    """HLL estimate within 5% of the exact distinct count per group.

    r9: the registered query now hash-checks the bound AS DATA
    (within_bound pinned to 1 by the oracle); the raw estimate is
    recomputed inline here so the accuracy number itself stays
    asserted too."""
    from pyspark.sql import functions as F

    reg = REGISTRY["agg_approx_distinct"].fn(spark, SF_DIR).toPandas()
    assert (reg["within_bound"] == 1).all(), reg
    approx = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"))
        .collect()
    }
    exact = dict(
        duck.execute(
            "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert set(approx) == set(exact)
    for k, v in exact.items():
        assert abs(approx[k] - v) <= 0.05 * v, (k, approx[k], v)


def test_vectorized_ann_matches_bruteforce(spark):
    """The numpy scale path must return the same neighbor sets (same
    ranking on this data) as the strict-fold bruteforce definition."""
    brute = {
        (r.q_id, r.rn): r.neighbor_id
        for r in REGISTRY["ann_topk_bruteforce"].fn(spark, SF_DIR).collect()
    }
    fast = {
        (r.q_id, r.rn): r.neighbor_id
        for r in REGISTRY["ann_topk_vectorized"].fn(spark, SF_DIR).collect()
    }
    assert brute == fast


def test_approx_percentile_accuracy(spark, duck):
    """GK-sketch percentiles within 1% relative of the exact
    interpolated quantiles per group.

    r9: the registered query now hash-checks the ±1%-rank corridor AS
    DATA (bound_ok_* pinned to 1 by the oracle); the raw estimate is
    recomputed inline so the value-accuracy number stays asserted."""
    from pyspark.sql import functions as F

    reg = REGISTRY["agg_approx_percentile"].fn(spark, SF_DIR).toPandas()
    assert (reg["bound_ok_50"] == 1).all() and (reg["bound_ok_90"] == 1).all(), reg
    approx = {
        r["l_returnflag"]: (r["ap50_price"], r["ap90_price"])
        for r in spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("ap50_price"),
            F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias("ap90_price"),
        )
        .collect()
    }
    exact = {
        k: (p50, p90)
        for k, p50, p90 in duck.execute(
            "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5), "
            "quantile_cont(l_extendedprice, 0.9) FROM lineitem GROUP BY 1"
        ).fetchall()
    }
    assert set(approx) == set(exact)
    for k, (e50, e90) in exact.items():
        a50, a90 = approx[k]
        assert abs(a50 - e50) <= 0.01 * e50, (k, a50, e50)
        assert abs(a90 - e90) <= 0.01 * e90, (k, a90, e90)


def test_no_boolean_output_columns(spark):
    """Repo convention (r5 verdict item #5): no registered query may
    emit a top-level BooleanType column — booleans are cast to BIGINT
    on both engines so a future hash-normalization change can never
    flip a green query red over bool representation. Schema-only: the
    DataFrames are built, never executed."""
    from pyspark.sql.types import BooleanType

    offenders = []
    for name, spec in REGISTRY.items():
        try:
            schema = spec.fn(spark, SF_DIR).schema
        except Exception:
            continue  # streaming-only shapes raise on plain build; the
            # parity sweep covers their executed schemas
        for f in schema.fields:
            if isinstance(f.dataType, BooleanType):
                offenders.append(f"{name}.{f.name}")
    assert offenders == [], offenders
