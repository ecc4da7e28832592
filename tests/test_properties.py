"""Property-based tests (hypothesis): the invariants that make the
engine trustworthy at scale.

1. Partitioning invariance — the core 100 TB property: results must be
   IDENTICAL under any repartitioning (1 vs 32 partitions changes
   combine order; exact-decimal aggregation makes that a no-op).
2. Operator-vs-reference properties — Spark shingling/jaccard/simhash
   against independent pure-Python implementations on generated data.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from datafusion_streams_spark.functions import dec, word_shingles
from tests.conftest import SF_DIR_SMALL

_WORDS = ["spark", "stream", "batch", "join", "scan", "the", "fast", "row", "key", "sort"]


def _doc_strategy():
    return st.lists(st.sampled_from(_WORDS), min_size=3, max_size=30).map(" ".join)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(_doc_strategy(), min_size=1, max_size=8))
def test_shingles_match_python_reference(spark, docs):
    """word_shingles == an independent pure-Python 3-shingle builder."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = {
        r.doc_id: set(r.sh)
        for r in df.select("doc_id", word_shingles("text", 3).alias("sh")).collect()
    }
    for i, d in enumerate(docs):
        toks = d.lower().split()
        if len(toks) >= 3:
            expected = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        else:
            expected = {" ".join(toks)}
        assert got[i] == expected, (d, got[i], expected)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.decimals(min_value=-99999, max_value=99999, places=2).map(float),
        min_size=1,
        max_size=200,
    ),
    nparts=st.integers(min_value=1, max_value=32),
)
def test_decimal_sum_partitioning_invariance(spark, vals, nparts):
    """SUM over DECIMAL is bit-identical under any partition count —
    the invariant that plain double sums violate (combine order).
    Ground truth: Python's exact Fraction arithmetic."""
    from fractions import Fraction

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    s1 = df.coalesce(1).agg(F.sum(dec("v")).cast("double")).first()[0]
    sN = df.repartition(nparts).agg(F.sum(dec("v")).cast("double")).first()[0]
    assert s1 == sN  # bitwise equal, any partitioning
    exact = float(sum(Fraction(round(v * 100)) for v in vals) / 100)
    assert math.isclose(s1, exact, rel_tol=0, abs_tol=1e-6)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(nparts=st.integers(min_value=1, max_value=16))
def test_q1_shape_partitioning_invariance(spark, nparts):
    """The full q1 aggregate bundle is partition-count invariant on real
    fixture data (decimal sums + counts)."""
    li = spark.read.parquet(f"{SF_DIR_SMALL}/lineitem.parquet")
    def agg(d):
        return {
            tuple(r[:2]): r[2:]
            for r in d.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(dec("l_quantity")).cast("double"),
                F.count(F.lit(1)),
            )
            .collect()
        }
    assert agg(li.coalesce(1)) == agg(li.repartition(nparts))


def test_minhash_lsh_finds_all_high_jaccard_pairs(spark):
    """MinHash-LSH recall on the planted near-dups: every pair the exact
    ngram query reports must also be reported by the LSH query (at the
    planted 0.98 jaccard, miss probability ~2.6e-12)."""
    from datafusion_streams_spark.operators import REGISTRY

    exact = {
        (r.a_id, r.b_id)
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR_SMALL).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR_SMALL).collect()
    }
    assert lsh == exact, f"LSH missed {exact - lsh} / extra {lsh - exact}"


def test_prefix_filtering_is_exact_and_smaller(spark):
    """Prefix filtering must (a) produce strictly fewer candidate pairs
    than all-shared-shingle blocking on this fixture and (b) retain
    every pair at or above the Jaccard threshold (exactness)."""
    from datafusion_streams_spark.operators import dedup

    withsh = dedup._doc_shingle_arrays(spark, SF_DIR_SMALL)
    sh = withsh.select("doc_id", F.explode("sh").alias("shingle"))

    prefix_cand = dedup._prefix_candidates(sh, dedup.JACCARD_THRESHOLD)
    a, b = sh.alias("a"), sh.alias("b")
    full_cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    n_prefix, n_full = prefix_cand.count(), full_cand.count()
    assert n_prefix < n_full, (n_prefix, n_full)

    # exactness: verified pairs from full blocking == pairs the
    # registered (prefix-filtered) query reports
    full_pairs = {
        (r.a_id, r.b_id)
        for r in dedup._verify_pairs(full_cand, withsh)
        .filter(F.col("jaccard") >= dedup.JACCARD_THRESHOLD)
        .collect()
    }
    prefix_pairs = {
        (r.a_id, r.b_id)
        for r in dedup.dedup_ngram_jaccard(spark, SF_DIR_SMALL).collect()
    }
    assert prefix_pairs == full_pairs


def test_components_lineage_truncated(spark):
    """Label propagation must not stack per-round joins into the final
    plan: localCheckpoint truncates lineage, so the returned frame
    reads from a materialized RDD, not an iteration-deep join tree."""
    from datafusion_streams_spark.operators import dedup

    df = dedup.dedup_components(spark, SF_DIR_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert df.count() > 0


@given(nparts=st.sampled_from([2, 7, 16]))
@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kmeans_model_partitioning_invariance(spark, nparts):
    """The shipped Lloyd update (``_lloyd_step``) must be EXACT under
    any partitioning: integer-quantized per-dimension sums commute, so
    the fitted model — and therefore every assignment — is identical
    however the corpus is split. Checked for the k-means codebook and
    for the eight PQ subspace codebooks. This is the property that
    makes the clustering reproducible on a 1000-executor cluster."""
    from datafusion_streams_spark.operators import clustering as cl

    spark.catalog.clearCache()
    base = cl._quantized(spark, SF_DIR_SMALL)
    init = base.orderBy("vec_id").limit(max(cl.K_CLUSTERS, cl.PQ_K)).collect()
    kmeans = [cl._book(init[: cl.K_CLUSTERS], 0, cl.EMBED_DIM)]
    pq = [
        cl._book(init[: cl.PQ_K], lo, lo + cl.PQ_SUBDIM)
        for lo in range(0, cl.EMBED_DIM, cl.PQ_SUBDIM)
    ]
    for books in (kmeans, pq):
        fitted = [cl._lloyd_step(base.repartition(parts), books) for parts in (4, nparts)]
        assert fitted[0] == fitted[1], f"model drifted at {nparts} partitions"
        assert len(fitted[0]) == len(books) and all(b[2] for b in fitted[0])


def test_sessionize_partition_invariance(spark):
    """events_sessionize must produce the identical session map under
    1-partition and 32-partition input — the window's (ts, event_id)
    total tiebreak is what makes per-event session numbering a pure
    function of the data, not the shuffle layout."""
    from datafusion_streams_spark.operators import REGISTRY

    base = REGISTRY["events_sessionize"].fn(spark, SF_DIR_SMALL)
    one = {
        (r.user_id, r.event_id): (r.session_seq, r.is_session_start)
        for r in base.repartition(1).collect()
    }
    many = {
        (r.user_id, r.event_id): (r.session_seq, r.is_session_start)
        for r in base.repartition(32).collect()
    }
    assert one == many and len(one) > 0


def test_token_packing_partition_invariance(spark):
    """Greedy bin assignment is a pure function of (lang, doc order,
    token counts): shuffle.partitions must not change any bin stats."""
    from datafusion_streams_spark.operators import REGISTRY

    def run():
        return {
            (r.lang, r.bin): (r.n_docs, r.total_tokens, r.first_doc, r.last_doc)
            for r in REGISTRY["pipeline_token_packing"].fn(spark, SF_DIR_SMALL).collect()
        }

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = run()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b and len(a) > 0


def test_stateful_totals_batch_split_invariance(spark, tmp_path):
    """streaming_stateful_totals' contract: the final per-key answer is
    independent of HOW the stream was micro-batched. Replay the same
    rows as 1 file (1 batch) and as 4 files (4 batches with
    maxFilesPerTrigger=1) through the same applyInPandasWithState
    logic and require identical finals."""
    import pandas as pd

    rows = [(i % 5, float(i) + 0.25) for i in range(40)]

    def run(n_files: int, subdir: str) -> dict:
        src = tmp_path / subdir
        src.mkdir()
        chunk = len(rows) // n_files
        for f in range(n_files):
            spark.createDataFrame(
                rows[f * chunk : (f + 1) * chunk], "user_id long, value double"
            ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{f}"))

        def totals(key, pdfs, state):
            n, cents = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                cents += int(pdf["value"].mul(100).round(0).astype("int64").sum())
            state.update((n, cents))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "cents": [cents]})

        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*/part-*.parquet")
            .groupBy("user_id")
            .applyInPandasWithState(
                totals,
                outputStructType="user_id long, n long, cents long",
                stateStructType="n long, cents long",
                outputMode="update",
                timeoutConf="NoTimeout",
            )
        )
        from datafusion_streams_spark.streaming.microbatch import drain

        out = {}
        for r in spark.table(drain(stream, output_mode="update")).collect():
            prev = out.get(r.user_id)
            if prev is None or r.n > prev[0]:
                out[r.user_id] = (r.n, r.cents)
        return out

    assert run(1, "one") == run(4, "four")


def test_sessionize_state_batch_split_invariance(spark, tmp_path):
    """streaming_sessionize_state's contract: completed-session
    summaries are independent of micro-batch boundaries, INCLUDING
    sessions that span a batch split and sessions that close exactly
    at one. Replay identical time-ordered rows as 1 file vs 3 files
    (maxFilesPerTrigger=1) and require identical finals."""
    import pandas as pd

    gap = 30 * 60 * 1_000_000
    base = 1_700_000_000_000_000
    rows = []
    eid = 0
    for u in (1, 2, 3):
        t = base + u * 17
        for sess in range(3):
            for i in range(4 + u):           # sessions of differing length
                rows.append((eid, u, t))
                eid += 1
                t += 60_000_000              # 1 min within session
            t += gap + u * 1_000_000         # close the session
    # rows are time-ordered per user; keep global order by ts for the
    # file-split so arrival stays monotone per key
    rows.sort(key=lambda r: (r[2], r[0]))

    def run(n_files: int, subdir: str) -> dict:
        src = tmp_path / subdir
        src.mkdir()
        chunk = (len(rows) + n_files - 1) // n_files
        for f in range(n_files):
            spark.createDataFrame(
                rows[f * chunk : (f + 1) * chunk],
                "event_id long, user_id long, ts_us long",
            ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{f}"))

        def sessionize(key, pdfs, state):
            if state.exists:
                last_us, seq, start_us, n = state.get
            else:
                last_us, seq, start_us, n = None, 0, None, 0
            out_rows = []
            for pdf in pdfs:
                pdf = pdf.sort_values(["ts_us", "event_id"])
                for ts_us in pdf["ts_us"].astype("int64"):
                    ts_us = int(ts_us)
                    if last_us is None or ts_us > last_us + gap:
                        if last_us is not None:
                            out_rows.append((key[0], seq, n, start_us, last_us))
                        seq += 1
                        start_us, n = ts_us, 0
                    n += 1
                    last_us = ts_us
            state.update((last_us, seq, start_us, n))
            out_rows.append((key[0], seq, n, start_us, last_us))
            yield pd.DataFrame(
                out_rows,
                columns=["user_id", "session_seq", "n_events", "s_start_us", "s_end_us"],
            )

        stream = (
            spark.readStream.schema("event_id long, user_id long, ts_us long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*/part-*.parquet")
            .groupBy("user_id")
            .applyInPandasWithState(
                sessionize,
                outputStructType="user_id long, session_seq long, n_events long, s_start_us long, s_end_us long",
                stateStructType="last_us long, seq long, start_us long, n long",
                outputMode="update",
                timeoutConf="NoTimeout",
            )
        )
        from datafusion_streams_spark.streaming.microbatch import drain

        out = {}
        for r in spark.table(drain(stream, output_mode="update")).collect():
            k = (r.user_id, r.session_seq)
            prev = out.get(k)
            if prev is None or r.n_events > prev[0]:
                out[k] = (r.n_events, r.s_start_us, r.s_end_us)
        return out

    one, three = run(1, "one"), run(3, "three")
    assert one == three
    # 3 sessions per user, all closed
    assert len(one) == 9


def test_peak_concurrency_partition_invariance(spark):
    """The sweep-line's running sum must be a pure function of the
    data: the window's (ts_us, delta DESC, user_id, session_seq) total
    order makes the concurrency curve — and therefore each day's peak
    — identical under any input partitioning."""
    from datafusion_streams_spark.operators import REGISTRY

    def run(nparts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
        try:
            return {
                r.day: (r.peak_concurrency, r.n_sessions_started)
                for r in REGISTRY["events_peak_concurrency"].fn(spark, SF_DIR_SMALL).collect()
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    a, b = run(1), run(32)
    assert a == b and len(a) > 0


def test_scd2_intervals_are_consistent(spark):
    """Structural invariants of the SCD2 output: per user, versions are
    1..n dense, intervals chain exactly (valid_to == next valid_from),
    exactly one open (is_current) row per user, and consecutive states
    differ."""
    from collections import defaultdict

    from datafusion_streams_spark.operators import REGISTRY

    rows = REGISTRY["events_scd2_compress"].fn(spark, SF_DIR_SMALL).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert by_user
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.is_current for r in rs) == 1 and rs[-1].is_current == 1
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.state != b.state


def test_zorder_buckets_bound_both_dimensions(spark):
    """The data-skipping claim, proved: zbucket = zval >> 8 fixes the
    top 4 interleaved bits of EACH dimension, so within any bucket
    both the user and day envelopes span at most 2^4 - 1 = 15 — a
    file sorted by zval therefore serves point lookups on either
    dimension from a bounded slice of row groups."""
    from datafusion_streams_spark.operators import REGISTRY

    rows = REGISTRY["layout_zorder_audit"].fn(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r.user_span <= 15, r
        assert 0 <= r.day_span <= 15, r


def test_temperature_rebalance_flattens_mixture(spark):
    """Rebalanced kept-counts must be flatter than the raw mixture:
    the max/min language ratio shrinks (alpha=0.5 compresses n_i to
    ~K*sqrt(n_i)), no language is dropped, and every rate is a valid
    probability."""
    from datafusion_streams_spark.operators import REGISTRY

    rows = REGISTRY["sample_temperature_rebalance"].fn(spark, SF_DIR_SMALL).collect()
    assert len(rows) >= 2
    raw = [r.n_docs for r in rows]
    kept = [r.kept for r in rows]
    assert all(0 < r.rate <= 1.0 for r in rows)
    assert all(k >= 1 for k in kept), "a language was dropped"
    assert max(kept) / min(kept) < max(raw) / min(raw)


def test_heavy_hitters_candidate_superset_any_partitioning(spark):
    """agg_heavy_hitters' phase-1 guarantee: under ANY partitioning the
    locally-emitted candidates form a superset of the true heavy
    hitters, so the exact recount gives a partition-invariant final
    answer. Re-run the full query under adversarial partition counts
    and require identical results."""
    from datafusion_streams_spark.operators import REGISTRY
    from tests.conftest import SF_DIR

    base = REGISTRY["agg_heavy_hitters"].fn(spark, SF_DIR).toPandas()
    base = base.sort_values("user_id").reset_index(drop=True)
    for parts in (1, 7):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            alt = REGISTRY["agg_heavy_hitters"].fn(spark, SF_DIR).toPandas()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        alt = alt.sort_values("user_id").reset_index(drop=True)
        assert base.equals(alt), f"heavy hitters changed under shuffle.partitions={parts}"


def test_hll_mergeable_accuracy_and_partition_invariance(spark):
    """agg_hll_mergeable: lgConfigK=12 keeps relative error ~1.6%
    (assert 5%), and the register-max union makes the estimate
    invariant under repartitioning of the raw events.

    r9: the registered query hash-checks the bound AS DATA (the oracle
    pins within_bound to 1), so the raw estimate comes from the shared
    hll_merged_estimates helper here."""
    from datafusion_streams_spark.catalog import table
    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.operators.runtime_filters import (
        hll_merged_estimates,
    )
    from tests.conftest import SF_DIR

    reg = REGISTRY["agg_hll_mergeable"].fn(spark, SF_DIR).toPandas()
    assert len(reg) > 0
    assert (reg.within_bound == 1).all(), reg

    est = hll_merged_estimates(spark, SF_DIR).toPandas()
    exact = {
        r.event_type: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est.event_type) == set(exact)
    for r in est.itertuples():
        assert abs(r.est_users - exact[r.event_type]) <= 0.05 * exact[r.event_type]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        alt = hll_merged_estimates(spark, SF_DIR).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    a = est.sort_values("event_type").reset_index(drop=True)
    b = alt.sort_values("event_type").reset_index(drop=True)
    assert a.equals(b), "HLL union must be partition-invariant"


def test_approx_top_k_exact_under_full_tracking(spark):
    """With maxItemsTracked >= distinct keys, approx_top_k degrades to
    the exact top-k: same items, same counts as the groupBy answer.

    r9: the registered query hash-checks the per-rank count agreement
    AS DATA (sketch_exact pinned to 1 by the oracle); the item-level
    exactness is asserted here on the raw sketch."""
    from datafusion_streams_spark.operators import REGISTRY
    from tests.conftest import SF_DIR

    reg = REGISTRY["agg_approx_top_k"].fn(spark, SF_DIR).toPandas()
    assert len(reg) == 10
    assert (reg.sketch_exact == 1).all(), reg

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = (
        ev.agg(F.expr("approx_top_k(user_id, 10, 1000000)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").cast("long").alias("user_id"),
            F.col("e.count").cast("long").alias("n_events"),
        )
        .toPandas()
    )
    exact = (
        ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").limit(10)
    ).toPandas()
    got_map = dict(zip(got.user_id, got.n_events))
    exact_map = dict(zip(exact.user_id, exact["count"]))
    # ties at the k-th count may legitimately differ in membership;
    # counts for every returned item must be exact
    ex_all = dict(
        (r.user_id, r["count"]) for _, r in ev.groupBy("user_id").count().toPandas().iterrows()
    )
    for uid, c in got_map.items():
        assert ex_all[uid] == c, f"count for {uid} not exact: {c} vs {ex_all[uid]}"
    assert min(got_map.values()) >= min(exact_map.values())
    # and the registered per-rank count sequence IS the exact sequence
    assert list(reg.sort_values("rank").n_events) == sorted(
        exact["count"].tolist(), reverse=True
    )


def test_bitmap_distinct_equals_count_distinct_any_partitioning(spark):
    """The packed-bitmap containers are an EXACT mergeable sketch:
    bit_or is associative+commutative, so per-day popcount sums must
    equal COUNT(DISTINCT) under any partitioning, and container
    occupancy must never exceed the distinct count (that gap is the
    compression the pattern buys on the shuffle)."""
    from datafusion_streams_spark.catalog import table
    from datafusion_streams_spark.operators import REGISTRY

    exact = {
        r.day: r.n
        for r in table(spark, SF_DIR_SMALL, "events")
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }

    def run(nparts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
        try:
            return {
                r.day: (r.n_users, r.n_containers)
                for r in REGISTRY["agg_bitmap_distinct"].fn(spark, SF_DIR_SMALL).collect()
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    a, b = run(1), run(32)
    assert a == b and len(a) > 0
    assert {d: v[0] for d, v in a.items()} == exact
    assert all(nc <= nu for nu, nc in a.values())


def test_byte_simhash_banding_recall_is_exact(spark):
    """Pigeonhole claim pinned: with 4 disjoint 8-bit bands, EVERY pair
    of signatures at Hamming distance <= 3 shares at least one band,
    so the banded candidate pairs must be a superset of (and the
    query's output identical to) the brute-force pair set computed
    directly from the signatures."""
    from itertools import combinations

    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.operators.multimodal import _BSH_MAX_HAMMING

    out = {
        (r.a_id, r.b_id): r.hamming
        for r in REGISTRY["multimodal_simhash_neardup"].fn(spark, SF_DIR_SMALL).collect()
    }

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    sigs = _brute_signatures(docs)
    brute = {}
    for (i, si), (j, sj) in combinations(sorted(sigs.items()), 2):
        h = bin(si ^ sj).count("1")
        if h <= _BSH_MAX_HAMMING:
            brute[(i, j)] = h
    assert out == brute and len(brute) > 0


def _brute_signatures(docs):
    """Independent pure-Python byte-simhash (hex 4-byte grams, md5 bit
    votes, ties -> 0) mirroring the registered definition."""
    import hashlib

    sigs = {}
    for row in docs.select("doc_id", "text").collect():
        hx = row.text.encode("utf-8").hex().upper()
        if len(hx) < 8:
            continue
        grams = {hx[i : i + 8] for i in range(0, len(hx) - 7, 2)}
        votes = [0] * 32
        for g in grams:
            m = int(hashlib.md5(g.encode()).hexdigest(), 16)
            # md5 hex digit d (1-based from left) bit b: matches the
            # strpos/substr extraction — digit value's bit (j % 4)
            for j in range(32):
                digit = int(hashlib.md5(g.encode()).hexdigest()[j // 4], 16)
                votes[j] += 1 if (digit >> (j % 4)) & 1 else -1
        sigs[row.doc_id] = sum(1 << j for j in range(32) if votes[j] > 0)
    return sigs


def test_bpe_merges_match_python_reference(spark):
    """The registered 3-round BPE must agree with an independent pure-
    Python CANONICAL GREEDY BPE (Sennrich et al.: dict-of-tuples
    segmentation, max-count/lexicographic tie-break, left-to-right
    non-overlapping merge application) on the fixture corpus —
    guarding against both engines sharing a segmentation or tie-break
    misunderstanding in the oracle pair.

    Since round 6 the engines wrap every symbol in its own spaces
    (tokens joined by two spaces), so their single left-to-right
    replace IS canonical greedy — including disjoint adjacent
    occurrences and self-pair runs; this test pins that against the
    textbook scan-the-symbol-list implementation."""
    import re
    from collections import Counter

    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.operators.text import _BPE_ROUNDS

    out = [
        (r.merge_round, r.pair, r.merged, r.pair_count)
        for r in REGISTRY["text_bpe_merges"].fn(spark, SF_DIR_SMALL).collect()
    ]
    out.sort()

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    words: Counter = Counter()
    for row in docs.select("text").collect():
        for w in re.split(r"\s+", row.text.lower()):
            if w:
                words[w] += 1
    seg = {tuple(w): f for w, f in words.items()}
    expected = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pairs: Counter = Counter()
        for syms, f in seg.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rnd, f"{a} {b}", a + b, cnt))
        new_seg: dict = {}
        for syms, f in seg.items():
            # canonical greedy: scan left-to-right, merge every
            # non-overlapping occurrence of the winning pair
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_seg[key] = new_seg.get(key, 0) + f
        seg = new_seg
    assert out == expected


def test_classifier_score_partition_invariance(spark, tmp_path):
    """The per-document classifier sum is integer arithmetic, so the
    scores must be identical however the input scan is split."""
    from datafusion_streams_spark.operators import REGISTRY

    fn = REGISTRY["text_classifier_score"].fn
    rows = sorted(map(tuple, fn(spark, SF_DIR_SMALL).collect()))
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    for nparts in (1, 7):
        alt_dir = str(tmp_path / f"p{nparts}")
        docs.repartition(nparts).write.parquet(f"{alt_dir}/documents.parquet")
        alt = sorted(map(tuple, fn(spark, alt_dir).collect()))
        assert alt == rows


def test_dsir_selection_tilts_toward_target(spark):
    """DSIR's whole point: the target feed's selected share must exceed
    the global keep fraction, and shares must be consistent with the
    global top-k (sum of n_selected == ceil(frac * total))."""
    import math

    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.operators.pipeline import (
        _DSIR_KEEP_FRAC,
        _DSIR_TARGET,
    )

    rows = {
        r.source: r
        for r in REGISTRY["sample_importance_dsir"].fn(spark, SF_DIR_SMALL).collect()
    }
    total = sum(r.n_docs for r in rows.values())
    selected = sum(r.n_selected for r in rows.values())
    assert selected == math.ceil(_DSIR_KEEP_FRAC * total)
    assert rows[_DSIR_TARGET].selected_share > _DSIR_KEEP_FRAC


def test_bpe_registered_oracle_on_run_heavy_corpus(spark, tmp_path):
    """r6 verdict item #5: pin the canonical-greedy merge application
    against DuckDB through the REGISTERED oracles (both BPE queries,
    exactly what the driver runs) on the 'erer'-class corpus: a
    non-self round-1 winner (e,r) whose merge creates round-2
    SELF-pair runs 'er er er er' — the overlap shape the pre-r6
    padded-replace rewrite got wrong."""
    import duckdb as _duck

    from datafusion_streams_spark.operators import REGISTRY
    from tests.conftest import assert_frames_match

    rows = [
        (1, "erererer erererer ererer", "en", "web", 24),
        (2, "erererer banana erer", "en", "web", 20),
        (3, "go stop erererer rere", "en", "books", 21),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    merges = REGISTRY["text_bpe_merges"].fn(spark, str(tmp_path)).toPandas()
    by_round = {int(r.merge_round): r.pair for r in merges.itertuples()}
    assert by_round[1] == "e r", by_round
    assert by_round[2] == "er er", by_round  # the run-merge hazard round
    for name in ("text_bpe_merges", "text_bpe_fertility"):
        spec = REGISTRY[name]
        a = spec.fn(spark, str(tmp_path)).toPandas()
        b = con.execute(spec.oracle).fetchdf()
        assert_frames_match(a, b, name)
    con.close()


def test_bpe_self_pair_runs_are_canonical(spark, tmp_path, duck):
    """The case the pre-r6 padded replace got wrong: when the winning
    pair is a SELF-pair (x, x), runs like 'a a a a' must merge
    left-to-right non-overlapping ('aa aa', canonical greedy), not at
    alternating positions. Craft a corpus whose round-1 winner is
    ('a', 'a') and whose round-2 winner merges across the new symbol,
    then pin Spark == DuckDB oracle == textbook Python on it."""
    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.operators.text import _BPE_ORACLE, _BPE_ROUNDS

    rows = [
        (1, "aaaa aaaa aaa baaaab", "en", "t", 19),
        (2, "aaaaa caaac aaaa", "en", "t", 16),
        (3, "xy xy zaaz", "en", "t", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = sorted(
        (r.merge_round, r.pair, r.merged, r.pair_count)
        for r in REGISTRY["text_bpe_merges"].fn(spark, str(tmp_path)).collect()
    )
    assert out[0][1] == "a a", f"corpus must elect the self-pair first: {out}"

    import duckdb as _duck

    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = sorted(map(tuple, con.execute(_BPE_ORACLE).fetchall()))
    assert out == oracle

    # textbook canonical greedy, independent implementation
    import re
    from collections import Counter

    words: Counter = Counter()
    for _, text, *_ in rows:
        for w in re.split(r"\s+", text.lower()):
            if w:
                words[w] += 1
    seg = {tuple(w): f for w, f in words.items()}
    expected = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pairs: Counter = Counter()
        for syms, f in seg.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rnd, f"{a} {b}", a + b, cnt))
        new_seg: dict = {}
        for syms, f in seg.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_seg[key] = new_seg.get(key, 0) + f
        seg = new_seg
    assert out == sorted(expected)


def test_peak_concurrency_and_pattern_match_partition_invariance(spark, tmp_path):
    """The two r6 scale rewrites must be pure functions of the data,
    not the file layout: the distributed sweep (per-day windows +
    broadcast offsets) and the month-chunked pattern encode both carry
    total tiebreak orders, so re-splitting the events input into 1 or
    13 files must reproduce identical rows."""
    from datafusion_streams_spark.catalog import table
    from datafusion_streams_spark.operators import REGISTRY

    ev = table(spark, SF_DIR_SMALL, "events")
    for name in ("events_peak_concurrency", "events_pattern_match"):
        fn = REGISTRY[name].fn
        base = sorted(map(tuple, fn(spark, SF_DIR_SMALL).collect()))
        assert len(base) > 0
        for nparts in (1, 13):
            alt = str(tmp_path / f"{name}_p{nparts}")
            ev.repartition(nparts).write.parquet(f"{alt}/events.parquet")
            got = sorted(map(tuple, fn(spark, alt).collect()))
            assert got == base, (name, nparts)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=9),      # month index
            st.integers(min_value=0, max_value=27),     # step within month
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=3,
        max_size=40,
        unique_by=lambda t: (t[0], t[1], t[2]),
    )
)
def test_pattern_match_chunking_matches_whole_history(spark, tmp_path, data):
    """Generative check of the month-chunked encode: for random
    multi-user histories scattered over random months, the chunked
    count must equal counting 'vcp' over each user's WHOLE ordered
    symbol string (str.count == non-overlapping count for a pattern
    with no self-overlap)."""
    import shutil

    from pyspark.sql import functions as F

    from datafusion_streams_spark.operators import REGISTRY

    base_us = 1_577_836_800_000_000
    rows = [
        (i, base_us + (m * 32 * 86_400 + s * 3600) * 1_000_000, u, e)
        for i, (u, m, s, e) in enumerate(data)
    ]
    out = str(tmp_path / "gen")
    shutil.rmtree(out, ignore_errors=True)
    spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, event_type string"
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")

    got = {
        r.user_id: (r.seq_len, r.n_patterns)
        for r in REGISTRY["events_pattern_match"].fn(spark, out).collect()
    }
    expected = {}
    by_user: dict = {}
    for i, (u, m, s, e) in enumerate(data):
        by_user.setdefault(u, []).append((rows[i][1], i, e[0]))
    for u, evs in by_user.items():
        seq = "".join(sym for _, _, sym in sorted(evs))
        n = seq.count("vcp")
        if n > 0:
            expected[u] = (len(seq), n)
    assert got == expected


def test_round6_helpers_match_exact_fraction_rounding(spark):
    """r8: the exact-integer 6-dp rounding family (functions.round6_ratio
    / round6_micro and their DuckDB twins) must equal round-half-away-
    from-zero of the TRUE rational numer/denom — including the exact-half
    cases (2^a*5^b denominators) where rounding the double instead splits
    Spark (HALF_UP on the shortest rendering) from DuckDB (rounds the
    binary value); 5165/80000 is the live case the sf0.1 sweep caught in
    text_classifier_score. Both engines, 600+ adversarial ratios."""
    import random

    from fractions import Fraction

    import duckdb
    import pandas as pd

    from datafusion_streams_spark.functions import (
        round6_micro,
        round6_ratio,
        sql_round6_micro,
        sql_round6_ratio,
    )

    rng = random.Random(8)
    rows = []
    for _ in range(600):
        d = rng.choice(
            [1, 2, 4, 5, 8, 16, 32, 64, 80, 125, 128, 160,
             16000, 80000, 1 << 17, 10 ** 6, 3, 7, 11, 997, 10 ** 9]
        )
        # domain: |ratio| <= 1e6 (shares, averages, scores, prices)
        bound = min(10 ** 6 * d, 10 ** 15)
        rows.append((rng.randint(-bound, bound), d))
    rows += [(5165, 80000), (-1023, 16000), (1, 128), (-1, 128), (0, 7),
             (999999999999999, 10 ** 9), (-999999999999999, 10 ** 9)]
    pdf = pd.DataFrame(rows, columns=["n", "d"])

    out = (
        spark.createDataFrame(pdf)
        .select(
            "n",
            "d",
            round6_ratio("n", "d").alias("r"),
            round6_micro("n", "d").alias("u"),
        )
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        f"SELECT n, d, {sql_round6_ratio('n', 'd')} AS r,"
        f" {sql_round6_micro('n', 'd')} AS u FROM t"
    ).fetchdf()
    con.close()

    def expected_micro(n: int, d: int) -> int:
        q = Fraction(abs(n), d) * 10 ** 6
        fl = q.numerator // q.denominator
        r6 = fl + (1 if q - fl >= Fraction(1, 2) else 0)
        return (-1 if n < 0 else 1) * r6

    m = out.merge(odf, on=["n", "d"], suffixes=("_s", "_o"))
    assert len(m) == len(rows)
    for _, r in m.iterrows():
        e_u = expected_micro(int(r["n"]), int(r["d"]))
        assert int(r["u_s"]) == e_u, (r["n"], r["d"], r["u_s"], e_u)
        assert int(r["u_o"]) == e_u, (r["n"], r["d"], r["u_o"], e_u)
        # the double form is the exact micro integer divided by 1e6,
        # identical across engines bit-for-bit
        assert r["r_s"] == r["r_o"], (r["n"], r["d"], r["r_s"], r["r_o"])
        assert r["r_s"] == e_u / 10 ** 6, (r["n"], r["d"], r["r_s"], e_u)


def test_round6_wide_operands_survive_int64_overflow(spark):
    """r9 (ADVICE): caller-supplied numerator/denominator arithmetic
    like ``cents * hist_n - hist_sum`` used to evaluate in BIGINT before
    _micro_sql's outer CAST — past 2^63 non-ANSI Spark wraps silently
    while DuckDB raises, a silent parity split at cluster scale. The
    ``{W}`` placeholder now widens marked operands to DECIMAL(38,0) /
    HUGEINT. This pins: (a) both engines agree with exact Fraction
    rounding when the inner products exceed int64, and (b) the
    unwidened form really does raise in DuckDB (the loud half of the
    old split)."""
    from fractions import Fraction

    import duckdb
    import pandas as pd
    import pytest

    from datafusion_streams_spark.functions import (
        round6_micro,
        round6_ratio,
        sql_round6_micro,
        sql_round6_ratio,
    )

    # a*b = 1.6e19 > 2^63; denominator product 10000*c = 2e19 > 2^63
    rows = [
        (4_000_000_000_000_000_000, 4, 2_000_000_000_000_000),
        (-4_000_000_000_000_000_000, 4, 2_000_000_000_000_000),
        (9_000_000_000_000_000_000, 3, 1_350_000_000_000_000),
        (1_234_567_890_123_456_789, 13, 7_777_777_777_777_777),
    ]
    pdf = pd.DataFrame(rows, columns=["a", "b", "c"])
    numer = "CAST(a AS {W}) * b"
    denom = "CAST(10000 AS {W}) * c"

    out = (
        spark.createDataFrame(pdf)
        .select(
            "a",
            round6_ratio(numer, denom).alias("r"),
            round6_micro(numer, denom).alias("u"),
        )
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        f"SELECT a, {sql_round6_ratio(numer, denom)} AS r,"
        f" {sql_round6_micro(numer, denom)} AS u FROM t"
    ).fetchdf()
    # the unwidened form overflows BIGINT loudly in DuckDB -- this is
    # the failure mode the widening exists to remove
    with pytest.raises(duckdb.OutOfRangeException):
        con.execute(f"SELECT {sql_round6_ratio('a * b', 'c')} FROM t").fetchdf()
    con.close()

    def expected_micro(a: int, b: int, c: int) -> int:
        q = Fraction(abs(a * b), 10000 * c) * 10 ** 6
        fl = q.numerator // q.denominator
        r6 = fl + (1 if q - fl >= Fraction(1, 2) else 0)
        return (-1 if a < 0 else 1) * r6

    m = out.merge(odf, on="a", suffixes=("_s", "_o"))
    assert len(m) == len(rows)
    # itertuples, not iterrows: iterrows coerces the mixed row to
    # float64, shredding the >2^53 int64 keys
    for r in m.itertuples():
        a, b, c = next(t for t in rows if t[0] == int(r.a))
        e_u = expected_micro(a, b, c)
        assert int(r.u_s) == e_u, (a, r.u_s, e_u)
        assert int(r.u_o) == e_u, (a, r.u_o, e_u)
        assert r.r_s == r.r_o == e_u / 10 ** 6, (a, r.r_s, r.r_o)


def test_round6_domain_guard_raises_both_engines(spark):
    """r10 verdict item 6, strengthened: the real overflow boundary of
    the round6 family is Spark's decimal ``div``, which returns LONG
    and SILENTLY WRAPS past 2^63 under non-ANSI mode (probed live this
    round: ``CAST(1e23 AS DECIMAL(38,0)) div 2`` wraps negative) while
    DuckDB's HUGEINT ``//`` stays exact — a silent parity split that
    corrupted round6_ratio as well as round6_micro, one level deeper
    than the BIGINT cast the r9 note blamed. ``_micro_sql`` now guards
    the documented domain |numer/denom| <= 9e9 in exact wide
    arithmetic, so past the bound BOTH engines raise the SAME message
    instead. Pins: (a) the guard fires identically in Spark and DuckDB
    for both helpers, (b) it stays silent at the bound exactly (ratio
    == 9e9), where the div is three orders of magnitude below wrap."""
    import duckdb
    import pandas as pd
    import pytest
    from pyspark.sql.utils import CapturedException

    from datafusion_streams_spark.functions import (
        round6_micro,
        round6_ratio,
        sql_round6_micro,
        sql_round6_ratio,
    )

    numer = "CAST(a AS {W}) * b"
    # at the bound: 9e18 * 1 / 1e9 = 9e9 exactly -> micro 9e15, fine.
    ok = pd.DataFrame([(9_000_000_000_000_000_000, 1)], columns=["a", "b"])
    # over: 9e18 * 10240 / 1e9 ~ 9.2e13; unguarded, the Spark div's
    # LONG result (~9.2e19) would wrap silently.
    bad = pd.DataFrame([(9_000_000_000_000_000_000, 10240)], columns=["a", "b"])
    denom = "1000000000"

    got = (
        spark.createDataFrame(ok)
        .select(
            round6_micro(numer, denom).alias("u"),
            round6_ratio(numer, denom).alias("r"),
        )
        .collect()
    )
    assert got[0].u == 9_000_000_000_000_000
    assert got[0].r == 9_000_000_000.0

    for col in (round6_micro(numer, denom), round6_ratio(numer, denom)):
        with pytest.raises(CapturedException, match="round6 domain overflow"):
            spark.createDataFrame(bad).select(col.alias("x")).collect()

    con = duckdb.connect()
    con.register("ok_t", ok)
    con.register("bad_t", bad)
    o = con.execute(
        f"SELECT {sql_round6_micro(numer, denom)} AS u,"
        f" {sql_round6_ratio(numer, denom)} AS r FROM ok_t"
    ).fetchone()
    assert o[0] == 9_000_000_000_000_000
    assert o[1] == 9_000_000_000.0
    for sql in (sql_round6_micro(numer, denom), sql_round6_ratio(numer, denom)):
        with pytest.raises(duckdb.Error, match="round6 domain overflow"):
            con.execute(f"SELECT {sql} FROM bad_t").fetchdf()
    con.close()


def test_events_stream_trigger_knob_preserves_registered_results(spark, tmp_path):
    """r11: sources.kafka.EVENTS_MAX_FILES_PER_TRIGGER is the scale
    probe's opt-in micro-batch splitter. Contract: setting it changes
    HOW the registered stateful queries are batched, never WHAT they
    return — the same events replayed as one drain (knob unset, one
    trigger) and as one-trigger-per-file (knob=1 over a 3-file
    landing) must produce identical finals from the REGISTERED
    streaming_stateful_totals. Also pins that the knob resets cleanly
    (module default None)."""
    import pyarrow.parquet as pq

    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.sources import kafka as ksrc
    from tools.reuse_audit import execution_mark, stream_batches

    assert ksrc.EVENTS_MAX_FILES_PER_TRIGGER is None  # module default

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    land = tmp_path / "land"
    land.mkdir()
    step = (src.num_rows + 2) // 3
    for i in range(3):
        part = src.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, str(land / f"events_{i:02d}.parquet"))

    def run(knob):
        ksrc.EVENTS_MAX_FILES_PER_TRIGGER = knob
        try:
            mark = execution_mark(spark)
            rows = REGISTRY["streaming_stateful_totals"].fn(spark, str(land)).collect()
            (batches,) = stream_batches(spark, mark).values()
        finally:
            ksrc.EVENTS_MAX_FILES_PER_TRIGGER = None
        return {r.user_id: (r.n_events, r.total_cents) for r in rows}, len(batches)

    whole, t_whole = run(None)
    split, t_split = run(1)
    assert whole == split
    assert t_whole == 1, t_whole   # unset: AvailableNow drains all files at once
    assert t_split == 3, t_split   # knob=1: one trigger per file


def test_round6_domain_guard_boundary_exact_both_engines(spark):
    """The structural round6 guard must cut at EXACTLY |numer| =
    denom * 9e9 in both engines — one engine guarding at <= and the
    other at < (or either comparing in a lossy type) would silently
    diverge on the boundary row. For denominators spanning six orders
    of magnitude (including non-round and 2^a*5^b values), n = d*9e9
    must round-trip with identical micros in BOTH engines and
    n = d*9e9 + 1 must RAISE in both."""
    import duckdb
    import pandas as pd
    import pytest
    from pyspark.sql.utils import CapturedException

    from datafusion_streams_spark.functions import (
        round6_micro,
        sql_round6_micro,
    )

    BOUND = 9_000_000_000
    dens = [1, 3, 7, 80, 997, 16000, 10**6, 123_456_789, 10**9]
    ok = pd.DataFrame(
        [(d * BOUND, d) for d in dens] + [(-d * BOUND, d) for d in dens],
        columns=["n", "d"],
    )
    bad = pd.DataFrame(
        [(d * BOUND + 1, d) for d in dens] + [(-(d * BOUND) - 1, d) for d in dens],
        columns=["n", "d"],
    )
    numer, denom = "CAST(n AS {W})", "CAST(d AS {W})"

    got = (
        spark.createDataFrame(ok)
        .select("n", "d", round6_micro(numer, denom).alias("u"))
        .toPandas()
        .set_index(["n", "d"])["u"]
    )
    con = duckdb.connect()
    con.register("ok_t", ok)
    odf = con.execute(
        f"SELECT n, d, {sql_round6_micro(numer, denom)} AS u FROM ok_t"
    ).fetchdf().set_index(["n", "d"])["u"]
    for (n, d) in got.index:
        expect = (1 if n >= 0 else -1) * BOUND * 10**6
        assert int(got[(n, d)]) == expect == int(odf[(n, d)]), (n, d)

    # one row past the bound raises in BOTH engines, every denominator
    for i in range(len(bad)):
        row = bad.iloc[[i]]
        with pytest.raises(CapturedException, match="round6 domain overflow"):
            spark.createDataFrame(row).select(
                round6_micro(numer, denom).alias("u")
            ).collect()
    con.register("bad_t", bad)
    for i in range(len(bad)):
        with pytest.raises(duckdb.Error, match="round6 domain overflow"):
            con.execute(
                f"SELECT {sql_round6_micro(numer, denom)} FROM "
                f"(SELECT * FROM bad_t LIMIT 1 OFFSET {i})"
            ).fetchdf()
    con.close()


def test_bpe_flat_seg_matches_declarative_chain(spark, tmp_path):
    """r15 optimization invariant: `_bpe_seg_flat` (collected winners,
    flat lineage — what text_bpe_fertility consumes) must produce the
    exact segmentation of the declarative `_bpe_chain` (what
    text_bpe_merges emits winners from), including on a corpus with
    self-pair runs and multi-round interactions."""
    from datafusion_streams_spark.operators.text import _bpe_chain, _bpe_seg_flat

    rows = [
        (1, "aaaa aaaa aaa baaaab", "en", "t", 19),
        (2, "aaaaa caaac aaaa", "en", "t", 16),
        (3, "xy xy zaaz erer ere", "en", "t", 19),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    _, seg_decl = _bpe_chain(spark, str(tmp_path))
    seg_flat = _bpe_seg_flat(spark, str(tmp_path))
    a = sorted(map(tuple, seg_decl.collect()))
    b = sorted(map(tuple, seg_flat.collect()))
    assert a == b
    # dtypes must match; nullability may differ (literal replace args
    # are provably non-null, the crossJoin-derived ones are not) — the
    # registered query's FINAL schema is pinned by the oracle-parity
    # suite either way
    assert seg_decl.dtypes == seg_flat.dtypes
