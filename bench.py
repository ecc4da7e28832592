#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall-clock seconds.

Metric definition (BASELINE.md): per-query wall-clock on the SURVEY §2
inventory at sf0.1, AQE on. Each query executes to completion via a
count() over the result (forces full evaluation, no driver collect of
payload rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_streams_spark import get_session
from datafusion_streams_spark.operators import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family (full inventory
# runs in the correctness gate; bench tracks the scale-relevant ones).
# Emission order = print priority: the compact line sheds from the TAIL
# when the budget bites (~47-51 printed of 105). r13 verdict item 8:
# the three most expensive detail-file queries (files_avro_snappy,
# text_bpe_fertility, streaming_checkpoint_recovery) sat past the shed
# point, so the printed line missed the true top of the cost
# distribution — they were SWAPPED in place with three cheap early
# slots (sort_topk_global, join_asof, sample_weighted), which is why
# three names sit outside their round-comment blocks below.
HEADLINE = [
    "ref_kafka_pipeline",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "agg_rollup",
    "join_broadcast_dim",
    "window_topk_per_group",
    "streaming_checkpoint_recovery",
    "events_tumbling_hour",
    "events_session_window",
    "text_bpe_fertility",
    "rollup_multiresolution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_topk_bruteforce",
    "ann_lsh_bucketed",
    "similarity_pairs_vectorized",
    "cluster_kmeans_embeddings",
    "dedup_semantic_clusters",
    "ann_pq_adc",
    "text_quality_score",
    "text_fingerprint",
    "text_repetition_filter",
    "text_contamination",
    "multimodal_binary_meta",
    "pipeline_curation",
    "streaming_ref_pipeline",
    "streaming_tumbling_hour",
    # round-3 additions
    "ann_ivf_pq",
    "text_gopher_rules",
    "events_path_analysis",
    "files_avro_snappy",
    "streaming_static_join",
    "text_domain_mix",
    "dedup_source_overlap",
    "join_fuzzy_match",
    # round-4 additions
    "text_bm25_search",
    "dedup_rewrite_map",
    "pipeline_token_packing",
    "sample_quality_tiers",
    "files_orc_roundtrip",
    "udtf_token_windows",
    "events_sessionize",
    "streaming_stateful_totals",
    "join_salted_skew",
    "sql_recursive_date_spine",
    "events_attribution",
    "files_partitioned_pruning",
    "streaming_parquet_sink",
    "agg_histogram",
    "sort_topk_global",
    "text_seq_dedup",
    "text_source_contrast",
    "pipeline_curation_v3",
    "join_bucketed",
    # round-4 lifecycle additions
    "events_scd2_compress",
    "timeseries_gap_fill",
    "join_interval_overlap",
    "sample_group_split",
    "streaming_sessionize_state",
    "embedding_mrl_recall",
    "agg_correlation",
    "graph_pagerank_transitions",
    "sample_temperature_rebalance",
    "pipeline_shard_shuffle",
    "layout_zorder_audit",
    "dedup_novelty_curve",
    # runtime data-reduction operators
    "join_bloom_prefilter",
    "join_dpp_prune",
    "agg_heavy_hitters",
    "streaming_dedup_watermark",
    "window_gaps_islands",
    "events_audience_overlap",
    "text_collocations_pmi",
    "files_pysink_manifest",
    "timeseries_ohlc_bars",
    "files_merge_on_read",
    "files_time_travel",
    "agg_bitmap_distinct",
    "audit_constraints",
    "dedup_sorted_neighborhood",
    "text_bigram_logprob",
    "timeseries_resample_interpolate",
    "streaming_multi_source_union",
    "multimodal_simhash_neardup",
    "events_forecast_backtest",
    "pipeline_incremental_curation",
    "text_bpe_merges",
    "text_classifier_score",
    "pipeline_drift_psi",
    "sample_importance_dsir",
    "streaming_drift_psi",
    "join_asof",
    "multimodal_bmp_decode",
    # round-6 additions
    "files_avro_deflate",
    "sample_weighted",
    "multimodal_png_decode",
    "multimodal_wav_decode",
    "multimodal_jpeg_decode",
]


# Queries whose r7 queries_all_reps showed >=2.4x same-plan spread —
# short-wall queries that ambient box load distorts hardest. They take
# a third base rep (min-of-N only converges when N outlasts the noise);
# every query additionally takes up to 2 extra reps while its two
# fastest runs still disagree by >15% (the streaming replay's adaptive
# rule, promoted to the per-query sweep in r8; threshold tightened
# 1.30 -> 1.15 in r12 — the quiet gate fixed run-level ambient, but
# sub-30% per-query bounces like r11's 1.23x dedup_source_overlap sat
# below the old trigger and survived into the round-over-round diff.
# Per-query minima are NOT comparable across the r11/r12 boundary at
# the ~1.1-1.3x granularity; totals are, since minima only tighten).
HIGH_VARIANCE = {
    "join_bucketed",
    "dedup_rewrite_map",
    "dedup_minhash_lsh",
    "files_partitioned_pruning",
    "join_dpp_prune",
    "files_pysink_manifest",
    "files_time_travel",
    "files_merge_on_read",
    "cluster_kmeans_embeddings",
    "ann_topk_bruteforce",
}
ADAPTIVE_EXTRA_REPS = 2
ADAPTIVE_SPREAD = 1.15


def base_reps_for(name: str, reps: int) -> int:
    """Base rep count for one query: tagged high-variance queries take
    at least 3 (unit-tested in tests/test_bench_contract.py)."""
    return max(reps, 3) if name in HIGH_VARIANCE else reps


def _calib_spin(_arg: int = 0) -> int:
    """The fixed calibration workload: one pure-Python integer loop.
    Shared verbatim by the single-core and parallel calibrations so
    pcalib/calib is a clean parallel-slowdown ratio."""
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return acc


def cpu_calibration() -> float:
    """Single-core host-speed denominator (r12): seconds for a fixed
    pure-Python workload, min-of-3. The load/spread fields adjudicate
    COMPETING load, but rounds run on freshly provisioned VMs whose
    per-core throughput itself varies (r12: an idle box ran identical
    untouched queries ~1.5x slower than r11's idle box — nothing to
    gate on, everything to normalize by). Totals divided by calib are
    comparable across hosts; raw totals are not."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _calib_spin()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def parallel_cpu_calibration() -> float:
    """PARALLEL host-speed denominator (r13, closing the r12 gap): wall
    seconds for os.cpu_count() processes each running the single-core
    calib workload concurrently, min-of-3. The single-core calib is
    blind to co-tenant CPU steal that degrades parallel throughput —
    r12's own series proved it: three mid-round quiet runs at ~105 s
    and a round-close at 76.5 s with calib UNCHANGED (0.1096 →
    0.1077), i.e. the failure mode that actually distorted the round
    was invisible to the field meant to catch it. Spark runs 32-way
    parallel, so the honest denominator is measured 32-wide.

    Measured BEFORE the SparkSession exists (same rule as calib: JVM
    background threads pollute the denominator). The worker pool is
    started and warmed with one task round before timing, so fork +
    import cost stays out of the measurement."""
    import multiprocessing as mp

    n = os.cpu_count() or 1
    with mp.Pool(n) as pool:
        pool.map(_calib_spin, range(n))  # warm: fork/startup excluded
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            pool.map(_calib_spin, range(n))
            best = min(best, time.perf_counter() - t0)
    return round(best, 4)


# Memory-bandwidth calibration buffer: 256 MiB — far past any L3 slice,
# so a copy is DRAM-bandwidth-bound. Held in a module global so the
# parallel pool's initializer allocates it once per worker and the
# timed reps measure copies, not first-touch page faults.
_MEMBW_WORDS = 32 * 1024 * 1024  # int64 words = 256 MiB
# parallel variant: 64 MiB per worker — the AGGREGATE (N x 64 MiB = 2
# GiB per copy round at N=32) is what must exceed L3, and the 32-wide
# 8 GiB first-touch of the 256 MiB buffers measured 164 s under live
# co-tenant pressure (r13) — setup cost, not signal
_MEMBW_WORDS_PARALLEL = 8 * 1024 * 1024
_MEMBW_BUF = None


def _membw_init(words: int = _MEMBW_WORDS) -> None:
    global _MEMBW_BUF
    import numpy as np

    _MEMBW_BUF = np.ones(words, dtype=np.int64)


def _membw_spin(_arg: int = 0) -> None:
    b = _MEMBW_BUF.copy()
    del b


def mem_calibrations() -> tuple[float, float]:
    """Single-process memory denominator PAIR (r13): ``(fault, copy)``.

    ``copy`` is the min-of-3 resident-buffer copy of 256 MiB — DRAM
    bandwidth. Motivation: the r13 quiet run measured walls 1.27x the
    r12 run with BOTH cpu calibs flat (calib 0.1057 vs 0.1077; pcalib
    stable +-2% across four same-day samples) while untouched
    shuffle/scan-heavy queries shifted worst and streaming replay
    halved — the drift lives in a resource a pure-Python L1-resident
    loop cannot see.

    ``fault`` is the setup that was being paid anyway, now timed:
    allocate + first-touch the fresh 256 MiB buffer and its copy
    destination — PAGE-ALLOCATION throughput. Measured the same r13
    afternoon: first-touch collapsed ~400x (np.ones of 256 MiB took
    39.7 s, the first copy 31.7 s) while RESIDENT copies stayed at
    0.063 s and cpu calibs at idle values — a host-memory pathology
    (overcommit/ballooning) that hits everything allocating fresh
    pages (JVM young gen, Arrow batches, shuffle buffers) and nothing
    resident. The two numbers separate 'DRAM is saturated' from 'the
    hypervisor is slow-walking page supply'."""
    global _MEMBW_BUF
    t0 = time.perf_counter()
    _membw_init()
    _membw_spin()  # warm: first-touch of buffer AND copy-dest arena
    fault = time.perf_counter() - t0
    try:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _membw_spin()
            best = min(best, time.perf_counter() - t0)
        return round(fault, 4), round(best, 4)
    finally:
        _MEMBW_BUF = None


def mem_calibration() -> float:
    """The copy half of mem_calibrations() (kept for callers that want
    the bandwidth denominator alone)."""
    return mem_calibrations()[1]


def parallel_mem_calibrations() -> tuple[float, float]:
    """Aggregate memory denominator pair: ``(fault, copy)`` with
    os.cpu_count() processes each working a 64 MiB buffer concurrently.
    ``copy`` (min-of-3 wall for N simultaneous resident copies)
    saturates the socket's memory controllers the way a 32-wide Spark
    shuffle does. ``fault`` times pool fork + N-wide first-touch —
    the parallel page-allocation path, which measured 164 s under live
    co-tenant pressure vs ~10 s idle. A co-tenant streaming through
    DRAM (or a hypervisor rationing pages) shows up here when it is
    invisible to every CPU-bound calib."""
    import multiprocessing as mp

    n = os.cpu_count() or 1
    t0 = time.perf_counter()
    with mp.Pool(
        n, initializer=_membw_init, initargs=(_MEMBW_WORDS_PARALLEL,)
    ) as pool:
        pool.map(_membw_spin, range(n))  # warm: first-touch copy arenas
        fault = time.perf_counter() - t0
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            pool.map(_membw_spin, range(n))
            best = min(best, time.perf_counter() - t0)
    return round(fault, 4), round(best, 4)


def parallel_mem_calibration() -> float:
    """The copy half of parallel_mem_calibrations()."""
    return parallel_mem_calibrations()[1]


def main() -> None:
    # calibrate BEFORE the SparkSession exists: measured in-process
    # right after session warmup the same workload read 0.194 s vs
    # 0.107 s in a bare shell on the same idle box — JVM background
    # threads (GC, codegen) pollute the host-speed denominator
    calib = cpu_calibration()
    pcalib = parallel_cpu_calibration()
    fcalib, mcalib = mem_calibrations()
    pfcalib, pmcalib = parallel_mem_calibrations()
    spark = get_session(app_name="dfs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # queries, not first-run class loading.
    REGISTRY["ref_kafka_pipeline"].fn(spark, SF_DIR).count()
    # Spin up the Python/Arrow worker pool too (one worker per core),
    # plus the applyInPandas and broadcast-join machinery: pandas-UDF
    # queries would otherwise pay ~4 s of one-time session startup
    # inside their first timing.
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").count()
    tiny = spark.range(0, 64, 1, 8)
    dim = spark.range(0, 2).select(F.col("id").alias("k"))
    tiny.join(F.broadcast(dim), (tiny.id % 2) == F.col("k")).count()
    tiny.groupBy((F.col("id") % 4).alias("g")).applyInPandas(
        lambda p: p[["id"]], "id long"
    ).count()

    # min over REPS runs per query: the box runs under variable external
    # load (observed +-50% swings, r1/r2), and min-of-N is the standard
    # way to report the machine-independent steady-state cost. The cold
    # (first-run) number is reported alongside — it includes one-time
    # cache materialization and matches the round-1 methodology.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    # Measurement fix (r15 verdict item 1): the driver-side fitted-model
    # memos (PQ codebooks, k-means model, minhash component labels)
    # persist across reps AND across queries sharing a fit, so under
    # min-of-reps the reported numbers for ann_pq_adc / ann_ivf_pq /
    # cluster_kmeans_embeddings / dedup_semantic_clusters /
    # dedup_rewrite_map never included the model fit. Clearing the
    # memos before every timed rep makes each rep pay the fit
    # end-to-end; the memos stay in the engine for genuine session
    # reuse outside the bench. (Numbers for those five queries rise
    # relative to r15 — that is the fix, not a regression.)
    from datafusion_streams_spark.operators import release_model_memos

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    all_reps: dict[str, list[float]] = {}
    # ambient-load context for the detail file: same-plan rep spreads
    # up to 17x have been recorded on this box, so round-over-round
    # totals are only interpretable next to what else the machine was
    # doing (1/5/15-min load averages, 32 hardware threads)
    load_start = tuple(round(x, 2) for x in os.getloadavg())
    for name in HEADLINE:
        spec = REGISTRY[name]
        runs: list[float] = []

        def _one_run() -> None:
            release_model_memos(spark)  # every rep pays the model fit
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).count()
            runs.append(round(time.perf_counter() - t0, 3))

        for _ in range(base_reps_for(name, reps)):
            _one_run()
        cold[name] = runs[0]
        # adaptive extras: while the two fastest runs disagree by >30%
        # the moment is ambient-loaded — take up to 2 more (same rule
        # as the streaming replay metric, r7)
        while len(runs) < base_reps_for(name, reps) + ADAPTIVE_EXTRA_REPS:
            fastest, runner_up = sorted(runs)[:2]
            if runner_up <= fastest * ADAPTIVE_SPREAD:
                break
            _one_run()
        timings[name] = min(runs)
        all_reps[name] = runs

    # Post-sweep storage hygiene: a few queries intentionally cache
    # shared relations (minhash signatures, BPE vocab, checkpointed
    # component labels) with no per-query unpersist hook; release them
    # once the sweep is over so the streaming metrics (and any
    # embedding process) start from clean executor storage.
    from datafusion_streams_spark.operators import release_shared_caches

    release_shared_caches(spark)

    streaming = _streaming_metrics(spark)

    total = round(sum(timings.values()), 3)
    load_end = tuple(round(x, 2) for x in os.getloadavg())
    # Worst same-plan rep spread this run: the single best ambient-load
    # indicator besides the load averages themselves (r9: the driver
    # artifact recorded 87 s vs the true 65 s and the forensics had to
    # come from commit archaeology — now the printed line carries both).
    # WARM reps only (runs[1:]): the cold first rep includes one-time
    # cache materialization by design, so queries like dedup_minhash_lsh
    # would structurally dominate the spread even on an idle box and
    # saturate the very signal this field exists to carry (r10 review).
    def _warm(runs: list[float]) -> list[float]:
        return runs[1:] if len(runs) > 1 else runs

    def _spread(runs: list[float]) -> float:
        w = _warm(runs)
        lo = min(w)
        return max(w) / lo if lo > 0 else 1.0

    worst_q = max(all_reps, key=lambda n: _spread(all_reps[n]))
    worst_spread = {
        "q": worst_q,
        "min": min(_warm(all_reps[worst_q])),
        "max": max(_warm(all_reps[worst_q])),
    }
    # tolerate data dirs not named sf<N>: never lose timings to a parse
    # error after all queries have already run
    raw_sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf: float | str | None = float(raw_sf)
    except ValueError:
        sf = raw_sf or None

    # Full per-query detail (warm min + cold first-run) goes to a side
    # file; the driver's log capture keeps only the LAST 2000 bytes of
    # stdout, so the one-line JSON contract below must stay under that
    # or the recorded BENCH_r{N}.json ends up with parsed=null (this
    # bit rounds 2 and 3).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold,
                "queries_all_reps": all_reps,
                "reps": reps,
                "streaming": streaming,
                "sf": sf,
                # the SAME sample as the printed line's load[3:6] — a
                # third sample here let the two artifacts disagree on a
                # moving box, re-opening the forensic ambiguity the
                # field exists to close (r10 review)
                "loadavg_start": load_start,
                "loadavg_end": load_end,
                "cpu_calibration_sec": calib,
                "cpu_parallel_calibration_sec": pcalib,
                "cpu_parallel_calibration_nproc": os.cpu_count(),
                "mem_calibration_sec": mcalib,
                "mem_parallel_calibration_sec": pmcalib,
                "mem_fault_calibration_sec": fcalib,
                "mem_parallel_fault_calibration_sec": pfcalib,
            },
            f,
            indent=1,
        )

    print(
        build_compact_line(
            total,
            timings,
            reps,
            streaming,
            sf,
            load=[*load_start, *load_end],
            spread=worst_spread,
            calib=calib,
            pcalib=pcalib,
            mcalib=mcalib,
            pmcalib=pmcalib,
            fcalib=fcalib,
            pfcalib=pfcalib,
        )
    )


BUDGET = 1900  # driver captures only the LAST 2000 bytes of stdout


def build_compact_line(total, timings, reps, streaming, sf, load=None,
                       spread=None, calib=None, pcalib=None, mcalib=None,
                       pmcalib=None, fcalib=None, pfcalib=None) -> str:
    """Compact single line, truncation-proof: emit per-query timings in
    HEADLINE order until the serialized line would exceed the budget,
    then record how many were folded into the detail file. The BASE
    object (streaming metrics and all) is itself budget-checked — if it
    alone overflows, detail fields are shed (they live in
    BENCH_DETAIL.json) so the printed line NEVER exceeds BUDGET.

    ``load`` is ``[1m,5m,15m]`` loadavg at sweep start + the same
    triple at sweep end (6 floats); ``spread`` is the worst same-plan
    rep spread ``{"q": name, "min": s, "max": s}``. Both make the
    persisted driver artifact ambient-load-adjudicable without commit
    forensics (r9 verdict item 2) — they are part of the never-shed
    base, sized <~90 bytes together."""
    base = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "reps": reps,
        "streaming": streaming,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    if load is not None:
        base["load"] = load
    if spread is not None:
        base["spread"] = spread
    if calib is not None:
        # single-core host-speed denominator (~10 bytes, never shed):
        # raw totals are only cross-round comparable divided by this
        base["calib"] = calib
    if pcalib is not None:
        # parallel (os.cpu_count()-wide) host-speed denominator (r13):
        # the single-core calib cannot see co-tenant CPU steal hitting
        # PARALLEL throughput (r12 forensics); never shed either
        base["pcalib"] = pcalib
    if mcalib is not None:
        # memory-bandwidth denominators (r13): the r13 quiet run showed
        # a 1.27x wall shift at FLAT cpu calibs — shared-host DRAM
        # bandwidth is the remaining resource; never shed
        base["mcalib"] = mcalib
    if pmcalib is not None:
        base["pmcalib"] = pmcalib
    if fcalib is not None:
        # page-allocation (first-touch) denominators (r13): measured
        # collapsing ~400x on this host class while resident-copy and
        # cpu calibs stayed flat; never shed
        base["fcalib"] = fcalib
    if pfcalib is not None:
        base["pfcalib"] = pfcalib
    compact = lambda obj: json.dumps(obj, separators=(",", ":"))  # noqa: E731
    if len(compact(base)) > BUDGET:
        # base alone overflows (streaming detail grew): keep only the
        # headline streaming number, everything else is in the detail file
        slim = {}
        if isinstance(streaming, dict):
            for k in ("events_replay_rows_per_sec",):
                if k in streaming:
                    slim[k] = streaming[k]
        base["streaming"] = slim
    for name in [n for n in HEADLINE if n in timings]:
        trial = dict(base)
        trial["queries"] = {**base["queries"], name: timings[name]}
        omitted = len(timings) - len(trial["queries"])
        if omitted:
            trial["queries_omitted"] = omitted
        if len(compact(trial)) > BUDGET:
            base["queries_omitted"] = len(timings) - len(base["queries"])
            break
        base["queries"] = trial["queries"]
    # Hard clamp (never assert: a crash prints NO line, and asserts
    # vanish under -O). Shed fields progressively until the line fits —
    # everything shed still lives in BENCH_DETAIL.json.
    line = compact(base)
    if len(line) > BUDGET:
        while base["queries"] and len(compact(base)) > BUDGET:
            base["queries"].popitem()
            base["queries_omitted"] = len(timings) - len(base["queries"])
        if len(compact(base)) > BUDGET:
            base["streaming"] = {}
        line = compact(base)
        if len(line) > BUDGET:  # pathological: keep the metric triple only
            slim = {"metric": base["metric"], "value": total, "unit": "sec", "sf": sf}
            if load is not None:
                slim["load"] = load  # 6 rounded floats — always fits
            if spread is not None:
                slim["spread"] = spread  # ~50 bytes: keep the never-shed
                # base honest — load AND spread survive every shed tier
            if calib is not None:
                slim["calib"] = calib  # never shed either
            if pcalib is not None:
                slim["pcalib"] = pcalib  # never shed either
            if mcalib is not None:
                slim["mcalib"] = mcalib  # never shed either
            if pmcalib is not None:
                slim["pmcalib"] = pmcalib  # never shed either
            if fcalib is not None:
                slim["fcalib"] = fcalib  # never shed either
            if pfcalib is not None:
                slim["pfcalib"] = pfcalib  # never shed either
            line = compact(slim)
    return line


def _streaming_metrics(spark) -> dict:
    """BASELINE.md proxy metrics (b) and (c): bounded events replay
    throughput, and micro-batch cadence at the reference-mirroring
    config (200 ms trigger / 3 source partitions —
    /root/reference/tests/basic_tests.rs:32-42)."""
    from datafusion_streams_spark.sources.kafka import kafka_like_stream
    from datafusion_streams_spark.streaming.microbatch import drain

    # (b) throughput: full micro-batch replay of events through the
    # reference pipeline (cast + length), drain-then-stop.
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    from pyspark.sql import functions as F

    # min-of-N like the query timings: the first drain pays one-time
    # MicroBatchExecution/source-listing setup that a steady-state
    # pipeline amortizes away. Three base reps; when the two fastest
    # still disagree by >10% the moment is ambient-loaded, so take up
    # to three extra reps — the round-over-round headline should track
    # the machine's best sustained rate, not the load average during
    # one invocation (r6 recorded 240.9k mid-round vs 208.1k at the
    # final run from identical code).
    replay_runs: list[float] = []

    def _one_replay() -> None:
        pipe = kafka_like_stream(spark, SF_DIR).select(
            F.col("key").cast("string").alias("key"),
            F.length(F.col("value").cast("string")).alias("len_value"),
        )
        t0 = time.perf_counter()
        sink_name = drain(pipe)
        replay_runs.append(round(time.perf_counter() - t0, 3))
        # each rep's memory sink holds the full replayed table in the
        # driver: drop it so up-to-6 reps don't retain 6 copies
        spark.catalog.dropTempView(sink_name)

    for _ in range(3):
        _one_replay()
    while len(replay_runs) < 6:
        fastest, runner_up = sorted(replay_runs)[:2]
        if runner_up <= fastest * 1.10:
            break
        _one_replay()
    best = min(replay_runs)
    replay_rows_per_sec = round(n_events / best, 1)

    # (c) cadence: rate source, 3 partitions, 200 ms trigger; average
    # trigger execution time from query progress.
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "25")
        .option("numPartitions", "3")
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("bench_rate")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    time.sleep(6)
    progress = list(q.recentProgress)
    q.stop()
    durations = [
        p["durationMs"]["triggerExecution"]
        for p in progress
        if p.get("numInputRows", 0) > 0 and "triggerExecution" in p.get("durationMs", {})
    ]
    avg_trigger_ms = round(sum(durations) / len(durations), 1) if durations else None
    return {
        "events_replay_rows_per_sec": replay_rows_per_sec,
        "events_replayed": n_events,
        "events_replay_runs_sec": replay_runs,
        "microbatch_avg_trigger_ms": avg_trigger_ms,
        "microbatch_trigger_config_ms": 200,
        "microbatch_batches_observed": len(durations),
    }


if __name__ == "__main__":
    main()
