"""Repeatable scale-up probes: re-measure the repo's two headline
scale claims at HEAD instead of carrying them as historical notes.

  A) avro Arrow round trip (write+read+agg through format("avro_py"))
     at 1x / 10x / 100x rows — r7 measured 100x data -> 1.29x wall;
  B) streaming replay (micro-batch drain of the events fixture through
     the reference cast+length pipeline) at 1x / 10x volume —
     r7 measured 10x data -> 1.21x wall;
  C) MinHash-LSH dedup at 1x / 4x / 16x corpus volume (token-suffixed
     copies keep cross-copy shingles disjoint, so the dup structure
     scales k-fold, never quadratically) — the banded-LSH
     sub-quadratic claim as a measured wall ratio;
  D) TPC-H-shaped joins (q3/q9/q21) at 1x / 10x fact volume
     (orderkey-offset copies of lineitem+orders, dims fixed) — the
     relational envelope's 100 TB posture as a measured ratio instead
     of plan reading alone (added r10).
  E) stateful streaming (applyInPandasWithState: running totals +
     sessionization) at 1x / 10x rows / 10x keys / 100x rows (10
     copies per file, so volume grows past the per-trigger setup
     floor), 10 micro-batches each, with per-trigger latency from
     StreamingQueryProgress — the state-carry and state-store-size
     axes measured instead of design-read (added r11; 100x r12);
  F) ANN / embedding similarity at 1x / 4x / 16x corpus (added r11);
  G) planted hot-key skew at 10x volume: salted join vs its unsalted
     twin (AQE skew split on AND off) plus stateful sessionization
     under a user owning ~50% of events (added r12; r11 verdict
     item 3);
  H) connected-components convergence on chain-shaped (adversarial-
     diameter) clusters: rounds + wall at 8x edges and 8x diameter —
     the pointer-doubling O(log d) claim measured (added r12; r11
     verdict item 6).

Both claims say the same thing: fixed per-job cost dominates at
fixture scale and the marginal per-row cost is flat, so the pipelines
ride partition count at 100 TB. The probe prints ONE JSON line with
the measured ratios; run after changes to the DataSource protocol
paths or the streaming drain and paste the line into SCALE_NOTES.md.

    cd /tmp && python /root/repo/tools/scale_probe.py
    python tools/scale_probe.py --sf-dir /root/testdata/sf0.1   # r7 setup

Numbers are warm min-of-N on whatever this box is doing; the RATIOS
are the claim, not the absolute seconds.
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


CALIB_FIELDS = ("calib", "pcalib", "mcalib", "pmcalib", "fcalib", "pfcalib")


def host_calibrations() -> dict:
    """The full calibration sextet (bench.py's denominators), measured
    BEFORE the SparkSession exists (bench.py's rule — JVM background
    threads pollute them). r13 taught this twice: the full r13 probe
    run read walls ~1.5-2x the r12 run at IDENTICAL single-core calib
    (0.1075 vs 0.1077) — the parallel-throughput drift pcalib exposes —
    and the same afternoon first-touch page allocation collapsed ~400x
    (fcalib 0.5 s -> 39.7 s) at flat CPU calibs, the host page-supply
    pathology no CPU-bound denominator can see. Probe walls are only
    cross-round comparable next to ALL SIX, so probe artifacts carry
    them and a pathological host is attributable in-artifact."""
    import bench

    calib = bench.cpu_calibration()
    pcalib = bench.parallel_cpu_calibration()
    fcalib, mcalib = bench.mem_calibrations()
    pfcalib, pmcalib = bench.parallel_mem_calibrations()
    vals = (calib, pcalib, mcalib, pmcalib, fcalib, pfcalib)
    return dict(zip(CALIB_FIELDS, vals))


def _min_of(n: int, fn) -> float:
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return min(runs)


class TriggerLog:
    """Every trigger's ``batchDuration`` per streaming run on one
    session, collected by a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self.spark = spark
        self.runs: list[str] = []
        self.durations: dict[str, list[int]] = {}
        self.ended: set[str] = set()
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                log.runs.append(str(event.runId))

            def onQueryProgress(self, event):
                run = str(event.progress.runId)
                log.durations.setdefault(run, []).append(event.progress.batchDuration)

            def onQueryTerminated(self, event):
                log.ended.add(str(event.runId))

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def mark(self) -> int:
        return len(self.runs)

    def batch_durations(self, since: int) -> list[int]:
        """Trigger durations (ms) of the runs started after the mark
        ``since``. Progress and termination events reach the listener
        through the listener bus, so it is flushed first; a run without
        its terminated event would be read short, so that raises."""
        self.spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
        runs = self.runs[since:]
        live = [r for r in runs if r not in self.ended]
        if live:
            raise RuntimeError(f"streaming runs {live} have not terminated")
        return [d for r in runs for d in self.durations.get(r, [])]

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def probe_avro_roundtrip(spark, reps: int) -> dict:
    """Write+read+count through format("avro_py") at 1x/10x/100x rows
    (8 write partitions, like files_avro_roundtrip)."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.avro_py import register_avro_py

    register_avro_py(spark)
    sizes = (1_500, 15_000, 150_000)
    walls = {}
    for n in sizes:
        src = spark.range(n).select(
            F.col("id").alias("k"),
            F.date_add(F.lit("1997-03-01").cast("date"), (F.col("id") % 365).cast("int")).alias("d"),
            (F.col("id") / 7.0).alias("p"),
            F.concat(F.lit("value "), F.col("id").cast("string")).alias("s"),
        ).repartition(8)

        def trip():
            out = tempfile.mkdtemp(prefix="scale_probe_avro_")
            try:
                src.write.format("avro_py").option("path", out).mode("append").save()
                assert spark.read.format("avro_py").option("path", out).load().count() == n
            finally:
                shutil.rmtree(out, ignore_errors=True)

        walls[n] = round(_min_of(reps, trip), 3)
    return {
        "rows": sizes,
        "wall_sec": [walls[n] for n in sizes],
        "ratio_100x_data": round(walls[sizes[-1]] / walls[sizes[0]], 2),
    }


def probe_events_replay(spark, sf_dir: str, reps: int) -> dict:
    """Micro-batch drain of the events fixture through the reference
    cast+length pipeline at 1x and 10x volume (file copies in a
    landing dir — more rows, same listing shape)."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.kafka import kafka_like_stream
    from datafusion_streams_spark.streaming.microbatch import drain

    src_file = os.path.join(sf_dir, "events.parquet")
    out = {}
    for copies in (1, 10):
        land = tempfile.mkdtemp(prefix=f"scale_probe_replay_{copies}x_")
        try:
            for i in range(copies):
                shutil.copy(src_file, os.path.join(land, f"events_{i:02d}.parquet"))
            n_rows = spark.read.parquet(os.path.join(land, "events_*.parquet")).count()

            def replay():
                pipe = kafka_like_stream(spark, land).select(
                    F.col("key").cast("string").alias("key"),
                    F.length(F.col("value").cast("string")).alias("len_value"),
                )
                spark.catalog.dropTempView(drain(pipe))

            wall = _min_of(reps, replay)
            out[copies] = {"rows": n_rows, "wall_sec": round(wall, 3),
                           "rows_per_sec": round(n_rows / wall, 1)}
        finally:
            shutil.rmtree(land, ignore_errors=True)
    out["ratio_10x_data"] = round(out[10]["wall_sec"] / out[1]["wall_sec"], 2)
    return out


def probe_minhash_scaleup(spark, sf_dir: str, reps: int) -> dict:
    """dedup_minhash_lsh wall at 1x/4x/16x corpus volume.

    Naively duplicating documents would be adversarial: identical
    copies collide in every LSH band and the pair count grows
    quadratically in the copy count — that measures dup structure, not
    corpus growth. Instead every token in copy i gets suffix ``q<i>``
    (regexp_replace on non-space runs), making cross-copy shingles
    disjoint: the near-dup structure scales k-fold and the measured
    wall isolates corpus-volume growth. The claim under test is the
    banded-LSH sub-quadratic property at HEAD: the 16x wall ratio
    stays in the O(k) regime, nowhere near the 256x an all-pairs
    formulation would show (property-tested in
    tests/test_scale_behaviors.py; this probe puts a measured number
    on it)."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.operators import REGISTRY

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    fn = REGISTRY["dedup_minhash_lsh"].fn
    out = {}
    for copies in (1, 4, 16):
        land = tempfile.mkdtemp(prefix=f"scale_probe_minhash_{copies}x_")
        try:
            parts = [
                docs.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                    F.regexp_replace(
                        F.col("text"), r"(\S+)", rf"$1q{i}"
                    ).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
                for i in range(copies)
            ]
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionAll(p)
            scaled.write.mode("overwrite").parquet(
                os.path.join(land, "documents.parquet")
            )
            n_docs = spark.read.parquet(
                os.path.join(land, "documents.parquet")
            ).count()
            pairs = {}

            def run():
                pairs["n"] = fn(spark, land).count()
                # each call caches a fresh shingle + pair relation for
                # this land dir — drop exactly those two (re-deriving
                # the same canonical plans addresses the same cache
                # entries), NOT clearCache(), which would evict every
                # relation session-wide and perturb other probes' walls
                from datafusion_streams_spark.operators.dedup import (
                    _doc_shingle_arrays,
                    minhash_pairs,
                )

                # blocking=True (r9 ADVICE): the default async eviction
                # can leave the previous rep's blocks in executor
                # storage when the next timed run starts — residual
                # noise in exactly the walls this probe stabilizes
                minhash_pairs(spark, land).unpersist(blocking=True)
                _doc_shingle_arrays(spark, land).unpersist(blocking=True)

            wall = _min_of(reps, run)
            out[copies] = {
                "docs": n_docs,
                "pairs": pairs["n"],
                "wall_sec": round(wall, 3),
            }
        finally:
            shutil.rmtree(land, ignore_errors=True)
    out["ratio_16x_data"] = round(out[16]["wall_sec"] / out[1]["wall_sec"], 2)
    return out


def probe_tpch_joins(spark, sf_dir: str, reps: int) -> dict:
    """q3/q9/q21-shaped wall growth at 1x vs 10x fact volume (r9
    verdict item 4: the TPC-H-shaped envelope was the one operator
    family whose 100 TB posture rested on plan reading alone).

    lineitem and orders scale 10x with per-copy orderkey offsets, so
    the fact-fact join structure scales k-fold (each lineitem copy
    joins its own orders copy — no artificial quadratic fan-out);
    suppkey/partkey/custkey stay in range, so dim joins fan out 10x,
    which is exactly what a growing fact table does against fixed
    dims. Dims stay 1x: the claim under test is the FACT shuffle —
    broadcast dim joins are volume-independent by construction.

    Expected regime: ratio_10x well under 10 at fixture scale (fixed
    per-job cost still dominates); the failure mode this would catch
    is super-linear growth from a plan that degenerated to a non-
    broadcast dim join or a cartesian seam."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.operators import REGISTRY

    SMALL = ("region", "nation", "customer", "supplier", "part",
             "events", "documents", "embeddings")
    QUERIES = ("q3_shipping_priority", "q9_product_profit",
               "q21_waiting_suppliers")
    OFF = 1_000_000_000
    out = {}
    for copies in (1, 10):
        land = tempfile.mkdtemp(prefix=f"scale_probe_tpch_{copies}x_")
        try:
            for t in SMALL:
                shutil.copy(os.path.join(sf_dir, f"{t}.parquet"),
                            os.path.join(land, f"{t}.parquet"))
            for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
                base = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
                parts = [
                    base.withColumn(key, F.col(key) + F.lit(i * OFF))
                    for i in range(copies)
                ]
                scaled = parts[0]
                for p in parts[1:]:
                    scaled = scaled.unionAll(p)
                # a real 10x table arrives pre-split — write it that way
                scaled.repartition(8 * copies).write.mode("overwrite").parquet(
                    os.path.join(land, f"{t}.parquet")
                )
            n_li = spark.read.parquet(os.path.join(land, "lineitem.parquet")).count()
            walls = {}
            for qname in QUERIES:
                fn = REGISTRY[qname].fn
                walls[qname] = round(_min_of(reps, lambda: fn(spark, land).count()), 3)
            out[copies] = {"lineitem_rows": n_li, "wall_sec": walls}
        finally:
            shutil.rmtree(land, ignore_errors=True)
    out["ratio_10x_data"] = {
        q: round(out[10]["wall_sec"][q] / out[1]["wall_sec"][q], 2) for q in QUERIES
    }
    return out


def probe_stateful_streaming(spark, sf_dir: str, reps: int) -> dict:
    """applyInPandasWithState scale-up (r10 verdict item 3): the last
    operator family whose 100 TB posture rested on design reading
    alone. Replays the REGISTERED stateful queries
    (streaming_stateful_totals + streaming_sessionize_state) over
    scaled event landings, one micro-batch per file
    (sources.kafka.EVENTS_MAX_FILES_PER_TRIGGER = 1 — the opt-in knob;
    registered code paths are otherwise byte-identical), and reads
    per-trigger latency from StreamingQueryProgress through a
    StreamingQueryListener on the probe's session (``TriggerLog``).

    Three landings, all 10 files = 10 triggers so the ratios isolate
    data growth from trigger-count overhead:
      - 1x:        the base events table row-sliced into 10 files;
      - 10x_rows:  10 full copies, SAME keyspace, each copy time-shifted
                   past the previous copy's range + the session gap —
                   per-user arrival stays monotone, so every key's
                   state is carried and updated across all 10 triggers
                   (the state-carry axis a single-trigger drain cannot
                   exercise);
      - 10x_keys:  10 full copies with DISJOINT key offsets (and the
                   same time shift) — 10x state-store entries, each
                   key's state created and retired within one trigger
                   (the store-size axis);
      - 100x_rows: (r12) 100 time-shifted full copies, SAME keyspace,
                   packed 10 copies per file so the trigger count stays
                   10 but each trigger carries 10x the 10x_rows volume
                   — past the per-trigger setup floor the 10x points
                   sit on (r11: 0.97-1.22x ratios measured the floor,
                   not the state path). Copies are concatenated in
                   shift order inside each file, so per-user arrival
                   stays monotone within and across triggers and state
                   is carried through all 10. Runs 1 rep (the landing
                   itself is the dominant cost; min-of-N matters at
                   the floor, not at 100x).

    At 100x_rows the probe ALSO drains the sessionize pipeline through
    a foreachBatch parquet sink (r12 verdict item 4): the registered
    query's memory sink ingests the full ~9.5M-row result in the
    driver, which dominated the r12 100x wall (131.6 s wall vs 39 s
    trigger sum) — the ``sessionize_parquet_sink`` entry measures the
    state path + distributed write with the driver out of the data
    plane.

    State is O(active keys), not O(rows) — a flat-ish wall ratio on
    10x_rows and a mild one on 10x_keys is the claim; 100x_rows is the
    volume claim (wall should grow ~linearly with rows while
    rows/sec holds or improves as per-trigger setup amortizes);
    per-trigger latency shows where micro-batch overhead sits. Paste
    the JSON into SCALE_NOTES.md."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.sources import kafka as ksrc

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n_base = src.num_rows
    uid = src.column("user_id").to_numpy()
    eid = src.column("event_id").to_numpy()
    ts = src.column("ts").cast(pa.int64()).to_numpy()
    base_keys = int(np.unique(uid).size)
    # The fixture ts unit DRIFTS between rounds (NANOS in r1/r2, MICROS
    # since r3 — CLAUDE.md): read the unit from the arrow schema, as
    # catalog.table does from the footer, so the 30-min session
    # gap and the copy time-shift stay 30 minutes in EVERY unit. A raw
    # micros constant against a nanos fixture would shrink the gap to
    # 1.8 ms and silently merge sessions across copies.
    ts_field = src.schema.field("ts").type
    unit = getattr(ts_field, "unit", None)
    ticks_per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}.get(unit)
    if ticks_per_sec is None:
        raise RuntimeError(
            f"events.parquet ts has unexpected type {ts_field!r}; expected "
            "a parquet timestamp (see catalog.normalize_event_ts)"
        )
    gap_ticks = 30 * 60 * ticks_per_sec
    shift_ticks = int(ts.max() - ts.min()) + 2 * gap_ticks

    def _col(tbl, name, arr):
        return tbl.set_column(
            tbl.schema.get_field_index(name), name, arr
        )

    def build(land: str, variant: str) -> tuple[int, int]:
        if variant == "1x":
            step = (n_base + 9) // 10
            for i in range(10):
                part = src.slice(i * step, step)
                if part.num_rows:
                    pq.write_table(part, os.path.join(land, f"events_{i:02d}.parquet"))
            return n_base, base_keys
        if variant == "100x_rows":
            for f in range(10):
                parts = []
                for j in range(10):
                    i = f * 10 + j
                    t = _col(src, "event_id", pa.array(eid + i * 10**12))
                    t = _col(
                        t, "ts",
                        pa.array(ts + i * shift_ticks).cast(ts_field),
                    )
                    parts.append(t)
                pq.write_table(
                    pa.concat_tables(parts),
                    os.path.join(land, f"events_{f:02d}.parquet"),
                )
            return 100 * n_base, base_keys
        for i in range(10):
            t = _col(src, "event_id", pa.array(eid + i * 10**12))
            t = _col(t, "ts", pa.array(ts + i * shift_ticks).cast(ts_field))
            if variant == "10x_keys":
                t = _col(t, "user_id", pa.array(uid + i * 10**9))
            pq.write_table(t, os.path.join(land, f"events_{i:02d}.parquet"))
        return 10 * n_base, (10 if variant == "10x_keys" else 1) * base_keys

    queries = ("streaming_stateful_totals", "streaming_sessionize_state")
    out: dict = {}
    triggers = TriggerLog(spark)
    for variant in ("1x", "10x_rows", "10x_keys", "100x_rows"):
        land = tempfile.mkdtemp(prefix=f"scale_probe_state_{variant}_")
        variant_reps = 1 if variant == "100x_rows" else reps
        try:
            n_rows, n_keys = build(land, variant)
            per: dict = {"rows": n_rows, "keys": n_keys}
            ksrc.EVENTS_MAX_FILES_PER_TRIGGER = 1
            try:
                for qname in queries:
                    walls, trigs = [], []
                    out_rows = None
                    for _ in range(variant_reps):
                        mark = triggers.mark()
                        t0 = time.perf_counter()
                        out_rows = REGISTRY[qname].fn(spark, land).count()
                        walls.append(time.perf_counter() - t0)
                        trigs.append(triggers.batch_durations(mark))
                    b = min(range(len(walls)), key=walls.__getitem__)
                    durs = trigs[b]
                    per[qname] = {
                        "wall_sec": round(walls[b], 3),
                        "rows_per_sec": round(n_rows / walls[b], 1),
                        # result cardinality: wall includes draining
                        # the RESULT through the driver-side memory
                        # sink, so a landing whose session density
                        # makes the result corpus-sized (the 100x
                        # fixture shape) is measuring sink volume past
                        # this count, not the state path — read
                        # avg_trigger_ms for the operator's own cost
                        "result_rows": out_rows,
                        "triggers": len(durs),
                        "avg_trigger_ms": round(sum(durs) / len(durs), 1)
                        if durs else None,
                        "max_trigger_ms": max(durs) if durs else None,
                    }
                if variant == "100x_rows":
                    # Sink-isolated drain (r12 verdict item 4): the same
                    # sessionize stateful pipeline, but drained through a
                    # foreachBatch PARQUET sink — each batch's write is a
                    # distributed executor-side job, so the wall measures
                    # the state path + write, NOT the driver-side memory
                    # sink ingesting a ~9.5M-row result (which dominated
                    # the r12 100x wall: 131.6 s wall vs 39 s trigger
                    # sum). Pipeline construction is shared with the
                    # registered query (streaming.queries.
                    # sessionize_updates), so the probed plan IS the
                    # registered plan.
                    from datafusion_streams_spark.streaming.microbatch import drain
                    from datafusion_streams_spark.streaming.queries import (
                        sessionize_updates,
                    )

                    sink_dir = tempfile.mkdtemp(
                        prefix="scale_probe_sessionize_sink_"
                    )
                    try:
                        mark = triggers.mark()
                        t0 = time.perf_counter()
                        drain(
                            sessionize_updates(spark, land),
                            lambda df, _eid: df.write.mode("append")
                            .parquet(sink_dir),
                            output_mode="update",
                            timeout_sec=900,
                        )
                        wall = time.perf_counter() - t0
                        durs = triggers.batch_durations(mark)
                        sunk = spark.read.parquet(sink_dir).count()
                        per["sessionize_parquet_sink"] = {
                            "wall_sec": round(wall, 3),
                            "rows_per_sec": round(n_rows / wall, 1),
                            "emitted_rows": sunk,
                            "triggers": len(durs),
                            "avg_trigger_ms": round(
                                sum(durs) / len(durs), 1
                            ) if durs else None,
                            "max_trigger_ms": max(durs) if durs else None,
                        }
                    finally:
                        shutil.rmtree(sink_dir, ignore_errors=True)
            finally:
                ksrc.EVENTS_MAX_FILES_PER_TRIGGER = None
            out[variant] = per
        finally:
            shutil.rmtree(land, ignore_errors=True)
    triggers.close()
    out["ratio_10x_rows"] = {
        q: round(out["10x_rows"][q]["wall_sec"] / out["1x"][q]["wall_sec"], 2)
        for q in queries
    }
    out["ratio_10x_keys"] = {
        q: round(out["10x_keys"][q]["wall_sec"] / out["1x"][q]["wall_sec"], 2)
        for q in queries
    }
    out["ratio_100x_rows"] = {
        q: round(out["100x_rows"][q]["wall_sec"] / out["1x"][q]["wall_sec"], 2)
        for q in queries
    }
    return out


def probe_ann_scaleup(spark, sf_dir: str, reps: int) -> dict:
    """ANN / embedding-similarity scale-up (r11): after the r10/r11
    probes, ANN + clustering was the one remaining family whose 100 TB
    posture rested on plan reading. Runs the REGISTERED queries over
    scaled embedding corpora:

      - ann_topk_bruteforce  (exact linear baseline: broadcast queries
        x corpus scan, fixed query set vec_id < 10)
      - ann_ivf_pq           (FAISS IVFADC shape: fused map-only
        encode + probe-mask + ADC scan)
      - ann_lsh_bucketed     (sign-LSH banded buckets; bits grow
        log2(n/base) to hold candidates ~linear)

    Corpus copies are DIMENSION-ROTATED (np.roll of each vector by the
    copy index) with offset vec_ids: rotation preserves norms and
    within-copy geometry exactly while cross-copy cosines stay far
    below the pair threshold — identical copies would be adversarial
    for the pair-finding queries (every vector gaining k-1 planted
    twins makes bucket pairs grow quadratically in k, measuring dup
    structure, not corpus growth — the minhash probe's lesson).
    Queries stay the 10 originals (copies get vec_id >= 10^7), so the
    ratios isolate corpus growth under a fixed query set.

    cluster_kmeans_embeddings (SemDeDup's Lloyd core) runs at 1x/4x
    only: its cluster count grows with the corpus BY DESIGN (fixed
    ~64-vector target cells), so assign work is O(n*k) ~ (n/64)^2 —
    the honest expectation is ~16x work at 4x corpus, and the 100 TB
    path shards by IVF cell before clustering (clustering.py
    docstrings). The ANN trio is the linear-scan claim; kmeans is the
    documented-superlinear claim."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_streams_spark.operators import REGISTRY

    src = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vec_id = src.column("vec_id").to_numpy()
    emb = np.array(src.column("embedding").to_pylist(), dtype=np.float32)
    label = src.column("label").to_numpy()

    def build(land: str, copies: int) -> int:
        out_dir = os.path.join(land, "embeddings.parquet")
        os.makedirs(out_dir)
        for i in range(copies):
            t = pa.table({
                "vec_id": pa.array(vec_id + i * 10**7),
                "embedding": pa.array(list(np.roll(emb, i, axis=1))),
                "label": pa.array(label),
            })
            pq.write_table(t, os.path.join(out_dir, f"part-{i:02d}.parquet"))
        return copies * src.num_rows

    ann = ("ann_topk_bruteforce", "ann_ivf_pq", "ann_lsh_bucketed")
    out: dict = {}
    for copies in (1, 4, 16):
        land = tempfile.mkdtemp(prefix=f"scale_probe_ann_{copies}x_")
        try:
            n_rows = build(land, copies)
            per: dict = {"rows": n_rows}
            names = ann if copies == 16 else ann + ("cluster_kmeans_embeddings",)
            if copies == 1:
                # discard pass: per-query plan compile / Arrow worker
                # warmup otherwise lands entirely in the 1x timings and
                # deflates every ratio
                for qname in names:
                    REGISTRY[qname].fn(spark, land).count()
            for qname in names:
                per[qname] = {
                    "wall_sec": round(_min_of(
                        reps, lambda q=qname: REGISTRY[q].fn(spark, land).count()
                    ), 3),
                }
            out[f"{copies}x"] = per
        finally:
            shutil.rmtree(land, ignore_errors=True)
    out["ratio_16x_ann"] = {
        q: round(out["16x"][q]["wall_sec"] / out["1x"][q]["wall_sec"], 2)
        for q in ann
    }
    out["ratio_4x_kmeans"] = round(
        out["4x"]["cluster_kmeans_embeddings"]["wall_sec"]
        / out["1x"]["cluster_kmeans_embeddings"]["wall_sec"], 2,
    )
    return out


def probe_skew_hotkey(spark, sf_dir: str, reps: int) -> dict:
    """Planted hot-key skew (r12; r11 verdict item 3): every measured
    scale-up so far used uniform or rotated data, but skew is the
    classic 100 TB failure mode — this measures it, on both the batch
    join axis and the stateful streaming axis, at 10x volume.

    Landing: time-shifted copies of events (the stateful probe's
    monotone construction); the ``hot`` variant reassigns user_id :=
    {hot key} on every even event_id, so ONE user owns ~50% of the
    rows (vs ~1/1500 uniform). The batch-join table takes 50 copies
    (5M rows at sf0.1 — at 10 copies the hot reducer's extra sort is
    invisible under fixed costs, measured r12); the streaming landing
    stays 10 copies = 10 triggers.

    Batch join (join_salted_skew vs its unsalted twin, sort-merge
    forced, same aggregation):
      - salted:            the REGISTERED query — dim replicated x8,
                           keys salted by event_id mod 8, hot key
                           spread over 8 reducers;
      - unsalted_aqe_skew: plain join, AQE runtime skew split ON
                           (the session default) — Spark's own rescue;
      - unsalted_no_skew:  plain join, spark.sql.adaptive.skewJoin
                           OFF — the regime the salted idiom exists
                           for (stats unavailable / skewed side feeds
                           a stateful op).
    The claim: under the planted hot key, salted ~ flat vs its uniform
    wall while unsalted_no_skew degrades; AQE-on lands between.

    Streaming (streaming_sessionize_state, 10 triggers): keyed state
    CANNOT be salted without changing semantics, so the honest number
    is the degradation factor — the hot user's half-batch lands in one
    applyInPandasWithState group (one core per trigger), bounded by
    the vectorized numpy sessionizer (one pass per group, not per
    row). Paste the JSON into SCALE_NOTES.md."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datafusion_streams_spark.catalog import table
    from datafusion_streams_spark.functions import dsum
    from datafusion_streams_spark.operators import REGISTRY
    from datafusion_streams_spark.sources import kafka as ksrc

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n_base = src.num_rows
    uid = src.column("user_id").to_numpy()
    eid = src.column("event_id").to_numpy()
    ts = src.column("ts").cast(pa.int64()).to_numpy()
    ts_field = src.schema.field("ts").type
    unit = getattr(ts_field, "unit", None)
    ticks_per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}.get(unit)
    if ticks_per_sec is None:
        raise RuntimeError(f"unexpected events ts type {ts_field!r}")
    shift_ticks = int(ts.max() - ts.min()) + 2 * 30 * 60 * ticks_per_sec
    hot_key = 7  # exists in customer (c_custkey covers the uid range)
    hot_mask = (eid % 2) == 0

    def _col(tbl, name, arr):
        return tbl.set_column(tbl.schema.get_field_index(name), name, arr)

    def build(land: str, variant: str) -> str:
        """land/events_NN.parquet files (10 streaming triggers) and
        land/batch/events.parquet/ (the 50-copy batch-join table). The
        streaming source lists land/ recursively; its events*.parquet
        pathGlobFilter matches file names, so the part-NN.parquet
        files under batch/ are not double-read."""
        batch_sf = os.path.join(land, "batch")
        batch_dir = os.path.join(batch_sf, "events.parquet")
        os.makedirs(batch_dir)
        u = np.where(hot_mask, hot_key, uid) if variant == "hot" else uid
        for i in range(50):
            t = _col(src, "event_id", pa.array(eid + i * 10**12))
            t = _col(t, "ts", pa.array(ts + i * shift_ticks).cast(ts_field))
            t = _col(t, "user_id", pa.array(u))
            pq.write_table(t, os.path.join(batch_dir, f"part-{i:02d}.parquet"))
            if i < 10:
                pq.write_table(t, os.path.join(land, f"events_{i:02d}.parquet"))
        shutil.copy(os.path.join(sf_dir, "customer.parquet"),
                    os.path.join(batch_sf, "customer.parquet"))
        return batch_sf

    def unsalted_twin(land: str) -> None:
        ev = table(spark, land, "events")
        dim = table(spark, land, "customer").select("c_custkey")
        joined = ev.hint("shuffle_merge").join(
            dim, ev["user_id"] == dim["c_custkey"]
        )
        joined.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            dsum("value").alias("total_value"),
        ).count()

    out: dict = {}
    for variant in ("uniform", "hot"):
        land = tempfile.mkdtemp(prefix=f"scale_probe_skew_{variant}_")
        try:
            batch_sf = build(land, variant)
            per: dict = {"join_rows": 50 * n_base,
                         "stream_rows": 10 * n_base,
                         "hot_share": 0.5 if variant == "hot" else None}
            if variant == "uniform":
                # discard pass (the ann probe's rule): plan compile,
                # Arrow workers and MicroBatchExecution setup otherwise
                # land entirely in the first-timed landing and invert
                # every hot/uniform ratio
                REGISTRY["join_salted_skew"].fn(spark, batch_sf).count()
                unsalted_twin(batch_sf)
                ksrc.EVENTS_MAX_FILES_PER_TRIGGER = 1
                try:
                    REGISTRY["streaming_sessionize_state"].fn(
                        spark, land).count()
                finally:
                    ksrc.EVENTS_MAX_FILES_PER_TRIGGER = None
            # batch join axis ------------------------------------------------
            per["join_salted"] = round(_min_of(
                reps,
                lambda: REGISTRY["join_salted_skew"].fn(spark, batch_sf).count(),
            ), 3)
            per["join_unsalted_aqe_skew"] = round(
                _min_of(reps, lambda: unsalted_twin(batch_sf)), 3)
            # restore the PRE-PROBE value, not a hardcoded "true": a
            # hardcoded restore silently rewrites session config if the
            # session default ever changes (r12 ADVICE)
            prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            try:
                per["join_unsalted_no_skew"] = round(
                    _min_of(reps, lambda: unsalted_twin(batch_sf)), 3)
            finally:
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
            # streaming stateful axis ---------------------------------------
            ksrc.EVENTS_MAX_FILES_PER_TRIGGER = 1
            try:
                per["sessionize_state"] = round(_min_of(
                    reps,
                    lambda: REGISTRY["streaming_sessionize_state"]
                    .fn(spark, land).count(),
                ), 3)
            finally:
                ksrc.EVENTS_MAX_FILES_PER_TRIGGER = None
            out[variant] = per
        finally:
            shutil.rmtree(land, ignore_errors=True)
    out["hot_over_uniform"] = {
        k: round(out["hot"][k] / out["uniform"][k], 2)
        for k in ("join_salted", "join_unsalted_aqe_skew",
                  "join_unsalted_no_skew", "sessionize_state")
    }
    return out


def probe_cc_chain(spark, reps: int) -> dict:
    """Connected-components convergence on adversarial (chain-shaped)
    clusters (r12; r11 verdict item 6). Fixture dup clusters are
    star-shaped (diameter ~2), so the iterative min-label propagation
    had no measured worst-case point. Three planted graphs:

      - chain64:     one 64-doc chain (diameter 63);
      - chain64_x8:  eight disjoint 64-doc chains (8x edges, SAME
                     diameter) — rounds must stay constant while
                     per-round work grows;
      - chain512:    one 512-doc chain (8x diameter) — rounds must
                     grow ~log2 (pointer doubling), not linearly.

    Before r12's pointer-doubling step (dedup.min_label_components),
    chain512 needed ~511 rounds and would have blown the 64-round
    safety bound; with doubling it converges in ~10. Rounds are the
    call's ``localCheckpoint`` root executions in the SQL status store:
    each round ends in one."""
    from datafusion_streams_spark.operators import dedup
    from tools.reuse_audit import execution_mark, local_checkpoints

    def chain_pairs(n_docs: int, n_chains: int):
        rows = [
            (c * 10_000 + i, c * 10_000 + i + 1)
            for c in range(n_chains)
            for i in range(n_docs - 1)
        ]
        return spark.createDataFrame(rows, "a_id long, b_id long")

    out: dict = {}
    for name, n_docs, n_chains in (
        ("chain64", 64, 1), ("chain64_x8", 64, 8), ("chain512", 512, 1),
    ):
        pairs = chain_pairs(n_docs, n_chains)
        walls, rounds = [], None
        for _ in range(reps):
            mark = execution_mark(spark)
            t0 = time.perf_counter()
            got = dedup.min_label_components(pairs, "doc_id").count()
            walls.append(time.perf_counter() - t0)
            rounds = local_checkpoints(spark, mark)
            assert got == n_docs * n_chains
        out[name] = {
            "docs": n_docs * n_chains,
            "diameter": n_docs - 1,
            "rounds": rounds,
            "wall_sec": round(min(walls), 3),
        }
    out["rounds_8x_edges"] = out["chain64_x8"]["rounds"] - out["chain64"]["rounds"]
    out["rounds_8x_diameter"] = out["chain512"]["rounds"] - out["chain64"]["rounds"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--only", default=None,
                    help="comma-separated probe names (avro_roundtrip,"
                    "events_replay,minhash_lsh,tpch_joins,"
                    "stateful_streaming,ann_scaleup,skew_hotkey,"
                    "cc_chain): run just these")
    args = ap.parse_args()

    host = host_calibrations()

    from datafusion_streams_spark import get_session

    spark = get_session(app_name="scale-probe", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session's Python workers and codegen before any probe
    spark.range(0, 64, 1, 8).count()
    spark.range(0, 8, 1, 8).mapInPandas(lambda it: it, "id long").count()

    # dict order = execution order: the heavyweight streaming probes
    # (stateful_streaming's 100x landing, skew_hotkey) run LAST —
    # measured r12: ann timings taken right after the 10M-row
    # sessionize drain read 8.26x at 16x in-suite vs 3.05x isolated
    # (same HEAD), pure same-JVM memory/GC contamination
    probes = {
        "avro_roundtrip": lambda: probe_avro_roundtrip(spark, args.reps),
        "events_replay": lambda: probe_events_replay(spark, args.sf_dir, args.reps),
        "minhash_lsh": lambda: probe_minhash_scaleup(spark, args.sf_dir, args.reps),
        "tpch_joins": lambda: probe_tpch_joins(spark, args.sf_dir, args.reps),
        "ann_scaleup": lambda: probe_ann_scaleup(spark, args.sf_dir, args.reps),
        "cc_chain": lambda: probe_cc_chain(spark, args.reps),
        "stateful_streaming": lambda: probe_stateful_streaming(
            spark, args.sf_dir, args.reps),
        "skew_hotkey": lambda: probe_skew_hotkey(spark, args.sf_dir, args.reps),
    }
    wanted = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only else list(probes)
    )
    unknown = [n for n in wanted if n not in probes]
    if unknown:
        print(f"unknown probes: {unknown}")
        return 2
    result = {
        "probe": "scale_up_ratios",
        **{n: probes[n]() for n in wanted},
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "reps": args.reps,
        **host,
    }
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
