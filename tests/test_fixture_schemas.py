"""Fixture-schema drift guard.

Round 3 shipped a silent correctness regression because the driver
regenerated ``events.parquet`` as TIMESTAMP(MICROS) while the streaming
path still assumed TIMESTAMP(NANOS)-read-as-long — every event-time
streaming query landed in 1970 and nothing failed loudly. This test
pins the physical parquet types of every fixture table so the next
silent regeneration fails HERE, with a message naming the drift,
instead of as a hash mismatch three layers up.

The ``ts`` column is special-cased: both nanos and micros are
*accepted* (the source layer probes the footer and adapts —
``sources/kafka.py:events_raw_schema``), but the streaming and batch
readers must agree with each other, which the parity test below checks
end-to-end.
"""

from __future__ import annotations

import glob

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR

# column -> acceptable pyarrow type strings (physical schema snapshot,
# taken from the round-4 fixtures; extend deliberately, never loosen
# silently)
EXPECTED = {
    "region": {"r_regionkey": {"int32"}, "r_name": {"string", "large_string"}},
    "nation": {"n_nationkey": {"int32"}, "n_regionkey": {"int32"}},
    "customer": {"c_custkey": {"int64"}, "c_acctbal": {"double"}},
    "supplier": {"s_suppkey": {"int64"}, "s_acctbal": {"double"}},
    "part": {"p_partkey": {"int64"}, "p_retailprice": {"double"}},
    "orders": {"o_orderkey": {"int64"}, "o_custkey": {"int64"}, "o_totalprice": {"double"}},
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
    },
    "events": {
        "event_id": {"int64"},
        # nanos OR micros: the reader adapts; anything else is drift
        "ts": {"timestamp[ns]", "timestamp[us]", "int64"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
    },
    "documents": {"doc_id": {"int64"}},
    "embeddings": {"vec_id": {"int64"}},
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_fixture_physical_types_pinned(table):
    path = f"{SF_DIR}/{table}.parquet"
    schema = pq.read_schema(path)
    names = set(schema.names)
    for col, allowed in EXPECTED[table].items():
        assert col in names, f"{table}.{col} missing from fixture (drift!)"
        actual = str(schema.field(col).type)
        assert actual in allowed, (
            f"{table}.{col} physical type drifted: {actual!r} not in {allowed} "
            f"— update the readers (catalog.py / sources/kafka.py) AND this "
            f"snapshot deliberately"
        )


def test_embeddings_vector_type():
    schema = pq.read_schema(f"{SF_DIR}/embeddings.parquet")
    emb_fields = [f for f in schema if pa.types.is_list(f.type) or pa.types.is_large_list(f.type)]
    assert emb_fields, "embeddings.parquet has no list-typed vector column"


def test_streaming_and_batch_events_ts_agree(spark):
    """End-to-end guard: the streamed events read must yield the exact
    same (min, max, sum-of-epoch-micros) ts fingerprint as the batch
    loader, whatever the parquet physical type. This is the invariant
    the round-3 regression broke."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.catalog import table
    from datafusion_streams_spark.sources.kafka import events_stream
    from datafusion_streams_spark.streaming.microbatch import drain

    def fingerprint(df):
        return (
            df.select(
                F.min("ts").alias("mn"),
                F.max("ts").alias("mx"),
                F.sum(
                    F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
                ).alias("s"),
            )
            .collect()[0]
        )

    batch = fingerprint(table(spark, SF_DIR, "events"))
    stream = fingerprint(spark.table(drain(events_stream(spark, SF_DIR).select("ts"))))
    assert (batch.mn, batch.mx, batch.s) == (stream.mn, stream.mx, stream.s), (
        f"streaming ts diverges from batch: batch=({batch.mn}, {batch.mx}) "
        f"stream=({stream.mn}, {stream.mx}) — micros/nanos normalization drift"
    )
    # sanity: timestamps are in a plausible modern range, not 1970
    assert batch.mn.year >= 2000, f"events ts decoded into the past: {batch.mn}"


def test_sketch_full_tracking_margin(spark):
    """r9 review finding: agg_approx_top_k's oracle pins sketch_exact=1,
    which holds only under full tracking (distinct user_id <=
    maxItemsTracked = 1e6, the engine maximum). The fixture family
    scales distinct users 10x per sf decade (15 / 150 / 1,500 at
    sf0.001-0.1), so this pins >=10x headroom at every LOCAL scale and
    fails loudly here — instead of as a driver hash mismatch — if a
    future fixture generation breaks the cardinality contract."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.catalog import table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                   "/root/testdata/sf0.1"):
        n = (
            table(spark, sf_dir, "events")
            .agg(F.countDistinct("user_id").alias("n"))
            .first()["n"]
        )
        assert n * 10 <= 1_000_000, (
            f"{sf_dir}: {n} distinct users — within 10x of the approx_top_k "
            "full-tracking cliff; revisit the agg_approx_top_k oracle contract"
        )
