"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run comes from here: the
TPC-H-shaped batch tables plus ``events``, ``documents`` and
``embeddings`` and the event-file backlog the streaming drains read, for
``registry_mix``, and the open-loop event files for
``stream_open_loop``. The same seed gives identical tables.

The distributions mirror the repository's fixture tables (1500 users,
five event types, two-decimal money, a 30-day event-time span), so the
engine's exact-DECIMAL parity rules hold on generated data as they do on
the fixtures, and ``streaming_dedup_watermark``'s 365-day watermark
still exceeds the whole event-time span.

Run as a program, this module is the open-loop generator: a separate,
single-threaded process that lands one events file per tick on a fixed
schedule, whatever the engine is doing::

    echo <start, epoch s> | python3 perfbench/gen.py --dir D --seed 1 \\
        --rate 4 --count 48 --rows 250 --first-id 10000 --retain 40 --report r.json

Each file is written under a name outside the ``events*.parquet`` glob
and renamed into place at its due time, so the file source never lists
a half-written file. Every row of file ``i`` carries the file's due time
as its ``ts`` stamp. Like a log with size-based retention, only the
newest ``--retain`` files stay in the directory: landing a file deletes
the one ``--retain`` places before it, so the glob the file source lists
holds the same number of files throughout the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 1500
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400_000_000

LANDING_PREFIX = "_landing-"

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# Row counts of the batch tables: those of the repository's sf0.1
# fixture, the scale its own bench runs at.
BATCH_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}

BATCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a the row key value table part column data batch stream window join "
    "agg group order sort scan filter hash merge spark query line customer "
    "vector small big fast slow"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_DAY_US = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi]: integer cents / 100, the
    shape the exact-DECIMAL aggregates assume."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def events_table(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    ts_us: np.ndarray | int | None = None,
) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1``. Without
    ``ts_us`` the event times increase over the 30-day span as in the
    fixture; with it every row carries the given stamp."""
    if ts_us is None:
        ts_us = EVENT_EPOCH_US + np.sort(rng.integers(0, EVENT_SPAN_US, n))
    ts = np.broadcast_to(np.asarray(ts_us, dtype=np.int64), (n,))
    value = np.minimum(np.round(rng.exponential(50.0, n) * 100) / 100.0, 560.21)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(ts, pa.timestamp("us")),
            pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            _pick(rng, EVENT_TYPES, n),
            pa.array(value, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def land(table: pa.Table, directory: str, name: str) -> None:
    """Write ``table`` as ``directory/name`` atomically: the bytes go to
    a landing name outside the ``events*.parquet`` glob (Spark also
    skips ``_``-prefixed files), then one rename publishes them."""
    tmp = os.path.join(directory, LANDING_PREFIX + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def write_event_backlog(directory: str, seed: int, n_files: int, rows: int) -> int:
    """``n_files`` events files of ``rows`` rows each with event times
    spread over the 30-day span (file ``i`` covers the ``i``-th slice of
    it). Returns the total row count."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    slice_us = EVENT_SPAN_US // n_files
    for i in range(n_files):
        ts = EVENT_EPOCH_US + i * slice_us + np.sort(rng.integers(0, slice_us, rows))
        land(events_table(rng, i * rows, rows, ts), directory, f"events-{i:05d}.parquet")
    return n_files * rows


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(np.asarray(_VOCAB, dtype=object)[rng.integers(0, len(_VOCAB), k)])
        for k in rng.integers(10, 101, n)
    ]
    # ~5% near-duplicates (a copy of another document plus one token) and
    # a few exact copies, as in the fixture, so the dedup operators find
    # real clusters.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def batch_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables the batch queries read, with the fixture schemas."""
    rng = np.random.default_rng([seed, 1])
    r = BATCH_ROWS
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    ts = lambda a: pa.array(a, pa.timestamp("us"))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    n = r["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(n)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )
    n = r["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(n)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": i32(rng.integers(0, 25, n)),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(n)),
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": (9000 + np.arange(n) % 1000) / 10.0,
        }
    )
    n = r["orders"]
    order_day = rng.integers(0, 2404, n)
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(n)),
            "o_custkey": i64(rng.integers(0, r["customer"], n)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
            "o_orderdate": ts(_ORDER_EPOCH_US + order_day * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )
    n = r["lineitem"]
    okey = rng.integers(0, r["orders"], n)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(okey),
            "l_partkey": i64(rng.integers(0, r["part"], n)),
            "l_suppkey": i64(rng.integers(0, r["supplier"], n)),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": ts(_ORDER_EPOCH_US + (order_day[okey] + rng.integers(1, 122, n)) * _DAY_US),
        }
    )
    t["events"] = events_table(rng, 0, r["events"])
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return t


def write_batch_tables(directory: str, seed: int) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in batch_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


def open_loop_name(first_row: int) -> str:
    """The published name of the open-loop file whose first id is
    ``first_row``."""
    return f"events-{first_row:012d}.parquet"


def write_open_loop_history(directory: str, seed: int, n_files: int, rows: int) -> int:
    """Files that are already in the landing directory when the query
    starts (ids ``0..n_files*rows-1``). Returns the first id the
    schedule may use."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    stamp_us = int(time.time() * 1e6)
    for h in range(n_files):
        land(events_table(rng, h * rows, rows, stamp_us), directory, open_loop_name(h * rows))
    return n_files * rows


def open_loop_file(seed: int, index: int, rows: int, first_id: int, due_s: float) -> pa.Table:
    """File ``index`` of the open-loop schedule: ids continue from
    ``first_id`` and every row is stamped with the due time."""
    rng = np.random.default_rng([seed, 3, index])
    return events_table(rng, first_id + index * rows, rows, int(round(due_s * 1e6)))


def run_schedule(
    directory: str,
    seed: int,
    start: float,
    rate: float,
    count: int,
    rows: int,
    first_id: int,
    retain: int | None = None,
    clock=time.time,
    sleep=time.sleep,
) -> list[float]:
    """Land ``count`` files, file ``i`` due at ``start + i / rate``.
    Each file is built and written under its landing name before it is
    due, so only the rename happens at the due time. With ``retain``,
    publishing a file deletes the file ``retain`` places before it in
    the whole sequence, history included. Returns each file's lateness
    in seconds (publish time minus due time)."""
    lateness = []
    for i in range(count):
        due = start + i / rate
        first_row = first_id + i * rows
        tmp = os.path.join(directory, LANDING_PREFIX + open_loop_name(first_row))
        pq.write_table(open_loop_file(seed, i, rows, first_id, due), tmp)
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        os.replace(tmp, os.path.join(directory, open_loop_name(first_row)))
        lateness.append(clock() - due)
        if retain is not None and first_row - retain * rows >= 0:
            os.remove(os.path.join(directory, open_loop_name(first_row - retain * rows)))
    return lateness


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="open-loop events generator")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--retain", type=int, default=None)
    ap.add_argument("--report", required=True)
    a = ap.parse_args(argv)
    # The schedule's start time (epoch seconds) arrives on stdin once the
    # query under test is ready; the process starts earlier, and writes
    # one file to memory first, so that neither its imports nor loading
    # the parquet writer are on the schedule.
    pq.write_table(open_loop_file(a.seed, 0, a.rows, a.first_id, 0.0), pa.BufferOutputStream())
    line = sys.stdin.readline()
    if not line.strip():
        return 1
    lateness = run_schedule(a.dir, a.seed, float(line), a.rate, a.count, a.rows, a.first_id,
                            a.retain)
    with open(a.report + ".tmp", "w") as f:
        json.dump({"lateness_s": lateness}, f)
    os.replace(a.report + ".tmp", a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
