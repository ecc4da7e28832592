"""The DuckDB oracle for ``registry_mix``: the value hash of what each
registered query's ``QuerySpec.oracle`` SQL returns over a run's inputs,
and the hash rule the benchmark applies to the engine's results too.

Run as a program, this module is the benchmark's oracle process. It
writes the hashes of the batch queries over the batch tables and of the
streaming queries over the event backlog to a JSON file::

    python3 perfbench/oracle.py --tables D --backlog B --out want.json \\
        --batch q1_pricing_summary,agg_rollup --drain streaming_tumbling_hour

It lowers its own CPU priority to the least, because it runs while the
Spark session starts and between timed queries; the benchmark stops it
(SIGSTOP) whenever a query is timed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def frame_digest(pdf) -> tuple[int, str]:
    """Order-insensitive value hash of a result: columns sorted by
    name, rows compared as sorted stringified tuples (the repository's
    oracle rule)."""
    cols = sorted(pdf.columns)
    rows = sorted(map(str, pdf[cols].itertuples(index=False, name=None)))
    h = hashlib.md5(",".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def digests(views: dict[str, str], names) -> dict[str, tuple[int, str]]:
    """Oracle hashes of the registered queries ``names``; ``views`` maps
    each table name to a parquet path or glob."""
    import duckdb

    from datafusion_streams_spark import REGISTRY

    con = duckdb.connect()
    try:
        for t, path in views.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {q: frame_digest(con.execute(REGISTRY[q].oracle).fetchdf()) for q in names}
    finally:
        con.close()


def read(path: str) -> dict[str, tuple[int, str]]:
    with open(path) as f:
        return {q: tuple(d) for q, d in json.load(f).items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="DuckDB oracle hashes for registry_mix")
    ap.add_argument("--tables", required=True)
    ap.add_argument("--backlog", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batch", required=True, help="comma-separated batch queries")
    ap.add_argument("--drain", required=True, help="comma-separated streaming queries")
    a = ap.parse_args(argv)
    sys.path[:0] = [str(HERE), str(HERE.parent)]
    import gen

    os.nice(19)
    want = digests({t: os.path.join(a.tables, f"{t}.parquet") for t in gen.BATCH_TABLES},
                   a.batch.split(","))
    want.update(digests({"events": os.path.join(a.backlog, "events*.parquet")},
                        a.drain.split(",")))
    with open(a.out + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
