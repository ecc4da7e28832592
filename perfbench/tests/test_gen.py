"""The seeded input generator: determinism, fixture-shaped values, and
the open-loop schedule with atomic landing."""

import fnmatch
import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen


def test_batch_tables_are_seeded():
    a, b, c = gen.batch_tables(5), gen.batch_tables(5), gen.batch_tables(6)
    assert sorted(a) == sorted(gen.BATCH_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_values_keep_the_fixture_parity_shape():
    t = gen.batch_tables(1)
    ev = t["events"].to_pydict()
    assert set(ev["event_type"]) == set(gen.EVENT_TYPES)
    assert 0 <= min(ev["user_id"]) and max(ev["user_id"]) < gen.N_USERS
    for table, col in [("events", "value"), ("lineitem", "l_extendedprice"),
                       ("orders", "o_totalprice"), ("customer", "c_acctbal")]:
        cents = np.asarray(t[table][col].to_pylist()) * 100
        assert np.all(np.abs(cents - np.round(cents)) < 1e-6), (table, col)
    ts = t["events"]["ts"].to_pylist()
    assert ts == sorted(ts)
    # streaming_dedup_watermark relies on a span well under its 365-day delay
    assert (ts[-1] - ts[0]).days < 60
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert t["embeddings"].num_rows == gen.BATCH_ROWS["embeddings"]


def test_backlog_files_are_disjoint_and_ordered(tmp_path):
    rows = gen.write_event_backlog(str(tmp_path), seed=3, n_files=4, rows=50)
    files = sorted(glob.glob(str(tmp_path / "events*.parquet")))
    assert rows == 200 and len(files) == 4
    ids = np.concatenate([pq.read_table(f)["event_id"].to_numpy() for f in files])
    assert list(ids) == list(range(200))
    assert not glob.glob(str(tmp_path / (gen.LANDING_PREFIX + "*")))


class FakeClock:
    """A clock that only moves when the generator sleeps, plus a fixed
    cost per file write, so the schedule is checked without waiting."""

    def __init__(self, t0, write_cost=0.0):
        self.t = t0
        self.write_cost = write_cost
        self.visible_during_sleep = []

    def __call__(self):
        self.t += self.write_cost
        return self.t

    def sleep(self, s, directory=None):
        self.visible_during_sleep.append(
            (sorted(os.listdir(directory)) if directory else None)
        )
        self.t += s


def test_schedule_lands_each_file_at_its_due_time(tmp_path):
    clock = FakeClock(1000.0)
    d = str(tmp_path)
    late = gen.run_schedule(d, seed=9, start=1001.0, rate=4.0, count=6, rows=10,
                            first_id=500, clock=clock,
                            sleep=lambda s: clock.sleep(s, d))
    assert late == pytest.approx([0.0] * 6)
    names = sorted(os.listdir(d))
    assert names == [f"events-{500 + 10 * i:012d}.parquet" for i in range(6)]
    for i, name in enumerate(names):
        t = pq.read_table(os.path.join(d, name))
        assert t["event_id"].to_pylist() == list(range(500 + 10 * i, 510 + 10 * i))
        due_us = round((1001.0 + i / 4.0) * 1e6)
        stamps = {v.value for v in t["ts"]}
        assert stamps == {due_us}
    # while waiting for file i, only files < i are published and file i
    # sits complete under its landing name, outside the events glob
    for i, listing in enumerate(clock.visible_during_sleep):
        published = [n for n in listing if n.startswith("events")]
        assert published == names[:i]
        (landing,) = [n for n in listing if n.startswith(gen.LANDING_PREFIX)]
        assert landing == gen.LANDING_PREFIX + names[i]
        assert not fnmatch.fnmatch(landing, "events*.parquet")


def test_schedule_reports_lateness_when_it_falls_behind(tmp_path):
    # each clock read costs 0.2 s, more than the 0.25 s tick allows
    clock = FakeClock(0.0, write_cost=0.2)
    late = gen.run_schedule(str(tmp_path), seed=1, start=0.0, rate=4.0, count=5, rows=5,
                            first_id=0, clock=clock, sleep=clock.sleep)
    assert late[0] > 0 and late[-1] > late[0]
    assert len(os.listdir(tmp_path)) == 5


def test_schedule_keeps_only_the_newest_files(tmp_path):
    d = str(tmp_path)
    first = gen.write_open_loop_history(d, seed=2, n_files=3, rows=10)
    clock = FakeClock(0.0)
    gen.run_schedule(d, seed=2, start=0.0, rate=4.0, count=5, rows=10, first_id=first,
                     retain=3, clock=clock, sleep=lambda s: clock.sleep(s, d))
    # history files 0..2 and timed files 3..7: only the last three remain
    assert sorted(os.listdir(d)) == [gen.open_loop_name(10 * g) for g in (5, 6, 7)]
    # while waiting for a file, the directory never held more than three
    for listing in clock.visible_during_sleep:
        assert len([n for n in listing if fnmatch.fnmatch(n, "events*.parquet")]) == 3
