"""Gap-based sessionization: batch hand cases and DuckDB twin parity on
the events table."""

import datetime as dt

import duckdb
import pytest

from vtcomposite_spark.operators import sessions as SE

SF = "/root/testdata/sf0.001"
T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ev(eid, uid, minutes, seconds=0.0):
    return (eid, uid, T0 + dt.timedelta(minutes=minutes, seconds=seconds))


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp")


def test_sessionize_hand_case(spark):
    # user 1: 0m, 10m, 50m → 30m gap splits before the 50m event;
    # user 2: one event = one session
    df = _mk(spark, [_ev(1, 1, 0), _ev(2, 1, 10), _ev(3, 1, 50),
                     _ev(4, 2, 5)])
    got = {r.event_id: (r.user_id, r.session_id)
           for r in SE.sessionize(df).collect()}
    assert got == {1: (1, 1), 2: (1, 1), 3: (1, 2), 4: (2, 1)}
    # boundary: exactly gap_us apart CONTINUES (> is the break rule)
    df2 = _mk(spark, [_ev(1, 1, 0), _ev(2, 1, 30),
                      _ev(3, 1, 60, 0.000001)])
    got2 = {r.event_id: r.session_id for r in SE.sessionize(df2).collect()}
    assert got2 == {1: 1, 2: 1, 3: 2}
    # simultaneous events order by id (total order, no break between)
    df3 = _mk(spark, [_ev(7, 1, 0), _ev(6, 1, 0)])
    got3 = {r.event_id: r.session_id for r in SE.sessionize(df3).collect()}
    assert got3 == {6: 1, 7: 1}
    with pytest.raises(ValueError):
        SE.sessionize(df, gap_us=-1)


def test_session_stats_hand_case(spark):
    df = _mk(spark, [_ev(1, 1, 0), _ev(2, 1, 10), _ev(3, 1, 50)])
    got = {(r.user_id, r.session_id):
           (r.n_events, r.duration_us) for r in
           SE.session_stats(df).collect()}
    assert got == {(1, 1): (2, 600_000_000), (1, 2): (1, 0)}


def test_sessionize_duckdb_twin_parity(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = {tuple(r) for r in SE.sessionize(ev).collect()}
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{SF}/events.parquet'")
    want = {tuple(int(v) for v in r) for r in con.sql(
        SE.sessionize_sql("SELECT * FROM events")).fetchall()}
    assert got == want
    gots = {tuple(r) for r in SE.session_stats(ev).collect()}
    wants = {tuple(int(v) for v in r) for r in con.sql(
        SE.session_stats_sql("SELECT * FROM events")).fetchall()}
    assert gots == wants
    # sanity: multiple sessions actually exist in the fixture
    assert max(s[1] for s in gots) > 1


def test_event_window_counts_hand_and_twin(spark):
    from vtcomposite_spark.operators.sessions import (
        event_window_counts, event_window_counts_sql)
    rows = [(1, 1, T0, "view"), (2, 1, T0 + dt.timedelta(minutes=30), "view"),
            (3, 2, T0 + dt.timedelta(minutes=61), "click"),
            (4, 2, T0 + dt.timedelta(minutes=119, seconds=59.5), "click")]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {(r.window_start_us, r.type): r.n_events for r in
           event_window_counts(df, 60).collect()}
    base = next(iter(sorted(k[0] for k in got)))
    assert got == {(base, "view"): 2, (base + 3_600_000_000, "click"): 2}
    con = duckdb.connect()
    con.sql("CREATE TABLE _ev(event_id BIGINT, user_id BIGINT, "
            "ts TIMESTAMP, event_type VARCHAR)")
    con.executemany("INSERT INTO _ev VALUES (?, ?, ?, ?)", rows)
    want = {(int(a), b): int(c) for a, b, c in con.sql(
        event_window_counts_sql("SELECT * FROM _ev", 60)).fetchall()}
    assert got == want
    import pytest as _pt
    with _pt.raises(ValueError):
        event_window_counts(df, 0)


def test_event_window_counts_corpus_twin(spark):
    from vtcomposite_spark.operators.sessions import (
        event_window_counts, event_window_counts_sql)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = sorted(tuple(r) for r in event_window_counts(ev, 15).collect())
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{SF}/events.parquet'")
    want = sorted((int(a), b, int(c)) for a, b, c in con.sql(
        event_window_counts_sql("SELECT * FROM events", 15)).fetchall())
    assert got == want
