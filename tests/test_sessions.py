"""Event sessionization (operators.sessions): the two batch formulations
agree with each other and with an independent DuckDB derivation."""

from __future__ import annotations

import datetime
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from record_matcher_spark.operators import sessions
from record_matcher_spark.operators.sessions import session_stats, sessionize

GAP_S = 3600  # 1h sessions for the hand-built fixtures


@pytest.fixture
def gap_1h(monkeypatch):
    """Both operators read sessions.GAP_SECONDS at call time."""
    monkeypatch.setattr(sessions, "GAP_SECONDS", GAP_S)
    return monkeypatch


_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ts(h, m=0, s=0, us=0):
    return datetime.datetime(2024, 3, 1, h, m, s, us)


def _events(spark):
    """3 users: u1 = one session whose last hop is EXACTLY gap (inclusive
    boundary — Spark's session window merges it; verified here), then a
    second session > gap later; u2 = tied timestamps (one session however
    ties order); u3 = singleton. One NULL user row and one NULL ts row
    must be dropped."""
    rows = [
        # u1 session 0: 10:00, 10:59:59.999999 (diff just under gap),
        # then EXACTLY gap after event 2 -> still session 0
        (1, _ts(10), 1, "a", 1.25),
        (2, _ts(10, 59, 59, 999999), 1, "b", 2.50),
        (3, _ts(11, 59, 59, 999999), 1, "a", 0.75),
        # u1 session 1: > gap after event 3
        (9, _ts(13, 30), 1, "b", 4.00),
        # u2: tied timestamps -> one session
        (4, _ts(12), 2, "x", 10.00),
        (5, _ts(12), 2, "x", 0.50),
        # u3 singleton
        (6, _ts(1), 3, "z", 5.00),
        (7, _ts(2), None, "n", 1.00),
        (8, None, 3, "n", 1.00),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_sessionize_labels(spark, gap_1h):
    out = sessionize(_events(spark))
    got = {
        r["event_id"]: (r["user_id"], r["session_idx"], r["session_id"])
        for r in out.collect()
    }
    assert got == {
        1: (1, 0, "1#0"),
        2: (1, 0, "1#0"),
        3: (1, 0, "1#0"),  # boundary: diff == gap stays in the session
        9: (1, 1, "1#1"),
        4: (2, 0, "2#0"),
        5: (2, 0, "2#0"),
        6: (3, 0, "3#0"),
    }


def test_session_stats_matches_sessionize(spark, gap_1h):
    """The native session_window path groups events identically to the
    lag-formulation labels, and the aggregates are right."""
    ev = _events(spark)
    stats = {
        (r["user_id"], r["session_start_epoch"]): r
        for r in session_stats(ev).collect()
    }
    lab = (
        sessionize(ev)
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_timestamp("ts")).alias("start"),
        )
        .collect()
    )
    assert len(stats) == len(lab) == 4
    for r in lab:
        s = stats[(r["user_id"], r["start"])]
        assert s["n_events"] == r["n"]
    u1s0 = stats[(1, int(_ts(10).timestamp()))]
    assert u1s0["n_events"] == 3
    assert u1s0["n_event_types"] == 2
    assert u1s0["value_cents_sum"] == 450
    u2 = stats[(2, int(_ts(12).timestamp()))]
    assert u2["n_events"] == 2 and u2["n_event_types"] == 1
    assert u2["value_cents_sum"] == 1050


def test_session_stats_duckdb_differential(spark):
    """Same check as the driver row, on the real events table at sf0.001:
    native session_window vs an independent lag+cumsum SQL derivation."""
    import __spark_entry__ as entry_mod

    sf = os.environ.get("RM_TEST_SF_DIR", "/root/testdata/sf0.001")
    sdf = entry_mod.queries()["event_sessions"](spark, sf)
    s_rows = {
        (r["user_id"], r["session_start_epoch"]): (
            r["n_events"], r["session_end_epoch"], r["n_event_types"],
            r["value_cents_sum"],
        )
        for r in sdf.collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf, 'events.parquet')}')"
    )
    d_rows = {
        (u, st): (n, en, nt, vc)
        for u, n, st, en, nt, vc in con.execute(
            entry_mod.oracle_sql()["event_sessions"]
        ).fetchall()
    }
    assert s_rows == d_rows and len(s_rows) > 0


def test_sessionize_split_matches_unsplit(spark, gap_1h):
    """Heavy-user split (split_bucket_seconds) must produce IDENTICAL
    labels to the single-window path — on the hand-built boundary
    fixtures for several bucket widths (including widths smaller than
    the gap and widths that slice sessions mid-run, with a 1h gap) and
    on the real events table (the 12h gap)."""
    ev = _events(spark)
    want = {
        r["event_id"]: (r["session_idx"], r["session_id"])
        for r in sessionize(ev).collect()
    }
    for bucket_s in (60, 1800, GAP_S, 2 * GAP_S, 86400):
        got = {
            r["event_id"]: (r["session_idx"], r["session_id"])
            for r in sessionize(ev, split_bucket_seconds=bucket_s).collect()
        }
        assert got == want, (bucket_s, got, want)

    gap_1h.undo()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = sessionize(events).select("event_id", "session_id")
    b = sessionize(events, split_bucket_seconds=86400).select(
        "event_id", "session_id"
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_sessionize_split_bounds_heavy_user_partitions(spark, gap_1h):
    """One user owning ~50% of all events: with the split, no
    (user, bucket) window partition holds more than one bucket's worth
    of that user's events — the skew bound the 100 TB design needs."""
    rows = []
    # hyperactive user 1: one event per minute for 4 days (~5760 events)
    t0 = datetime.datetime(2024, 3, 1)
    for i in range(5760):
        rows.append((i, t0 + datetime.timedelta(minutes=i), 1, "a", 1.0))
    # background users: ~5000 events over the same range
    for i in range(5000):
        rows.append(
            (10000 + i, t0 + datetime.timedelta(minutes=i), 2 + (i % 50),
             "b", 1.0)
        )
    ev = spark.createDataFrame(rows, _SCHEMA)
    bucket_s = 6 * 3600  # 6h buckets -> 360 events per bucket for u1
    out = sessionize(ev, split_bucket_seconds=bucket_s)
    # labels: user 1 events are 1 min apart -> one giant session
    u1 = out.where("user_id = 1")
    assert u1.select("session_idx").distinct().count() == 1
    assert u1.agg(F.max("session_idx")).first()[0] == 0
    # window-partition bound: largest (user, bucket) group == one bucket
    bucket_us = bucket_s * 1_000_000
    grp = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id", F.floor(F.unix_micros("ts") / bucket_us))
        .count()
    )
    assert grp.agg(F.max("count")).first()[0] <= 360
