"""Regression tests for the round-6 self-review findings: concurrency
holes in exactly the seams whose docstrings promise concurrency safety.

1. (The L0 listing's ``_temporary`` pruning is tested in
   test_tiered_compaction.py.)
2. A /track acked while commit_checkpoint is mid-flight must survive
   in both buffer and WAL: the ingest lock serializes the buffer slice
   + journal rewrite against concurrent appends.
3. Histogram re-registration with different buckets raises instead of
   silently observing into the first caller's boundaries.
4. Legacy typ-less refresh acceptance is bounded by the deploy-epoch
   deadline (covered in test_advice_r5.py's updated binding test).
"""

from __future__ import annotations

import threading

import pytest


def test_checkpoint_commit_does_not_drop_concurrent_track(spark, tmp_path):
    """Interleave: begin_checkpoint -> (commit starts, rewrite stalls)
    -> /track acks row R -> rewrite completes. R must remain in the
    buffer AND in the journal a fresh App replays."""
    from optiprism_spark.server import make_app

    wal_dir = str(tmp_path / "wal")
    app = make_app(spark, "/root/testdata/sf0.001", wal_dir=wal_dir)
    app._track({"event": "e1", "userId": "u1",
                "timestamp": "2024-01-01T00:00:00Z"}, {"token": ""}, {})
    app.begin_checkpoint()

    real_rewrite = app.wal.rewrite
    in_rewrite = threading.Event()
    release = threading.Event()

    def slow_rewrite(records):
        in_rewrite.set()
        assert release.wait(5)
        real_rewrite(records)

    app.wal.rewrite = slow_rewrite
    t = threading.Thread(target=app.commit_checkpoint)
    t.start()
    # the commit thread is inside the locked section, stalled in the
    # rewrite; a concurrent track must BLOCK on the lock (not interleave
    # into the about-to-be-clobbered journal) and land after the commit
    assert in_rewrite.wait(5)
    tracker = threading.Thread(
        target=app._track,
        args=({"event": "e2", "userId": "u2",
               "timestamp": "2024-01-01T00:00:01Z"}, {"token": ""}, {}),
    )
    tracker.start()
    tracker.join(timeout=0.5)
    assert tracker.is_alive(), "track must wait for the checkpoint lock"
    release.set()
    t.join(5)
    tracker.join(5)
    app.wal.rewrite = real_rewrite

    assert [r["event_type"] for r in app.tracked] == ["e2"]
    replayed = make_app(spark, "/root/testdata/sf0.001", wal_dir=wal_dir)
    assert [r["event_type"] for r in replayed.tracked] == ["e2"]


def test_histogram_bucket_conflict_raises():
    from optiprism_spark.metrics import Registry

    reg = Registry()
    reg.histogram("x_seconds", buckets=(0.1, 1.0))
    with pytest.raises(ValueError, match="re-registered"):
        reg.histogram("x_seconds", buckets=(5.0, 60.0))
    # same buckets: fine
    assert reg.histogram("x_seconds", buckets=(0.1, 1.0)) is not None


def test_ingest_checkpoint_fuzz_no_loss_no_dup(spark, tmp_path):
    """4 tracker threads race a begin/flush/commit checkpoint loop;
    afterwards every acked row must appear EXACTLY once across
    (simulated flushed writes) + (remaining buffer), and the journal a
    fresh App replays must equal the remaining buffer."""
    from collections import Counter

    from optiprism_spark.server import make_app

    wal_dir = str(tmp_path / "wal")
    app = make_app(spark, "/root/testdata/sf0.001", wal_dir=wal_dir)
    flushed: list = []
    errors: list = []
    stop = threading.Event()

    def tracker(tid: int):
        try:
            for i in range(150):
                app._track(
                    {"event": f"e{tid}-{i}", "userId": f"u{tid}",
                     "timestamp": "2024-01-01T00:00:00Z"},
                    {"token": ""}, {})
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    def checkpointer():
        try:
            while not stop.is_set():
                snap_t, _snap_i = app.begin_checkpoint()
                flushed.extend(snap_t)  # the "durable write"
                app.commit_checkpoint()
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=tracker, args=(t,)) for t in range(4)]
    cp = threading.Thread(target=checkpointer)
    cp.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    stop.set()
    cp.join(60)
    assert not errors, errors

    got = Counter(r["event_type"] for r in flushed) + Counter(
        r["event_type"] for r in app.tracked)
    want = Counter(f"e{t}-{i}" for t in range(4) for i in range(150))
    assert got == want

    replayed = make_app(spark, "/root/testdata/sf0.001", wal_dir=wal_dir)
    assert [r["event_type"] for r in replayed.tracked] == [
        r["event_type"] for r in app.tracked]



def test_tracked_to_events_client_prop_collides_with_enrichment(spark):
    """A client prop named like an enrichment key ("os") must not
    crash map_concat (mapKeyDedupPolicy=EXCEPTION) — and the CLIENT
    value wins."""
    import json

    from optiprism_spark.ingest import tracked_to_events, ua_enrich
    from optiprism_spark.server import parse_track

    row = parse_track(
        {"event": "e1", "userId": "1",
         "timestamp": "2024-01-01T00:00:00Z",
         "properties": {"os": "CustomOS"},
         "context": {"userAgent":
                     "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36"}},
        "tok")
    from optiprism_spark.server import _TRACK_SCHEMA

    df = ua_enrich(spark.createDataFrame([row], _TRACK_SCHEMA))
    out = tracked_to_events(df).collect()[0]
    props = json.loads(out.props)
    assert props["os"] == "CustomOS"        # client wins
    assert props.get("browser") == "Chrome"  # enrichment fills the rest


def test_session_begin_sorts_before_first_event(spark):
    """The synthesized Session Begin must sort strictly BEFORE the
    session's first event under the (ts, event_id) key, with a unique
    id — a verbatim id copy tied the sort nondeterministically."""
    import datetime as dtm

    from pyspark.sql import functions as F2

    from optiprism_spark.streaming.sessionize import (
        EVENT_SESSION_BEGIN,
        synthesize_session_begin,
    )

    df = spark.createDataFrame(
        [(5, dtm.datetime(2024, 1, 1, 10), 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    out = synthesize_session_begin(df).orderBy("ts", "event_id").collect()
    assert [r.event_type for r in out] == [EVENT_SESSION_BEGIN, "view"]
    assert len({r.event_id for r in out}) == 2
    assert out[0].event_id == -6
