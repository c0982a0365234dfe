"""The pointer commit every maintained store shares (snapshot.py):
routed reads stay consistent while folds, recomputes and expiries
commit, and a crash on either side of the pointer flip followed by a
re-delivery of the same batch leaves each store equal to a serial
rebuild."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optiprism_spark.schema import load_table

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

_T_JAN = {"type": "between", "from": "2024-01-01T00:00:00",
          "to": "2024-01-31T23:59:59.999999"}


def _on_day(events, day: dt.date):
    return events.filter(F.to_date("ts") == F.lit(day.isoformat()))


def test_routed_reads_stay_consistent_while_the_store_commits(
        spark, tmp_path):
    """Two threads sum the rollup store through ``read`` and one posts
    a rollup-routed segmentation tile to the App, while the main thread
    folds a day twice, expires the first day and recomputes both. Every
    read must succeed and see one committed state: the base total plus
    0-2 folds of the day, with or without the first day."""
    from optiprism_spark import metrics
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.server import make_app
    from tests.test_server import call

    events = load_table(spark, SF_CORRECTNESS, "events")
    first, day = dt.date(2024, 1, 1), dt.date(2024, 1, 20)
    batch = _on_day(events, day)
    n_day, n_first, base = (batch.count(), _on_day(events, first).count(),
                            events.count())
    lattice = {base + k * n_day - j * n_first
               for k in range(3) for j in range(2)}
    store = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    store.rebuild(spark, events)
    app = make_app(spark, SF_CORRECTNESS, rollup_store=store,
                   result_cache_ttl=None)
    tile = {"time": _T_JAN, "group": "user", "intervalUnit": "day",
            "chartType": "line",
            "events": [{"eventName": None, "eventType": "regular",
                        "queries": [{"type": "countEvents"}]}]}

    stop = threading.Event()
    errors, seen = [], []

    def store_sum():
        return store.read(spark).agg(F.sum("events_count")).first()[0]

    def tile_sum():
        status, payload = call(
            app, "POST", "/api/v1/projects/1/queries/event-segmentation",
            tile)
        assert status == 200, payload
        col = next(c for c in payload["columns"]
                   if c["name"] == "0_0_count_events")
        return sum(col["data"])

    def reader(read):
        while not stop.is_set():
            try:
                seen.append(read())
            except Exception as e:  # noqa: BLE001 — every failure counts
                errors.append(repr(e)[:300])

    routed0 = metrics.query_rollup_routed_total().value(path="rollup")
    threads = [threading.Thread(target=reader, args=(r,))
               for r in (store_sum, store_sum, tile_sum)]
    for t in threads:
        t.start()
    commits = 0
    try:
        deadline = time.monotonic() + 12
        while time.monotonic() < deadline:
            store.update(spark, batch)
            store.update(spark, batch)
            store.expire_before(first + dt.timedelta(days=1))
            store.recompute_days(spark, events, [first, day])
            commits += 4
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert commits >= 8 and len(seen) >= 10
    assert set(seen) <= lattice, sorted(set(seen) - lattice)
    assert metrics.query_rollup_routed_total().value(path="rollup") > routed0
    assert store_sum() == base


def test_concurrent_writers_of_one_store_lose_no_fold(spark, tmp_path):
    """Writers of one store in one process take turns from pointer read
    to flip: six folds from three threads (more threads than the folds
    need, switching often) all land."""
    import sys

    from optiprism_spark.rollup import RollupSpec, RollupStore

    events = load_table(spark, SF_SMOKE, "events")
    batch = _on_day(events, dt.date(2024, 1, 20))
    n_day, base = batch.count(), events.count()
    store = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    store.rebuild(spark, events)
    errors = []

    def fold(stream):
        try:
            for b in range(2):
                store.update(spark, batch, stream_id=stream, batch_id=b)
        except Exception as e:  # noqa: BLE001 — every failure counts
            errors.append(repr(e)[:300])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=fold, args=(f"s{i}",))
                   for i in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    total = store.read(spark).agg(F.sum("events_count")).first()[0]
    assert total == base + 6 * n_day


def test_retired_files_keep_their_mtime_and_go_once_due(
        tmp_path, monkeypatch):
    """A commit records the files it retires, with the time, in the
    pointer and leaves their mtimes alone. ``sweep`` deletes what is
    due without a commit: a retired file once ``RETIRE_AFTER_S`` has
    passed since its retirement, a file no pointer named once as old
    by mtime. It skips a store whose writer another thread holds."""
    from optiprism_spark import snapshot

    path = str(tmp_path / "store")

    def put(rel, mtime=1.0):
        full = os.path.join(path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(b"x")
        os.utime(full, (mtime, mtime))
        return {rel: 1}

    def on_disk():
        return sorted(os.listdir(os.path.join(path, "g")))

    v1 = snapshot.commit(path, snapshot.load(path), {"g": put("g/a")})
    v2 = snapshot.commit(path, v1, {"g": put("g/b")})
    assert list(v2["retired"]) == ["g/a"]
    assert os.path.getmtime(os.path.join(path, "g/a")) == 1.0
    put("g/old-orphan")
    put("g/new-orphan", time.time())
    snapshot.sweep(path)
    assert on_disk() == ["a", "b", "new-orphan"]

    monkeypatch.setattr(snapshot, "RETIRE_AFTER_S", 0.0)
    held, done = threading.Event(), threading.Event()

    def hold():
        with snapshot.writer(path):
            held.set()
            done.wait(10)

    t = threading.Thread(target=hold)
    t.start()
    held.wait(10)
    snapshot.sweep(path)
    assert on_disk() == ["a", "b", "new-orphan"]
    done.set()
    t.join()
    snapshot.sweep(path)
    assert on_disk() == ["b"]
    assert snapshot.load(path)["version"] == 2


def _day_store(kind: str, path: str):
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.streaming.audience import KmvDayStore
    from optiprism_spark.userday import UserDayStore

    return {"rollup": lambda: RollupStore(path, RollupSpec()),
            "userday": lambda: UserDayStore(path),
            "kmv": lambda: KmvDayStore(path, k=64)}[kind]()


class _Killed(Exception):
    pass


def _kill_at_flip(monkeypatch, phase: str) -> None:
    """Make the next pointer write die just before or just after the
    pointer lands, as a process killed there would."""
    from optiprism_spark import snapshot

    real = snapshot.write_json_durable

    def flip(path, obj):
        if phase == "after":
            real(path, obj)
        monkeypatch.setattr(snapshot, "write_json_durable", real)
        raise _Killed(phase)

    monkeypatch.setattr(snapshot, "write_json_durable", flip)


def _rows(df):
    """Sorted rows, an HLL sketch through its estimate (its serialized
    bytes depend on how it was merged; the estimate is the contract)."""
    for f in df.schema.fields:
        if isinstance(f.dataType, T.BinaryType):
            df = df.withColumn(f.name, F.hll_sketch_estimate(f.name))
    return sorted(str(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("phase", ["before", "after"])
@pytest.mark.parametrize("kind", ["rollup", "userday", "kmv"])
def test_day_store_fold_killed_at_the_flip_replays_exactly_once(
        spark, tmp_path, monkeypatch, kind, phase):
    events = load_table(spark, SF_SMOKE, "events")
    late = F.to_date("ts") >= F.lit("2024-01-20")
    base = events.filter(~late | (F.col("event_id") % 2 == 0))
    batch = events.filter(late & (F.col("event_id") % 2 == 1))
    st = _day_store(kind, str(tmp_path / "store"))
    st.rebuild(spark, base)

    _kill_at_flip(monkeypatch, phase)
    with pytest.raises(_Killed):
        st.update(spark, batch, stream_id="s", batch_id=1)
    applied = st.update(spark, batch, stream_id="s", batch_id=1)
    assert (applied == 0) == (phase == "after")

    ref = _day_store(kind, str(tmp_path / "ref"))
    ref.rebuild(spark, events)
    assert _rows(st.read(spark)) == _rows(ref.read(spark))


@pytest.mark.parametrize("phase", ["before", "after"])
def test_ivf_append_killed_at_the_flip_replays_exactly_once(
        spark, tmp_path, monkeypatch, phase):
    from optiprism_spark.operators.ivf_store import IvfStore

    emb = load_table(spark, SF_SMOKE, "embeddings")
    st = IvfStore(str(tmp_path / "ivf"))
    st.rebuild(spark, emb.filter(F.col("vec_id") % 2 == 0), n_centroids=4)

    batch = emb.filter(F.col("vec_id") % 2 == 1)
    _kill_at_flip(monkeypatch, phase)
    with pytest.raises(_Killed):
        st.append(spark, batch, stream_id="s", batch_id=1)
    appended = st.append(spark, batch, stream_id="s", batch_id=1)
    assert (appended == 0) == (phase == "after")

    ref = IvfStore(str(tmp_path / "ref"))
    ref.rebuild(spark, emb, n_centroids=4)

    def ids(s):
        return sorted(r[0] for r in s.assignment(spark).select(
            "vec_id").collect())

    assert st.info()["count"] == ref.info()["count"] == emb.count()
    assert ids(st) == ids(ref)
