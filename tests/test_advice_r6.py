"""Regression tests for the round-5 advisor findings (ADVICE.md):

1. A malformed client timestamp is rejected with 400 at ingest —
   BEFORE the WAL — and a journal holding such a row (written before
   validation existed) no longer crashes App startup when the session
   store is enabled: the touch is skipped, the row is kept.
2. checkpoint_ingest's drain+truncate is now available as a two-phase
   begin/commit: rows acked between begin and the caller's durable
   flush survive the commit in both buffer and WAL, and a crash before
   commit replays everything (at-least-once).
3. The live-session store is keyed by the project resolved from the
   ingest token (reference get_by_token, metadata/src/projects.rs:101),
   not a hardcoded project 0 — same-named users in different projects
   get independent sessions.
4. ensure_io_confs warns about ANY explicitly-set conflicting conf it
   overrides, not just the timezone.
5. refresh() accepts legacy refresh tokens lacking the typ claim for
   their remaining TTL (no forced re-login on deploy) while still
   rejecting access tokens.
"""

from __future__ import annotations

import warnings

import pytest

from optiprism_spark import auth as auth_mod
from optiprism_spark.catalog import Catalog
from optiprism_spark.server import make_app
from optiprism_spark.wal import IngestWal

from .test_server import call

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------- 1. malformed timestamp

def test_track_malformed_ts_is_400_not_500(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    for store in (False, True):
        app = make_app(spark, SF_DIR, wal_dir=wal_dir, session_store=store)
        st, body = call(app, "POST", "/api/v1/ingest/tok/track",
                        {"userId": "u1", "event": "view",
                         "timestamp": "not-a-date"})
        assert st == 400, f"session_store={store}: got {st}"
        assert "timestamp" in body["error"]
        assert app.tracked == []  # rejected before buffer AND WAL
    st, _ = call(app, "POST", "/api/v1/ingest/tok/identify",
                 {"group": "user", "id": "u1", "timestamp": "99:99"})
    assert st == 400
    # nothing journaled
    tracked, identified = IngestWal(wal_dir).replay()
    assert tracked == [] and identified == []


def test_replay_with_legacy_bad_ts_row_does_not_crash(spark, tmp_path):
    """A row WAL'd while the store was off (pre-validation) must not
    prevent the server from starting once the store is enabled."""
    wal_dir = str(tmp_path / "wal")
    w = IngestWal(wal_dir)
    w.append("track", {"token": "tok", "user_id": "u1", "anonymous_id": None,
                       "ts": "garbage-ts", "event_type": "view",
                       "props": "{}", "groups": "{}"})
    w.append("track", {"token": "tok", "user_id": "u2", "anonymous_id": None,
                       "ts": "2024-03-01T10:00:00Z", "event_type": "view",
                       "props": "{}", "groups": "{}"})
    w.close()
    app = make_app(spark, SF_DIR, wal_dir=wal_dir, session_store=True)
    # both rows recovered; only the parseable one touched the store
    assert [r["user_id"] for r in app.tracked] == ["u1", "u2"]
    assert app.sessions.active_count() == 1


# ------------------------------------------- 2. two-phase checkpoint

def _track(app, uid, ts):
    st, _ = call(app, "POST", "/api/v1/ingest/tok/track",
                 {"userId": uid, "event": "view", "timestamp": ts})
    assert st == 201


def test_checkpoint_begin_commit_keeps_mid_flush_rows(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    app = make_app(spark, SF_DIR, wal_dir=wal_dir)
    _track(app, "u1", "2024-03-01T10:00:00Z")
    snap_t, snap_i = app.begin_checkpoint()
    assert [r["user_id"] for r in snap_t] == ["u1"] and snap_i == []
    # a row acked while the caller flushes the snapshot
    _track(app, "u2", "2024-03-01T10:01:00Z")
    app.commit_checkpoint()
    assert [r["user_id"] for r in app.tracked] == ["u2"]
    # ...and it is still DURABLE: replay sees exactly the un-flushed row
    tracked, _ = IngestWal(wal_dir).replay()
    assert [r["user_id"] for r in tracked] == ["u2"]


def test_checkpoint_crash_before_commit_replays_everything(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    app = make_app(spark, SF_DIR, wal_dir=wal_dir)
    _track(app, "u1", "2024-03-01T10:00:00Z")
    app.begin_checkpoint()  # caller crashes before commit
    del app
    app2 = make_app(spark, SF_DIR, wal_dir=wal_dir)
    assert [r["user_id"] for r in app2.tracked] == ["u1"]
    with pytest.raises(RuntimeError):
        app2.commit_checkpoint()  # no begin on THIS process


# --------------------------------- 3. project-scoped session keying

def test_sessions_keyed_by_ingest_token_project(spark, tmp_path):
    cat = Catalog()
    pa = cat.create("project", {"name": "A", "token": "tokA"})
    pb = cat.create("project", {"name": "B", "token": "tokB"})
    assert pa["id"] != pb["id"]
    wal_dir = str(tmp_path / "wal")
    app = make_app(spark, SF_DIR, wal_dir=wal_dir, session_store=True,
                   catalog=cat)

    def track(tok, ts):
        st, _ = call(app, "POST", f"/api/v1/ingest/{tok}/track",
                     {"userId": "u1", "event": "view", "timestamp": ts})
        assert st == 201

    track("tokA", "2024-03-01T10:00:00Z")
    # same user name, other project, INSIDE project A's session window:
    # must still begin its own session
    track("tokB", "2024-03-01T10:01:00Z")
    begins = [r["token"] for r in app.tracked
              if r["event_type"] == "Session Begin"]
    assert begins == ["tokA", "tokB"]
    assert app.sessions.active_count() == 2
    # sweeper emits Session End rows carrying each project's token,
    # and replay closes the matching per-project records
    assert app.sweep_sessions(now_us=2 * 10 ** 18) == 2
    ends = {r["token"] for r in app.tracked if r["event_type"] == "Session End"}
    assert ends == {"tokA", "tokB"}
    del app
    app2 = make_app(spark, SF_DIR, wal_dir=wal_dir, session_store=True,
                    catalog=cat)
    assert app2.sessions.active_count() == 0


def test_created_project_gets_generated_sdk_token(spark):
    app = make_app(spark, SF_DIR)
    st, proj = call(app, "POST", "/api/v1/projects", {"name": "new-proj"})
    assert st == 201
    assert len(proj["token"]) == 64 and proj["token"].isalnum()
    assert app._project_of_token(proj["token"]) == proj["id"]
    assert app._project_of_token("unknown") == 0


# ------------------------------------------- 4. conf override warning

def test_ensure_io_confs_warns_on_every_explicit_conflict(spark):
    from optiprism_spark.schema import ensure_io_confs

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        with pytest.warns(RuntimeWarning, match="nanosAsLong"):
            ensure_io_confs(spark)
        assert spark.conf.get(key) == "true"
        # idempotent + silent once stamped
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            ensure_io_confs(spark)
    finally:
        spark.conf.set(key, prior if prior is not None else "true")


# ------------------------------------------- 5. legacy refresh tokens

def test_legacy_refresh_token_without_typ_still_refreshes():
    import time
    from unittest import mock

    cat = Catalog()
    key = "k" * 32
    pair = auth_mod.sign_up(cat, {"email": "a@b.c", "password": "pw"}, key)
    acct_id = auth_mod.parse_token(pair["accessToken"], key)["accountId"]
    # pin the legacy grace window open relative to NOW (the real
    # deadline is a fixed date, so an exp of now + 1 h falls after it
    # once that date has passed)
    now = int(time.time())
    deadline = now + 7200
    with mock.patch.object(auth_mod, "_LEGACY_TYP_DEADLINE", deadline):
        legacy = auth_mod.make_token(
            {"exp": now + 3600, "accountId": acct_id}, key)
        fresh = auth_mod.refresh(cat, {"refreshToken": legacy}, key)
        assert "accessToken" in fresh and "refreshToken" in fresh
        # a typ-less token whose exp is past the deadline is no legacy
        # token and cannot refresh
        late = auth_mod.make_token(
            {"exp": deadline + 10, "accountId": acct_id}, key)
        with pytest.raises(auth_mod.AuthError):
            auth_mod.refresh(cat, {"refreshToken": late}, key)
        # an access token (organizationId claim) still cannot refresh
        with pytest.raises(auth_mod.AuthError):
            auth_mod.refresh(cat, {"refreshToken": pair["accessToken"]},
                             key)
        # nor can an explicit non-refresh typ
        bad = auth_mod.make_token(
            {"exp": now + 3600, "accountId": acct_id, "typ": "access"},
            key)
        with pytest.raises(auth_mod.AuthError):
            auth_mod.refresh(cat, {"refreshToken": bad}, key)
