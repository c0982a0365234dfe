"""Ingest-time live session store — synchronous Session Begin
injection at the write path.

Mirrors the reference's current-session tracking (metadata/src/
sessions.rs: one record per (project, user) holding the last activity
time; ``set_current_time`` returns whether this event STARTS a new
session) and its use in the track destination
(ingester/src/destinations/local/track.rs:46-52: a new session
injects a synthesized "Session Begin" event ahead of the tracked
event). ``check_for_deletion`` becomes ``expire``: records idle past
the TTL are dropped, so the next track from that user begins a fresh
session.

The TTL derives from the ONE engine-wide gap constant
(streaming/sessionize.SESSION_GAP_US) — the same definition the batch
sessionizer, the Session Begin synthesizer and the funnel's Session
count mode use.

This store is the reference's mechanism; the repo's default remains
gap-detection at read time (streaming/sessionize.
synthesize_session_begin), which produces the same rows without
write-path state. The store exists for deployments that want the
events table to carry Session Begin rows physically (so downstream
consumers never re-derive them). Scale note: state is one (user_id,
last_ts) pair per ACTIVE user per receiver — the same footprint as
the reference's RocksDB namespace; a fleet of stateless receivers
shards it by user via sticky routing.
"""

from __future__ import annotations

import threading
from typing import Optional

from .streaming.sessionize import SESSION_GAP_US


class SessionStore:
    """Per-project live sessions:
    {(project_id, user_key) -> (first_ts_us, last_ts_us)}."""

    def __init__(self, gap_us: int = SESSION_GAP_US):
        self.gap_us = gap_us
        self._lock = threading.Lock()
        self._live: dict[tuple[int, str], tuple[int, int]] = {}

    def touch(self, project_id: int, user_key: str, ts_us: int):
        """Record activity. Returns ``(is_new, displaced)``:
        ``is_new`` True if this event starts a NEW session (no live
        record, or the gap since the last activity exceeds the TTL —
        sessions.rs set_current_time + the sweeper's TTL rule
        collapsed into one check, so correctness does not depend on
        sweep timing); ``displaced`` is the (first_ts_us, last_ts_us)
        span of the PREVIOUS session when this event displaced one —
        the caller must emit its Session End, otherwise any session
        that ends between two sweeps loses its End row forever."""
        key = (project_id, user_key)
        with self._lock:
            rec = self._live.get(key)
            if rec is None or ts_us - rec[1] > self.gap_us:
                self._live[key] = (ts_us, ts_us)
                return True, rec
            self._live[key] = (rec[0], max(rec[1], ts_us))
            return False, None

    def close(self, project_id: int, user_key: str) -> None:
        """Drop one live record — used when replaying a journal whose
        Session End row already marked the session closed."""
        with self._lock:
            self._live.pop((project_id, user_key), None)

    def expire(self, now_us: int) -> list[tuple[int, str, int, int]]:
        """Drop records idle past the TTL (reference
        check_for_deletion) — bounds memory to active users. Returns
        the expired (project_id, user_key, first_ts_us, last_ts_us)
        records so the caller can emit Session End events (reference
        init_session_cleaner, cmd/src/lib.rs:357-430). Deliberate
        deviation: the reference reports session length as
        now − last-activity (its set_current_time overwrites
        created_at on every event, so the 'length' is really the idle
        timeout); we return first AND last activity so the emitted
        length is the session's actual span."""
        with self._lock:
            dead = [(pid, u, f, l) for (pid, u), (f, l) in self._live.items()
                    if now_us - l > self.gap_us]
            for pid, u, _, _ in dead:
                del self._live[(pid, u)]
        return sorted(dead)

    def active_count(self, project_id: Optional[int] = None) -> int:
        with self._lock:
            if project_id is None:
                return len(self._live)
            return sum(1 for (pid, _) in self._live if pid == project_id)
