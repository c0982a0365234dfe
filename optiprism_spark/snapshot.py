"""One pointer commit for every maintained store: the day stores
(daystore.py), the IVF index (operators/ivf_store.py) and the events
lake (ingest.py).

A store directory holds immutable parquet files and ONE pointer JSON,
the store's whole state: the live files, grouped by their directory (a
``<day_col>=<day>`` partition, or ``centroids`` and ``assignment``),
with their sizes, the ``(stream_id, batch_id)`` replay ledger, the
files retired from it with their retirement times, and store metadata.
A commit writes files under names no earlier commit used, then flips
the pointer with one fsync'd ``os.replace``, so data and ledger land
together: a crash before the flip leaves the batch unapplied and
unrecorded, one after it leaves both. A reader scans exactly the files
of the pointer it loaded; a retired file is deleted once retired for
``RETIRE_AFTER_S``, by the next commit or ``sweep``. No pointer means
no store; nothing reads an older layout.
"""

from __future__ import annotations

import fnmatch
import os
import shutil
import threading
import time
import uuid
from typing import Callable, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from .schema import memo_plan, read_json, write_json_durable

POINTER = "_snapshot.json"

#: Seconds a file stays on disk after the commit that stopped naming
#: it. A query plans against one pointer and reads its files later, so
#: this must outlast any served query (dashboard tiles take seconds, the
#: slowest registered query at sf1 under a minute).
RETIRE_AFTER_S = 600.0

_WRITERS: dict[str, threading.RLock] = {}
_WRITERS_GUARD = threading.Lock()


def writer(path: str) -> threading.RLock:
    """The lock a writer holds from reading the pointer to flipping it,
    keyed by path because every caller builds its own store objects
    (re-entrant: an IVF maintain tick may rebuild)."""
    with _WRITERS_GUARD:
        return _WRITERS.setdefault(os.path.realpath(path), threading.RLock())


def pointer_path(path: str) -> str:
    return os.path.join(path, POINTER)


def load(path: str) -> dict:
    """The committed pointer of the store at ``path``; without one, the
    empty pointer of version 0 that a first commit starts from."""
    return read_json(pointer_path(path)) or {
        "version": 0, "files": {}, "applied": {}, "retired": {},
        "meta": {}}


def applied(ptr: dict, stream_id: Optional[str],
            batch_id: Optional[int]) -> bool:
    """Whether the ledger holds this batch; one without ids never is."""
    return (stream_id is not None and batch_id is not None
            and ptr["applied"].get(stream_id, -1) >= batch_id)


def paths(path: str, files: dict, groups: Iterable[str] = ()) -> list[str]:
    """Absolute paths in a ``{group: {relpath: bytes}}`` map (of
    ``groups`` only, when given)."""
    return [os.path.join(path, rel) for g in (groups or files)
            for rel in sorted(files.get(g, {}))]


def frame(spark: SparkSession, path: str, ptr: dict, ns: str,
          groups: Iterable[str] = (),
          shape: Callable[[DataFrame], DataFrame] = lambda df: df
          ) -> DataFrame:
    """The pointer's files (of ``groups`` only, when given) as one
    frame, through ``shape``, memoized in ``schema``'s plan memo per
    pointer version: a repeat read skips the footer round-trip and
    re-analysis, and a commit is a miss. ``basePath`` keeps a
    ``<col>=<value>`` directory as a partition column."""
    return memo_plan(
        spark, pointer_path(path), f"{ns}@{ptr['version']}",
        lambda: shape(spark.read.option("basePath", path).parquet(
            *paths(path, ptr["files"], groups))))


def nbytes(ptr: dict) -> int:
    """Bytes of the pointer's live files."""
    return sum(size for files in ptr["files"].values()
               for size in files.values())


def write(df: DataFrame, path: str, partition_col: Optional[str] = None,
          group: Optional[str] = None) -> dict[str, dict[str, int]]:
    """Write ``df`` as new files of the store at ``path``: Spark writes
    into a private staging directory, then each part file (its name
    carries the write job's UUID) is renamed into its group's
    directory, a ``<partition_col>=<value>`` one or ``group``. Returns
    ``{group: {relpath: bytes}}`` for ``commit``."""
    stage = os.path.join(path, f"_stage-{uuid.uuid4().hex}")
    out: dict[str, dict[str, int]] = {}
    try:
        (df.write.partitionBy(partition_col) if partition_col
         else df.write).parquet(stage)
        for root, _dirs, names in os.walk(stage):
            g = os.path.relpath(root, stage) if partition_col else group
            for name in fnmatch.filter(names, "part-*.parquet"):
                rel = os.path.join(g, name)
                os.makedirs(os.path.join(path, g), exist_ok=True)
                os.replace(os.path.join(root, name), os.path.join(path, rel))
                out.setdefault(g, {})[rel] = os.path.getsize(
                    os.path.join(path, rel))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return out


def commit(path: str, base: dict, files: dict,
           stream_id: Optional[str] = None, batch_id: Optional[int] = None,
           meta: Optional[dict] = None) -> dict:
    """Flip the pointer from ``base`` (the one the writer read) to
    ``files``, with the batch in the ledger and ``meta`` (default:
    base's), then sweep. A file ``base`` names and ``files`` does not
    is retired now; a retirement older than ``RETIRE_AFTER_S`` leaves
    the pointer once its file is gone (the lake tells folded L0 parts
    by their retirement). Returns the new pointer."""
    now = time.time()
    live = {rel for fs in files.values() for rel in fs}
    retired = {rel: t for rel, t in base["retired"].items()
               if now - t < RETIRE_AFTER_S
               or os.path.exists(os.path.join(path, rel))}
    retired.update((rel, now) for fs in base["files"].values()
                   for rel in fs.keys() - live)
    ledger = dict(base["applied"])
    if stream_id is not None and batch_id is not None:
        ledger[stream_id] = batch_id
    ptr = {"version": base["version"] + 1,
           "files": {g: fs for g, fs in files.items() if fs},
           "applied": ledger, "retired": retired,
           "meta": base["meta"] if meta is None else meta}
    write_json_durable(pointer_path(path), ptr)
    _sweep(path, ptr)
    return ptr


def sweep(path: str) -> None:
    """Delete what is due under the store at ``path`` (see ``_sweep``)
    without a commit, so a retired file leaves the disk even when no
    later commit comes. A store whose writer is busy is skipped: its
    commit sweeps."""
    lock = writer(path)
    if not lock.acquire(blocking=False):
        return
    try:
        ptr = load(path)
        if ptr["version"]:
            _sweep(path, ptr)
    finally:
        lock.release()


def _sweep(path: str, ptr: dict) -> None:
    """Delete every file the pointer retired ``RETIRE_AFTER_S`` ago,
    wherever it lies (the lake retires L0 parts and an adopted base
    outside its directory); then every file under ``path`` no pointer
    ever named (a crashed commit's staging and part files) once as old
    by mtime, which spares what a writer in another process is still
    landing; then every empty directory as old."""
    keep = {rel for fs in ptr["files"].values() for rel in fs} | {POINTER}
    now = time.time()
    for rel, t in ptr["retired"].items():
        if now - t >= RETIRE_AFTER_S:
            try:
                os.remove(os.path.join(path, rel))
            except OSError:
                pass

    def due(p: str) -> bool:
        rel = os.path.relpath(p, path)
        return now - ptr["retired"].get(rel, os.path.getmtime(p)) \
            >= RETIRE_AFTER_S

    for root, _dirs, names in os.walk(path, topdown=False):
        for name in names:
            full = os.path.join(root, name)
            try:
                if os.path.relpath(full, path) not in keep and due(full):
                    os.remove(full)
            except OSError:
                pass
        try:
            if root != path and due(root):
                os.rmdir(root)  # only succeeds when empty
        except OSError:
            pass
