"""Table/store plan-memo key hygiene (r16 advice items):
load_table caches the nanos→µs-TRANSFORMED frame while a raw
``memo_plan`` read caches the untransformed one — the same path read
both ways must not serve the other's variant; and the directory fingerprint must embed
the child-entries tuple itself (hash() collisions would serve a
stale plan silently)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T


def _write_nanos_events(path: str) -> None:
    tbl = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_001,
                        1_700_000_000_000_000_002],
                       pa.timestamp("ns")),
        "user_id": pa.array([1, 2], pa.int64()),
        "event_type": pa.array(["view", "view"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    })
    pq.write_table(tbl, path, store_schema=False,
                   coerce_timestamps=None, use_deprecated_int96_timestamps=False)


def test_memo_namespaces_keep_variants_apart(spark, tmp_path):
    from optiprism_spark.schema import load_table, memo_plan

    path = os.path.join(str(tmp_path), "events.parquet")
    _write_nanos_events(path)

    via_table = load_table(spark, str(tmp_path), "events")
    assert isinstance(via_table.schema["ts"].dataType, T.TimestampType)

    # raw read of the SAME path (same stat fingerprint): must get the
    # un-transformed long column, not the memoized table variant
    via_raw = memo_plan(spark, path, "raw",
                        lambda: spark.read.parquet(path))
    assert isinstance(via_raw.schema["ts"].dataType, T.LongType)

    # and the reverse order must not poison load_table either
    via_table2 = load_table(spark, str(tmp_path), "events")
    assert isinstance(via_table2.schema["ts"].dataType, T.TimestampType)


def test_memo_key_embeds_child_entries_tuple(spark, tmp_path):
    from optiprism_spark.schema import _memo_key

    d = tmp_path / "store"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    key = _memo_key(spark, str(d), "raw")
    assert key is not None and key[0] == "raw"
    entries = key[3][2]
    assert isinstance(entries, tuple)
    assert entries and entries[0][0] == "part-0.parquet"
