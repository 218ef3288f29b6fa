"""Persisted table layout and bucket-layout evolution (``rebucket``).

The bucket layout is TABLE metadata, not reader code (Iceberg keeps the
partition spec in snapshot metadata for the same reason): every commit
manifest carries its ``n_buckets``, and re-opening a root with different
constructor args must adopt it, otherwise a key's new rows route to a
different bucket than its history and the per-bucket merge silently
duplicates the key. ``rebucket(n)`` is the sanctioned way to change the
layout — one maintenance commit, ledger and state untouched.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.runner import CdcEngine

_TS = datetime.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, lsn long, op string"
)


def _events(spark, rows):
    """rows: (conv_id, turn_idx, lsn, op, text)"""
    return spark.createDataFrame(
        [
            {"conv_id": c, "turn_idx": t, "role": "user", "text": x,
             "tool": None, "ts": _TS, "lsn": l, "op": o}
            for c, t, l, o, x in rows
        ],
        SCHEMA,
    )


def _state(lake):
    return {
        tuple(r)
        for r in lake.read_raw()
        .select("conv_id", "turn_idx", "text", "_lsn", "_deleted")
        .collect()
    }


SEED = [(f"c{i}", j, 100 + i * 10 + j, "U", f"v-{i}-{j}")
        for i in range(30) for j in range(2)]


def test_reopen_adopts_stored_layout(spark, tmp_path):
    root = str(tmp_path / "l")
    lake = ParquetLakeTable(spark, root, n_buckets=4)
    lake.merge_into(_events(spark, SEED), epoch_id=0)
    before = _state(lake)

    # reopen with the DEFAULT (wrong) bucket count: stored layout wins
    reopened = ParquetLakeTable(spark, root)
    assert reopened.n_buckets == 4
    upd = [("c7", 0, 9999, "U", "c7-fixed")]
    reopened.merge_into(_events(spark, upd), epoch_id=1)
    rows = reopened.read().where("conv_id = 'c7' AND turn_idx = 0").collect()
    # one row, updated — with a mis-adopted layout the old version would
    # survive in another bucket as a duplicate
    assert [(r.text,) for r in rows] == [("c7-fixed",)]
    assert len(_state(reopened)) == len(before)


def test_rebucket_preserves_state_and_ledger(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=4)
    lake.merge_into(_events(spark, SEED), epoch_id=0)
    before = _state(lake)
    old_wm = lake.last_commit()["watermarks"]
    pre_seq = lake.last_commit()["seq"]

    out = lake.rebucket(16)
    assert (out["n_buckets_before"], out["n_buckets_after"]) == (4, 16)
    assert lake.n_buckets == 16
    assert _state(lake) == before
    # maintenance commit: epoch ledger untouched, watermark max preserved
    assert lake.committed_epochs() == {0}
    new_wm = lake.last_commit()["watermarks"]
    assert max(new_wm.values()) == max(old_wm.values())
    assert len(new_wm) <= 16
    # the manifest now points at 16-way bucket dirs
    assert len(lake.last_commit()["buckets"]) > len(old_wm)
    # time travel to the pre-rebucket snapshot still reads the old layout
    old = lake.read_raw(at_seq=pre_seq).select(
        "conv_id", "turn_idx", "text", "_lsn", "_deleted"
    )
    assert {tuple(r) for r in old.collect()} == before
    # ... and recovers each row's bucket under that snapshot's own count
    old_b = lake.read_raw(at_seq=pre_seq).select(
        (F.col("_b") == F.pmod(F.xxhash64("conv_id"), F.lit(4))).alias("ok")
    )
    assert all(r.ok for r in old_b.collect())

    # merges after the rebucket route under the new layout (fresh handle
    # adopts it from the head manifest)
    lake2 = ParquetLakeTable(spark, str(tmp_path / "l"))
    assert lake2.n_buckets == 16
    lake2.merge_into(_events(spark, [("c7", 0, 9999, "U", "c7-fixed")]), epoch_id=1)
    rows = lake2.read().where("conv_id = 'c7' AND turn_idx = 0").collect()
    assert [(r.text,) for r in rows] == [("c7-fixed",)]


def test_crash_after_rebucket_publish_keeps_one_row_per_key(spark, tmp_path):
    # the driver dies right after the rebucket's manifest lands: the new
    # bucket count must already be durable, or a reopened handle routes
    # keys by the old count against the new layout's data
    root = str(tmp_path / "l")
    lake = ParquetLakeTable(spark, root, n_buckets=4)
    lake.merge_into(_events(spark, SEED), epoch_id=0)
    publish = lake._publish

    def publish_then_crash(commit, side_write=None):
        publish(commit, side_write)
        raise RuntimeError("driver died after publish")

    lake._publish = publish_then_crash
    with pytest.raises(RuntimeError, match="driver died"):
        lake.rebucket(16)

    reopened = ParquetLakeTable(spark, root)
    reopened.merge_into(_events(spark, [("c7", 0, 9999, "U", "c7-fixed")]), epoch_id=1)
    keys = [(r.conv_id, r.turn_idx) for r in reopened.read().collect()]
    assert len(keys) == len(set(keys)) == len(SEED)
    rows = reopened.read().where("conv_id = 'c7' AND turn_idx = 0").collect()
    assert [(r.text,) for r in rows] == [("c7-fixed",)]
    assert reopened.n_buckets == 16
    assert reopened.fsck()["ok"]


def test_rebucket_folds_mor_deltas(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode="mor")
    ev = _events(spark, SEED).withColumn("epoch_id", (F.col("lsn") % 2).cast("long"))
    engine.apply_epochs(ev, epoch_ids=[0, 1])
    assert any(p.get("deltas") for p in lake.last_commit()["buckets"].values())
    before = _state(lake)
    lake.rebucket(8)
    assert not any(p.get("deltas") for p in lake.last_commit()["buckets"].values())
    assert _state(lake) == before


def test_table_changes_across_rebucket_is_empty(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=4)
    lake.merge_into(_events(spark, SEED), epoch_id=0)
    seq = lake.last_commit()["seq"]
    lake.rebucket(16)
    # a pure layout change is invisible to incremental consumers: every
    # pointer changed (full-scan diff) but no row image differs
    assert lake.table_changes(from_seq=seq).count() == 0
