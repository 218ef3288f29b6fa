"""Snapshot-then-stream bootstrap (the Debezium initial-load cutover):
snapshot + fully-overlapping tail must equal replay-from-the-beginning,
a stale event must never resurrect a key deleted before the snapshot
(the case LWW alone cannot catch — the snapshot carries no tombstones),
and a restarted engine must adopt the persisted cutover."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_nlp_processor_spark.fixtures import (
    ChangeStreamSpec,
    change_events,
    transcripts_from_events,
)
from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.operators.cdc_lww import lww_dedupe
from nifi_nlp_processor_spark.runner import CdcEngine


EVENT_COLS = "lsn long, op string, epoch_id long, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _snapshot_as_of(events, w):
    """Consistent live state at LSN w — input-hint shape, no lsn/op."""
    snap = lww_dedupe(events.where(F.col("lsn") <= w), ["conv_id", "turn_idx"])
    return snap.where(F.col("op") != "D").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _state(lake):
    return {
        (r.conv_id, r.turn_idx): (r.role, r.text)
        for r in lake.read().select("conv_id", "turn_idx", "role", "text").collect()
    }


def test_bootstrap_plus_overlapping_tail_equals_full_replay(spark, tmp_path):
    ev = change_events(spark, ChangeStreamSpec(n_conversations=40, n_epochs=4))
    w = int(ev.agg(F.floor(F.max("lsn") / 2)).first()[0])
    expected = {
        (r.conv_id, r.turn_idx): (r.role, r.text)
        for r in transcripts_from_events(ev).collect()
    }

    lake = ParquetLakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    engine = CdcEngine(lake=lake)
    engine.bootstrap(_snapshot_as_of(ev, w), as_of_lsn=w, epoch_id=999)
    # the tail is the ENTIRE stream — every pre-cutover event is a duplicate
    # of state already in the snapshot and must be dropped by the cutover
    engine.apply_epochs(ev)
    assert _state(lake) == expected
    assert lake.last_commit()["bootstrap_lsn"] == w


def test_stale_event_cannot_resurrect_deleted_key(spark, tmp_path):
    # key K was inserted (lsn 1), updated (lsn 3), deleted (lsn 5) — all
    # before the snapshot at W=10, so the snapshot has no row (and no
    # tombstone) for K. The tail re-delivers the lsn-3 update: without the
    # cutover filter it would merge as the only version of K and win.
    # Second case: the driver dies right after the snapshot's publish and a
    # fresh engine runs the tail — the cutover must already be durable.
    tail = spark.createDataFrame(
        [
            (3, "U", 0, "K", 0, "user", "stale text", None, None),
            (12, "I", 0, "L", 0, "user", "fresh row", None, None),
        ],
        EVENT_COLS,
    )
    empty_snap = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    for crash in (False, True):
        root = str(tmp_path / f"lake-{crash}")
        engine = CdcEngine(lake=ParquetLakeTable(spark, root, n_buckets=4))
        if crash:
            publish = engine.lake._publish

            def publish_then_crash(commit, side_write=None):
                publish(commit, side_write)
                raise RuntimeError("driver died after publish")

            engine.lake._publish = publish_then_crash
            with pytest.raises(RuntimeError, match="driver died"):
                engine.bootstrap(empty_snap, as_of_lsn=10)
            engine = CdcEngine(lake=ParquetLakeTable(spark, root))
        else:
            engine.bootstrap(empty_snap, as_of_lsn=10)
        engine.apply_epochs(tail)
        assert _state(engine.lake) == {("L", 0): ("user", "fresh row")}


def test_restarted_engine_adopts_persisted_cutover(spark, tmp_path):
    snap = spark.createDataFrame(
        [("A", 0, "user", "snapshot text", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    root = str(tmp_path / "lake")
    engine = CdcEngine(lake=ParquetLakeTable(spark, root, n_buckets=4))
    engine.bootstrap(snap, as_of_lsn=100)

    # a NEW engine object on the same root (restart) must still drop
    # pre-cutover events — the cutover comes from the manifest, not memory
    engine2 = CdcEngine(lake=ParquetLakeTable(spark, root))
    stale = spark.createDataFrame(
        [(50, "U", 7, "A", 0, "user", "stale overwrite", None, None)], EVENT_COLS
    )
    engine2.apply_epochs(stale)
    assert _state(engine2.lake) == {("A", 0): ("user", "snapshot text")}

    fresh = spark.createDataFrame(
        [(101, "U", 8, "A", 0, "user", "post-cutover", None, None)], EVENT_COLS
    )
    engine2.apply_epochs(fresh)
    assert _state(engine2.lake) == {("A", 0): ("user", "post-cutover")}


def test_bootstrap_requires_empty_unbootstrapped_lake(spark, tmp_path):
    snap = spark.createDataFrame(
        [("A", 0, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    root = str(tmp_path / "lake")
    engine = CdcEngine(lake=ParquetLakeTable(spark, root, n_buckets=4))
    engine.bootstrap(snap, as_of_lsn=10)
    with pytest.raises(ValueError):
        engine.bootstrap(snap, as_of_lsn=20, epoch_id=1)

    # a lake with committed epochs but no bootstrap also refuses
    root2 = str(tmp_path / "lake2")
    engine2 = CdcEngine(lake=ParquetLakeTable(spark, root2, n_buckets=4))
    ev = spark.createDataFrame(
        [(1, "I", 0, "B", 0, "user", "x", None, None)], EVENT_COLS
    )
    engine2.apply_epochs(ev)
    with pytest.raises(ValueError):
        engine2.bootstrap(snap, as_of_lsn=10)
