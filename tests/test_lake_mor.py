"""Merge-on-read (Iceberg equality-delete analogue) for the lake table.

The contract under test: ``merge_into(mode="mor")`` appends per-bucket
LWW-deduped delta file sets WITHOUT reading the target; readers fold
base+deltas with the same LWW expressions the copy-on-write merge uses
(``lww_payload_order`` — one definition), so a table built CoW and a table
built MoR from the same change stream are state-identical, tie-breaks
included. ``compact()`` retires deltas; ``expire_snapshots`` keeps delta
dirs referenced by retained manifests; modes mix freely per epoch.

Reference parity note: the reference applies every change in place per
flowfile (PontusProcessorBase.java:303-327 idempotent merge); CoW vs MoR is
purely a lake write-amplification strategy and must be invisible to
semantics — which is exactly what these tests pin down.
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest

from pyspark.sql import functions as F

from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.runner import CdcEngine

_TS = datetime.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, lsn long, op string, epoch_id long"
)


def _events(spark, rows):
    """rows: (conv_id, turn_idx, lsn, op, text, epoch_id)"""
    return spark.createDataFrame(
        [
            {"conv_id": c, "turn_idx": t, "role": "user", "text": x,
             "tool": None, "ts": _TS, "lsn": l, "op": o, "epoch_id": e}
            for c, t, l, o, x, e in rows
        ],
        SCHEMA,
    )


# a change stream exercising insert / update / delete / out-of-order /
# duplicate delivery, spread over 3 epochs
_STREAM = (
    # epoch 0: initial inserts
    [(f"c{i}", 0, 10 + i, "U", f"v0-{i}", 0) for i in range(12)]
    + [("c1", 1, 30, "U", "c1t1-v0", 0)]
    # epoch 1: updates, a delete, a duplicate delivery of an epoch-0 event
    + [
        ("c1", 0, 100, "U", "c1-v1", 1),
        ("c2", 0, 101, "D", None, 1),
        ("c3", 0, 13, "U", "v0-3", 1),  # duplicate of epoch-0 event (same lsn)
        ("c4", 0, 99, "U", "c4-v1", 1),
    ]
    # epoch 2: out-of-order stale update (loses LWW), late insert
    + [
        ("c1", 0, 50, "U", "c1-stale", 2),   # lsn 50 < 100 → must lose
        ("c2", 0, 90, "U", "c2-late", 2),    # lsn 90 < 101 tombstone → stays deleted
        ("c9", 9, 500, "U", "new-turn", 2),
    ]
)


def _build(spark, root, mode: str) -> ParquetLakeTable:
    lake = ParquetLakeTable(spark, root, n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode=mode)
    engine.apply_epochs(_events(spark, _STREAM), epoch_ids=[0, 1, 2])
    return lake


def _state(lake):
    return {tuple(r) for r in lake.read().orderBy("conv_id", "turn_idx").collect()}


def _raw_state(lake):
    df = lake.read_raw().select(
        "conv_id", "turn_idx", "text", "_lsn", "_deleted"
    )
    return {tuple(r) for r in df.collect()}


def _ptrs(lake):
    return lake.last_commit()["buckets"]


def test_mor_equals_cow_final_state(spark, tmp_path):
    cow = _build(spark, str(tmp_path / "cow"), "cow")
    mor = _build(spark, str(tmp_path / "mor"), "mor")
    assert _state(mor) == _state(cow)
    # tombstones and winner LSNs agree too, not just live rows
    assert _raw_state(mor) == _raw_state(cow)
    # MoR actually produced deltas (the comparison is not vacuous)
    assert any(p.get("deltas") for p in _ptrs(mor).values())
    assert not any(p.get("deltas") for p in _ptrs(cow).values())


def test_mor_same_lsn_tiebreak_matches_cow(spark, tmp_path):
    # two writers, same key, SAME lsn, different payloads: the content-hash
    # tie-break must pick the same winner whether the rows meet in one
    # CoW aggregation or across a MoR base/delta fold
    a = [("t", 0, 7, "U", "payload-A", 0)]
    b = [("t", 0, 7, "U", "payload-B", 1)]
    cow = ParquetLakeTable(spark, str(tmp_path / "cow"), n_buckets=2)
    cow.merge_into(_events(spark, a + b).drop("epoch_id"), epoch_id=0)
    mor = ParquetLakeTable(spark, str(tmp_path / "mor"), n_buckets=2)
    mor.merge_into(_events(spark, a).drop("epoch_id"), epoch_id=0, mode="mor")
    mor.merge_into(_events(spark, b).drop("epoch_id"), epoch_id=1, mode="mor")
    assert _raw_state(mor) == _raw_state(cow)


def test_mor_write_amplification_is_o_batch(spark, tmp_path):
    # epoch 0 seeds 200 turns in one conversation (one bucket); epoch 1
    # updates ONE key. MoR must write only the delta row; CoW rewrites the
    # whole touched bucket.
    seed = [("big", i, 1000 + i, "U", f"turn-{i}", 0) for i in range(200)]
    upd = [("big", 7, 9999, "U", "turn-7-fixed", 1)]

    def _rows_in_commit(root, seq):
        files = glob.glob(os.path.join(root, f"data/c{seq:08d}", "**", "*.parquet"),
                          recursive=True)
        return spark.read.parquet(*files).count() if files else 0

    for mode, expect in (("mor", 1), ("cow", 200)):
        root = str(tmp_path / mode)
        lake = ParquetLakeTable(spark, root, n_buckets=4)
        engine = CdcEngine(lake=lake, merge_mode=mode)
        engine.apply_epochs(_events(spark, seed + upd), epoch_ids=[0, 1])
        assert _rows_in_commit(root, 2) == expect
        final = lake.read().where("turn_idx = 7").collect()
        assert [r.text for r in final] == ["turn-7-fixed"]

    # MoR write metrics: conflict classification is honestly unknowable
    m = [c["metrics"] for c in lake.commit_history()]  # cow run, sanity
    assert m[-1]["mode"] == "cow"


def test_mor_epoch_idempotent(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode="mor")
    ev = _events(spark, _STREAM)
    engine.apply_epochs(ev, epoch_ids=[0, 1, 2])
    before = _raw_state(lake)
    n_deltas = sum(len(p.get("deltas", [])) for p in _ptrs(lake).values())
    # redeliver epoch 1 (at-least-once delivery) — structural no-op
    res = engine.apply_epoch(ev.where(F.col("epoch_id") == 1), 1)
    assert res.merge.skipped
    assert _raw_state(lake) == before
    assert sum(len(p.get("deltas", [])) for p in _ptrs(lake).values()) == n_deltas


def test_compact_retires_deltas_state_identical(spark, tmp_path):
    lake = _build(spark, str(tmp_path / "l"), "mor")
    assert any(p.get("deltas") for p in _ptrs(lake).values())
    before = _raw_state(lake)
    epochs = lake.committed_epochs()
    pre_seq = lake.last_commit()["seq"]
    out = lake.compact(min_files=2)
    assert out["buckets_compacted"] > 0
    assert not any(p.get("deltas") for p in _ptrs(lake).values())
    assert _raw_state(lake) == before
    # maintenance commit: exactly-once ledger untouched
    assert lake.committed_epochs() == epochs
    # time travel to the pre-compact snapshot still folds deltas
    old = lake.read_raw(at_seq=pre_seq).select(
        "conv_id", "turn_idx", "text", "_lsn", "_deleted"
    )
    assert {tuple(r) for r in old.collect()} == before


def test_mixed_modes_cow_retires_deltas(spark, tmp_path):
    # epochs 0-1 MoR, epoch 2 CoW: the CoW merge must read base+deltas of
    # the buckets it touches and retire their delta pointers
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=2)
    engine = CdcEngine(lake=lake, merge_mode="mor")
    ev = _events(spark, _STREAM)
    engine.apply_epoch(ev.where(F.col("epoch_id") == 0), 0)
    engine.apply_epoch(ev.where(F.col("epoch_id") == 1), 1)
    assert any(p.get("deltas") for p in _ptrs(lake).values())
    engine.merge_mode = "cow"
    engine.apply_epoch(ev.where(F.col("epoch_id") == 2), 2)
    # with n_buckets=2 and the wide stream, epoch 2 touches both buckets
    assert not any(p.get("deltas") for p in _ptrs(lake).values())
    cow = _build(spark, str(tmp_path / "ref"), "cow")
    assert _raw_state(lake) == _raw_state(cow)


def test_mor_schema_evolution_across_deltas(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=2)
    base = _events(spark, [("c1", 0, 10, "U", "hello", 0)]).drop("epoch_id")
    lake.merge_into(base, epoch_id=0, mode="mor")
    # epoch 1: new column `score` + the same key updated through a delta
    evolved = spark.createDataFrame(
        [{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi2",
          "tool": None, "ts": _TS, "score": 0.9, "lsn": 20, "op": "U"}],
        SCHEMA.replace(", lsn long", ", score double, lsn long").replace(
            ", epoch_id long", ""
        ),
    )
    lake.merge_into(evolved, epoch_id=1, mode="mor")
    rows = lake.read().collect()
    assert len(rows) == 1
    assert rows[0].text == "hi2" and rows[0].score == pytest.approx(0.9)
    # the base file (old schema) was never rewritten
    ptr = next(iter(_ptrs(lake).values()))
    assert ptr["schema"] != ptr["deltas"][0]["schema"]


def test_expire_keeps_delta_dirs(spark, tmp_path):
    lake = _build(spark, str(tmp_path / "l"), "mor")
    before = _raw_state(lake)
    out = lake.expire_snapshots(keep_last=1)
    # head manifest references every base dir (commit 1) and both delta
    # commits — nothing the head can reach may be reclaimed
    assert out["removed_dirs"] == []
    assert _raw_state(lake) == before
    # after compaction the old delta dirs become unreferenced and reclaimable
    lake.compact(min_files=1)
    out = lake.expire_snapshots(keep_last=1)
    assert out["removed_dirs"] != []
    assert _raw_state(lake) == before


def test_auto_compaction_bounds_delta_chains(spark, tmp_path):
    # same key updated across 5 MoR epochs with auto_compact_deltas=2: no
    # committed manifest may ever carry a chain of ≥3 deltas, and the final
    # state must still be the max-LSN winner
    lake = ParquetLakeTable(spark, str(tmp_path / "l"), n_buckets=2)
    engine = CdcEngine(lake=lake, merge_mode="mor", auto_compact_deltas=2)
    for e in range(5):
        ev = _events(spark, [("hot", 0, 100 + e, "U", f"v{e}", e)]).drop("epoch_id")
        engine.apply_epoch(ev, e)
    for c in lake.commit_history():
        assert all(len(p.get("deltas", [])) <= 2 for p in c["buckets"].values())
    assert any(r.compacted for r in engine.results)
    rows = lake.read().collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in rows] == [("hot", 0, "v4")]
    # exactly-once ledger intact through the epochs that folded a chain
    assert lake.committed_epochs() == {0, 1, 2, 3, 4}


def test_stream_apply_mor_checkpoint_resume(spark, tmp_path):
    """Structured Streaming delivery in MoR mode with a mid-stream restart:
    the checkpoint re-delivers, the epoch ledger dedupes, delta appends
    accumulate across the restart, and the final folded state equals the
    sequential oracle."""
    from nifi_nlp_processor_spark.fixtures import ChangeStreamSpec, change_events
    from nifi_nlp_processor_spark.oracle import final_rows
    from nifi_nlp_processor_spark.runner import stream_apply

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    spec = ChangeStreamSpec(
        n_conversations=25, update_frac=0.3, update2_frac=0.1, delete_frac=0.2,
        dup_frac=0.1, out_of_order=True, n_epochs=4,
    )
    events = change_events(spark, spec).cache()
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    lake = ParquetLakeTable(spark, str(tmp_path / "lake"), n_buckets=8)

    def _write(epochs):
        for e in epochs:
            (events.where(F.col("epoch_id") == e).coalesce(1)
             .write.mode("append").parquet(src))

    _write([0, 1])
    engine = CdcEngine(lake=lake, merge_mode="mor")
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    stream_apply(engine, stream, ckpt).awaitTermination(120)
    assert any(p.get("deltas") for p in _ptrs(lake).values())

    _write([2, 3])
    engine2 = CdcEngine(lake=lake, merge_mode="mor")
    stream2 = (spark.readStream.schema(events.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    stream_apply(engine2, stream2, ckpt).awaitTermination(120)

    got = sorted(tuple(r) for r in lake.read().select(*cols).collect())
    assert got == final_rows([r.asDict() for r in events.collect()], cols)
    events.unpersist()


def test_table_changes_over_mor_commits(spark, tmp_path):
    lake = _build(spark, str(tmp_path / "l"), "mor")
    # seq 2 = epochs 0-1 applied; head = all 3. The changelog must fold
    # deltas on BOTH sides of the diff.
    delta = lake.table_changes(from_seq=2).select(
        "conv_id", "turn_idx", "change_type", "text"
    )
    got = {tuple(r) for r in delta.collect()}
    assert got == {("c9", 9, "insert", "new-turn")}


def test_window_lww_equals_agg_lww(spark, tmp_path):
    """The one-shuffle window strategy (default) and the max_by aggregation
    strategy must produce bit-identical lakes — live rows, tombstones,
    winner LSNs, and same-LSN tie-breaks — because both execute the same
    total order (lww_payload_order). Runs the full mixed stream (insert /
    update / delete / out-of-order / duplicate) plus a same-LSN tie."""
    tie = [("t", 0, 7, "U", "payload-A", 0), ("t", 0, 7, "U", "payload-B", 1)]
    stream = _STREAM + tie
    lakes = {}
    for strat in ("window", "agg"):
        lake = ParquetLakeTable(spark, str(tmp_path / strat), n_buckets=4)
        engine = CdcEngine(lake=lake, lww_strategy=strat)
        engine.apply_epochs(_events(spark, stream), epoch_ids=[0, 1, 2])
        lakes[strat] = lake
    assert _raw_state(lakes["window"]) == _raw_state(lakes["agg"])
    assert _state(lakes["window"]) == _state(lakes["agg"])


def test_window_lww_single_shuffle_plan(spark, tmp_path):
    """Scale property of the default strategy: the merge output's executed
    plan carries exactly ONE exchange above the source scans — the window
    resolution and the write layout share it (the agg strategy needs two).
    Asserted on the logical frame merge_into builds internally, reproduced
    here the same way (union → repartition(bucket, salt) → window)."""
    from pyspark.sql import Window
    from nifi_nlp_processor_spark.lake import (
        META_DELETED, META_LSN, WRITE_SALT, lww_payload_order,
    )

    src = _events(spark, _STREAM).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col("lsn").cast("long").alias(META_LSN),
        (F.col("op") == "D").alias(META_DELETED),
    ).withColumn("_b", F.pmod(F.xxhash64("conv_id"), F.lit(4)))
    _, order = lww_payload_order(["role", "text", "tool", "ts"])
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(WRITE_SALT))
    part = src.withColumn("_salt", salt).repartition(
        4 * WRITE_SALT, F.col("_b"), F.col("_salt")
    )
    w = Window.partitionBy("_b", "_salt", "conv_id", "turn_idx").orderBy(
        F.desc(order)
    )
    out = part.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
