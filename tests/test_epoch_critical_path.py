"""A merge-on-read epoch's critical path: delta writes never probe, and
the DLQ append runs beside the merge.

Pinned here:

* a MoR delta merge never probes (only the first merge into an empty
  table does), and ``apply_epochs`` runs no grouped probe for a MoR engine
  on a table with a commit;
* the probe-less delta write takes its touched buckets from the ``_b=``
  directories it wrote and its watermarks from the written footers — the
  same final state, per-epoch ``lsn_watermarks`` and ``buckets_touched``
  as the same epochs applied copy-on-write;
* its layout: one file per touched bucket on a small epoch (AQE coalesces
  the exchange); without coalescing, a bucket the manifest sizes past one
  write task spreads over several files while every other bucket stays
  one file;
* the DLQ append: a failed write leaves the epoch uncommitted and the lake
  untouched — also after a different epoch is applied at the same commit
  seq — and its Spark job runs under the caller's job group;
* a tail epoch whose rows all sit at or below the bootstrap cutover still
  publishes an empty commit that changes no bucket pointer;
* null-lsn rows never enter the table, so every written bucket has a
  watermark.
"""

from __future__ import annotations

import datetime
import glob
import os
import threading

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from nifi_nlp_processor_spark import lake as lake_mod
from nifi_nlp_processor_spark.fixtures import ChangeStreamSpec, change_events
from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.oracle import final_rows
from nifi_nlp_processor_spark.runner import CdcEngine

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
_TS = datetime.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, lsn long, op string, epoch_id long"
)


def _rows(spark, rows):
    """rows: (conv_id, turn_idx, lsn, op, text, epoch_id)"""
    return spark.createDataFrame(
        [
            {"conv_id": c, "turn_idx": t, "role": "user", "text": x,
             "tool": None, "ts": _TS, "lsn": l, "op": o, "epoch_id": e}
            for c, t, l, o, x, e in rows
        ],
        SCHEMA,
    )


def _stream(spark):
    return change_events(
        spark,
        ChangeStreamSpec(
            n_conversations=40, update_frac=0.3, update2_frac=0.1,
            delete_frac=0.2, dup_frac=0.2, out_of_order=True, n_epochs=4, seed=7,
        ),
    )


def _state(lake):
    return sorted(tuple(r) for r in lake.read().select(*COLS).collect())


def _raw_state(lake):
    df = lake.read_raw().select("conv_id", "turn_idx", "text", "_lsn", "_deleted")
    return sorted(tuple(r) for r in df.collect())


def _bucket(spark, conv_id, n_buckets):
    return spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(conv_id)), F.lit(n_buckets)).cast("int")
    ).first()[0]


def _epoch_files(lake, seq):
    """{bucket: parquet file count} of commit ``seq``'s data dir."""
    out = {}
    for d in glob.glob(os.path.join(lake.root, f"data/c{seq:08d}", "_b=*")):
        out[int(d.rsplit("=", 1)[1])] = len(glob.glob(os.path.join(d, "*.parquet")))
    return out


@pytest.fixture
def probe_calls(monkeypatch):
    """Counts ``probe_batch`` and ``probe_epochs`` calls."""
    calls = {"probe_batch": 0, "probe_epochs": 0}
    for name in calls:
        orig = getattr(ParquetLakeTable, name)

        def spy(self, *a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(ParquetLakeTable, name, spy)
    return calls


def test_mor_delta_epochs_never_probe(spark, tmp_path, probe_calls):
    ev = _stream(spark)
    engine = CdcEngine(lake=ParquetLakeTable(spark, str(tmp_path / "m"), n_buckets=8),
                       merge_mode="mor")
    res = engine.apply_epochs(ev)
    assert len(res) == 4
    # only the first merge, into the empty table, probes (its probe comes
    # from the replay's grouped job); the three delta epochs never do
    assert probe_calls == {"probe_batch": 0, "probe_epochs": 1}
    assert all(p.get("deltas") for p in engine.lake.last_commit()["buckets"].values())
    # more delta epochs through apply_epoch and apply_epochs: still no
    # probe, and a MoR replay onto a table with a commit runs no grouped one
    engine.apply_epoch(ev.where(F.col("epoch_id") == 3), 4)
    engine.apply_epochs(ev.where(F.col("epoch_id") == 2).withColumn("epoch_id", F.lit(5)))
    assert probe_calls == {"probe_batch": 0, "probe_epochs": 1}
    assert {4, 5} <= engine.lake.committed_epochs()


def test_mor_delta_matches_cow_state_watermarks_and_buckets(spark, tmp_path):
    ev = _stream(spark).cache()
    results, lakes = {}, {}
    for mode in ("cow", "mor"):
        lake = ParquetLakeTable(spark, str(tmp_path / mode), n_buckets=8)
        results[mode] = CdcEngine(lake=lake, merge_mode=mode).apply_epochs(ev)
        lakes[mode] = lake
    assert _state(lakes["mor"]) == _state(lakes["cow"])
    assert _raw_state(lakes["mor"]) == _raw_state(lakes["cow"])
    assert _state(lakes["cow"]) == final_rows([r.asDict() for r in ev.collect()], COLS)
    for c, m in zip(results["cow"], results["mor"]):
        assert m.merge.lsn_watermarks == c.merge.lsn_watermarks
        assert m.merge.buckets_touched == c.merge.buckets_touched > 0
    assert (
        lakes["mor"].last_commit()["watermarks"] == lakes["cow"].last_commit()["watermarks"]
    )
    ev.unpersist()


def test_small_delta_epoch_writes_one_file_per_bucket(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "s"), n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode="mor")
    engine.apply_epoch(_rows(spark, [(f"c{i}", 0, i + 1, "I", "v0", 0) for i in range(20)]), 0)
    upd = [(f"c{i}", t, 100 + 10 * i + t, "U", "v1", 1) for i in range(20) for t in range(3)]
    res = engine.apply_epoch(_rows(spark, upd), 1)
    files = _epoch_files(lake, lake.last_commit()["seq"])
    assert len(files) == res.merge.buckets_touched > 1
    assert set(files.values()) == {1}


def test_hot_bucket_delta_spreads_without_coalescing(spark, tmp_path, monkeypatch):
    # a bucket past 20 manifest rows needs more than one write task
    monkeypatch.setattr(lake_mod, "ROWS_PER_WRITE_TASK", 20)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        small = [f"s{i}" for i in range(24)]
        seed = [("big", t, 1 + t, "I", f"t{t}", 0) for t in range(50)]
        seed += [(c, 0, 100 + i, "I", "s", 0) for i, c in enumerate(small)]
        hot = [("big", t, 1000 + t, "U", f"t{t}-v1", 1) for t in range(0, 400, 2)]
        hot += [("big", 3, 999, "D", None, 1)]
        hot += [(c, t, 2000 + 10 * i + t, "U", f"s{t}", 1) for i, c in enumerate(small) for t in range(6)]
        lake = ParquetLakeTable(spark, str(tmp_path / "h"), n_buckets=4)
        engine = CdcEngine(lake=lake, merge_mode="mor")
        engine.apply_epoch(_rows(spark, seed), 0)
        hot_bucket = _bucket(spark, "big", 4)
        assert all(
            ptr["rows"] <= 20
            for b, ptr in lake.last_commit()["buckets"].items() if int(b) != hot_bucket
        )
        engine.apply_epoch(_rows(spark, hot), 1)
        files = _epoch_files(lake, lake.last_commit()["seq"])
        assert files.pop(hot_bucket) > 1
        # cold buckets: one file each, though their keys hash to many tasks
        assert len(files) == 3 and set(files.values()) == {1}
        want = final_rows(
            [r.asDict() for r in _rows(spark, seed + hot).collect()], COLS
        )
        assert _state(lake) == want
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_failed_dlq_write_leaves_epoch_uncommitted(spark, tmp_path, mode):
    # a DLQ path under a regular file: the append cannot create its dir
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    lake = ParquetLakeTable(spark, str(tmp_path / "f"), n_buckets=4)
    CdcEngine(lake=lake, merge_mode=mode).apply_epoch(
        _rows(spark, [(f"c{i}", 0, i + 1, "I", "v0", 0) for i in range(8)]), 0
    )
    before = (_raw_state(lake), lake.last_commit())
    engine = CdcEngine(lake=lake, merge_mode=mode, quarantine_dir=str(blocker / "dlq"))
    batch = _rows(
        spark,
        [(f"c{i}", 0, 50 + i, "U", "v1", 1) for i in range(8)]
        + [("c0", 1, 99, "U", None, 1)],  # null text → DLQ
    )
    # the DLQ write's own error (its path is under the blocker file)
    with pytest.raises(Exception, match="blocker"):
        engine.apply_epoch(batch, 1)
    assert 1 not in lake.committed_epochs()
    assert (_raw_state(lake), lake.last_commit()) == before
    assert lake.fsck()["ok"]
    assert not engine.results


def test_failed_epoch_leaves_nothing_for_the_next_commit(spark, tmp_path):
    # a MoR epoch whose DLQ write fails has already written its delta dirs
    # under the next commit seq; the next epoch applied at that seq touches
    # other buckets and must publish none of the failed epoch's rows
    n = 4
    convs = [f"c{i}" for i in range(40)]
    by_bucket: dict[int, list[str]] = {}
    for c in convs:
        by_bucket.setdefault(_bucket(spark, c, n), []).append(c)
    assert len(by_bucket) == n
    quiet, *busy = sorted(by_bucket)
    lake = ParquetLakeTable(spark, str(tmp_path / "x"), n_buckets=n)
    CdcEngine(lake=lake, merge_mode="mor").apply_epoch(
        _rows(spark, [(c, 0, i + 1, "I", "v0", 0) for i, c in enumerate(convs)]), 0
    )
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    failing = CdcEngine(lake=lake, merge_mode="mor", quarantine_dir=str(blocker / "dlq"))
    e1 = [(c, 0, 100 + i, "U", "e1", 1) for i, c in enumerate(convs) if c not in by_bucket[quiet]]
    with pytest.raises(Exception, match="blocker"):
        failing.apply_epoch(_rows(spark, e1 + [("c0", 1, 99, "U", None, 1)]), 1)
    before = lake.last_commit()
    # the failed attempt's delta dirs are still on disk, in-flight
    assert lake.fsck()["inflight_dirs"] == [f"c{before['seq'] + 1:08d}"]

    e2 = [(c, 0, 200 + i, "U", "e2", 2) for i, c in enumerate(by_bucket[quiet])]
    res = CdcEngine(lake=lake, merge_mode="mor").apply_epoch(_rows(spark, e2), 2)
    head = lake.last_commit()
    assert lake.committed_epochs() == {0, 2}
    assert res.merge.buckets_touched == 1
    assert {b: p for b, p in head["buckets"].items() if b != str(quiet)} == {
        b: p for b, p in before["buckets"].items() if b != str(quiet)
    }
    assert {b: w for b, w in head["watermarks"].items() if b != str(quiet)} == {
        b: w for b, w in before["watermarks"].items() if b != str(quiet)
    }
    assert _epoch_files(lake, head["seq"]) == {quiet: 1}
    texts = {r.conv_id: r.text for r in lake.read().collect()}
    assert "e1" not in texts.values()
    assert texts == {c: "e2" if c in by_bucket[quiet] else "v0" for c in convs}
    assert lake.fsck()["ok"]


def test_dlq_job_runs_under_callers_job_group(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    dlq = str(tmp_path / "dlq")
    seen = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        if path == dlq:
            seen.append((threading.get_ident(), sc.getLocalProperty("spark.jobGroup.id")))
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    lake = ParquetLakeTable(spark, str(tmp_path / "g"), n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode="mor", quarantine_dir=dlq)
    batch = _rows(
        spark,
        [(f"c{i}", 0, i + 1, "I", "v0", 0) for i in range(8)]
        + [("c0", 1, 99, "U", None, 0), ("c1", 1, 98, "X", "bad op", 0)],
    )
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("cdc-epoch-0", "apply epoch 0")
    try:
        res = engine.apply_epoch(batch, 0)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    # the DLQ write ran on the engine's own thread, under the caller's group
    assert [g for _t, g in seen] == ["cdc-epoch-0"]
    assert seen[0][0] != threading.get_ident()
    assert sc.statusTracker().getJobIdsForGroup("cdc-epoch-0")
    # no job of the epoch (the DLQ append included) ran outside the group
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert res.quarantined == 2 == spark.read.parquet(dlq).count()


def test_all_below_cutover_tail_epoch_publishes_empty_commit(spark, tmp_path):
    snapshot = _rows(spark, [(f"c{i}", 0, 0, "I", "snap", 0) for i in range(10)]).select(*COLS)
    lake = ParquetLakeTable(spark, str(tmp_path / "b"), n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode="mor", quarantine_dir=str(tmp_path / "dlq"))
    engine.bootstrap(snapshot, as_of_lsn=100)
    engine.apply_epoch(_rows(spark, [("c0", 0, 150, "U", "tail", 0)]), 0)
    before = lake.last_commit()
    stale = _rows(spark, [(f"c{i}", 0, 50 + i, "U", "stale", 1) for i in range(10)])
    res = engine.apply_epoch(stale, 1)
    head = lake.last_commit()
    assert head["epoch_id"] == 1 and head["seq"] == before["seq"] + 1
    assert head["buckets"] == before["buckets"]
    assert head["watermarks"] == before["watermarks"]
    assert res.merge.buckets_touched == 0 and res.merge.rows_applied == 0
    assert res.quarantined == 0
    report = lake.fsck()
    assert report["ok"] and not report["dead_orphan_dirs"]
    assert {r.conv_id: r.text for r in lake.read().collect()}["c0"] == "tail"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_null_lsn_rows_never_enter_the_table(spark, tmp_path, mode):
    # a direct merge (no runner quarantine) whose batch carries null-lsn
    # rows in buckets nothing else touches: they are dropped, so no bucket
    # is written without a watermark (CoW used to trip its probe guard)
    lake = ParquetLakeTable(spark, str(tmp_path / "n"), n_buckets=4)
    lake.merge_into(_rows(spark, [("a", 0, 1, "I", "a0", 0)]).drop("epoch_id"), 0, mode=mode)
    batch = [("a", 0, 5, "U", "a1", 1)] + [(f"z{i}", 0, None, "U", "z", 1) for i in range(8)]
    m = lake.merge_into(_rows(spark, batch).drop("epoch_id"), 1, mode=mode)
    assert {r.conv_id: r.text for r in lake.read().collect()} == {"a": "a1"}
    assert m.buckets_touched == 1 and m.rows_applied == 1
    assert list(lake.last_commit()["watermarks"].values()) == [5]
