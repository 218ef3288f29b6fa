"""The driver-side plan build: the session's origin-capture setting, the
per-handle expression cache, the merge frame's single exchange, and the
py4j round trips a warm merge-on-read delta merge costs.

Pinned here:

* ``build_session`` turns PySpark's DataFrame origin capture off;
* a MoR replay (k = 4) through one long-lived handle and engine — a warm
  expression cache — ends in the same ``read_raw()`` state, watermarks
  and per-part row counts as the replay that opens a fresh handle and
  engine for every epoch (a cold cache);
* an epoch that adds a column and one that widens it ``int``→``bigint``
  miss the cache and land like the cold replay;
* the frame ``merge_into`` hands its commit writer carries exactly one
  exchange, for a CoW window merge and a MoR delta write;
* a warm MoR delta ``merge_into`` stays inside a round-trip budget.
"""

from __future__ import annotations

import datetime
import threading

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from nifi_nlp_processor_spark.fixtures import ChangeStreamSpec, change_events
from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.runner import CdcEngine

N_EPOCHS = 7
_TS = datetime.datetime(2026, 1, 1)


def test_build_session_turns_origin_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.fixture(scope="module")
def stream(spark):
    ev = change_events(
        spark,
        ChangeStreamSpec(
            n_conversations=40, update_frac=0.3, update2_frac=0.1, delete_frac=0.2,
            dup_frac=0.2, out_of_order=True, n_epochs=N_EPOCHS, seed=5,
        ),
    ).cache()
    yield ev
    ev.unpersist()


def _epochs(stream):
    return [stream.where(F.col("epoch_id") == e) for e in range(N_EPOCHS)]


def _evolving(stream):
    """The stream's epochs, the last two with a ``score`` column: first
    added as ``int``, then widened to ``bigint``."""
    out = _epochs(stream)
    out[-2] = out[-2].withColumn("score", F.col("turn_idx").cast("int"))
    out[-1] = out[-1].withColumn("score", (F.col("turn_idx") * 10).cast("bigint"))
    return out


def _replay(spark, root, batches, fresh: bool):
    engine = None
    for e, batch in enumerate(batches):
        if fresh or engine is None:
            engine = CdcEngine(
                lake=ParquetLakeTable(spark, root, n_buckets=8),
                merge_mode="mor", auto_compact_deltas=4,
            )
        engine.apply_epoch(batch, e)
    return ParquetLakeTable(spark, root)


def _fingerprint(lake):
    head = lake.last_commit()
    return (
        sorted(tuple(r) for r in lake.read_raw().collect()),
        head["watermarks"],
        {
            b: [part["rows"] for part in lake._ptr_parts(ptr)]
            for b, ptr in sorted(head["buckets"].items())
        },
    )


@pytest.mark.parametrize("evolve", [False, True], ids=["fixed_schema", "add_then_widen"])
def test_warm_cache_replay_equals_cold_cache_replay(spark, stream, tmp_path, evolve):
    batches = _evolving(stream) if evolve else _epochs(stream)
    warm = _replay(spark, str(tmp_path / "warm"), batches, fresh=False)
    cold = _replay(spark, str(tmp_path / "cold"), batches, fresh=True)
    assert _fingerprint(warm) == _fingerprint(cold)
    assert len(warm.commit_history()) == N_EPOCHS
    # the fold path ran: some epoch folded a chain into a new base
    assert any(c["metrics"]["buckets_folded"] for c in warm.commit_history())
    if evolve:
        score = {f.name: f.dataType.simpleString() for f in warm.current_schema().fields}["score"]
        assert score == "bigint"
        live = warm.read()
        # the widened epoch's rows carry its values; rows no epoch with a
        # score touched read NULL
        assert live.where(F.col("score").isNotNull()).count() > 0
        assert live.where(F.col("score").isNull()).count() > 0


def _captured_frame(spark, monkeypatch, tmp_path, mode):
    """The laid-out frame a real ``merge_into`` hands ``_commit`` on its
    second epoch (a CoW merge that reads its target, or a MoR delta
    write)."""
    frames = []
    orig = ParquetLakeTable._commit

    def spy(self, prev, df, *args, **kwargs):
        frames.append(df)
        return orig(self, prev, df, *args, **kwargs)

    rows = [
        {"conv_id": f"c{i % 7}", "turn_idx": i, "role": "user", "text": f"t{i}",
         "tool": None, "ts": _TS, "lsn": 100 * e + i, "op": "U" if e else "I"}
        for e in range(2) for i in range(30)
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, lsn long, op string"
    lake = ParquetLakeTable(spark, str(tmp_path / mode), n_buckets=4)
    lake.merge_into(spark.createDataFrame(rows[:30], schema), 0, mode=mode)
    monkeypatch.setattr(ParquetLakeTable, "_commit", spy)
    m = lake.merge_into(spark.createDataFrame(rows[30:], schema), 1, mode=mode)
    assert m.rows_applied > 0 and len(frames) == 1
    return frames[0]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_frame_keeps_one_exchange(spark, monkeypatch, tmp_path, mode):
    """The window LWW and the write layout share one exchange on the real
    frame merge_into writes (``test_window_lww_single_shuffle_plan``
    checks a hand-built copy of the plan)."""
    plan = _captured_frame(spark, monkeypatch, tmp_path, mode)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_warm_mor_delta_merge_round_trip_budget(spark, tmp_path, monkeypatch):
    """A warm MoR delta ``merge_into`` (its expression cache primed by an
    earlier epoch of the same schema) costs a bounded number of py4j round
    trips on the calling thread, the write job's own included. Measured at
    67 with origin capture off and the cache warm (PySpark 4.1.2; with the
    capture on and no expression cache the same merge took 731); the bound
    is that plus 25 %."""
    schema = "conv_id string, turn_idx int, text string, lsn long, op string"

    def batch(e):
        return spark.createDataFrame(
            [(f"c{i % 5}", i, f"e{e}-{i}", 100 * e + i, "U" if e else "I") for i in range(20)],
            schema,
        )

    lake = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    lake.merge_into(batch(0), 0, mode="mor")
    lake.merge_into(batch(1), 1, mode="mor")  # primes the delta path's cache
    src = batch(2)
    calls = []
    main = threading.current_thread()
    orig = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if threading.current_thread() is main:
            calls.append(1)
        return orig(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    m = lake.merge_into(src, 2, mode="mor")
    monkeypatch.undo()
    assert m.rows_applied == 20 and m.mode == "mor"
    assert len(calls) <= int(67 * 1.25), len(calls)
