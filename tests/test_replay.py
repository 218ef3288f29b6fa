"""Replay-equivalence golden tests (SURVEY §5.2 #1-#2).

Engine final state must equal the sequential Python oracle exactly —
per-turn text equality under stable (conv_id, turn_idx) ordering — across
insert / update / delete / out-of-order / duplicate-delivery cases, and
re-applying any epoch must be a no-op (exactly-once).
"""

from __future__ import annotations

import pytest

from nifi_nlp_processor_spark.fixtures import ChangeStreamSpec, change_events
from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.runner import CdcEngine

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def oracle_rows(events_df):
    from nifi_nlp_processor_spark.oracle import final_rows

    evs = [r.asDict() for r in events_df.collect()]
    return final_rows(evs, COLS)


def engine_rows(spark, events_df, tmp_path, name):
    lake = ParquetLakeTable(spark, str(tmp_path / name), n_buckets=8)
    engine = CdcEngine(lake=lake, quarantine_dir=str(tmp_path / f"{name}_dlq"))
    engine.apply_epochs(events_df)
    rows = lake.read().select(*COLS).collect()
    return sorted(tuple(r) for r in rows), engine


CASES = {
    "insert_only": ChangeStreamSpec(
        n_conversations=40, update_frac=0.0, update2_frac=0.0, delete_frac=0.0,
        dup_frac=0.0, out_of_order=False, n_epochs=3,
    ),
    "updates": ChangeStreamSpec(
        n_conversations=40, update_frac=0.4, update2_frac=0.15, delete_frac=0.0,
        dup_frac=0.0, out_of_order=False, n_epochs=3,
    ),
    "deletes": ChangeStreamSpec(
        n_conversations=40, update_frac=0.3, update2_frac=0.0, delete_frac=0.3,
        dup_frac=0.0, out_of_order=False, n_epochs=3,
    ),
    "out_of_order": ChangeStreamSpec(
        n_conversations=40, update_frac=0.3, update2_frac=0.1, delete_frac=0.2,
        dup_frac=0.0, out_of_order=True, n_epochs=5,
    ),
    "duplicates": ChangeStreamSpec(
        n_conversations=40, update_frac=0.3, update2_frac=0.1, delete_frac=0.2,
        dup_frac=0.3, out_of_order=True, n_epochs=5,
    ),
    "skewed_mega_conv": ChangeStreamSpec(
        n_conversations=30, mega_frac=0.35, update_frac=0.3, delete_frac=0.15,
        dup_frac=0.1, out_of_order=True, n_epochs=4,
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_replay_equivalence(spark, tmp_path, case):
    events = change_events(spark, CASES[case]).cache()
    got, _ = engine_rows(spark, events, tmp_path, case)
    want = oracle_rows(events)
    assert len(got) == len(want)
    assert got == want
    events.unpersist()


def test_epoch_idempotency(spark, tmp_path):
    """Re-applying every epoch (at-least-once re-delivery) is a no-op."""
    spec = CASES["duplicates"]
    events = change_events(spark, spec).cache()
    lake = ParquetLakeTable(spark, str(tmp_path / "idem"), n_buckets=8)
    engine = CdcEngine(lake=lake)
    engine.apply_epochs(events)
    before = sorted(tuple(r) for r in lake.read().select(*COLS).collect())
    n_commits = len(lake.commit_history())

    # replay all epochs again
    results = engine.apply_epochs(events)
    assert all(r.merge.skipped for r in results)
    assert len(lake.commit_history()) == n_commits
    after = sorted(tuple(r) for r in lake.read().select(*COLS).collect())
    assert before == after
    events.unpersist()


def test_double_apply_same_batch_content(spark, tmp_path):
    """Same events under a NEW epoch id (content-level duplicate delivery):
    LWW makes the merge content-idempotent — final state unchanged."""
    spec = ChangeStreamSpec(n_conversations=20, n_epochs=2, out_of_order=False)
    events = change_events(spark, spec).cache()
    lake = ParquetLakeTable(spark, str(tmp_path / "dup2"), n_buckets=4)
    engine = CdcEngine(lake=lake)
    engine.apply_epochs(events)
    before = sorted(tuple(r) for r in lake.read().select(*COLS).collect())
    engine.apply_epoch(events, epoch_id=999)
    after = sorted(tuple(r) for r in lake.read().select(*COLS).collect())
    assert before == after
    events.unpersist()


def test_quarantine_routing(spark, tmp_path):
    """Malformed rows go to the DLQ, valid rows still apply (REL_FAILURE
    analogue — the batch never fails)."""
    import pyspark.sql.functions as F

    spec = ChangeStreamSpec(n_conversations=10, n_epochs=1, update_frac=0.0,
                            update2_frac=0.0, delete_frac=0.0, dup_frac=0.0)
    events = change_events(spark, spec)
    # corrupt ~20%: null conv_id
    corrupted = events.withColumn(
        "conv_id",
        F.when(F.pmod(F.col("lsn"), 5) == 0, F.lit(None)).otherwise(F.col("conv_id")),
    )
    lake = ParquetLakeTable(spark, str(tmp_path / "q"), n_buckets=4)
    dlq = str(tmp_path / "q_dlq")
    engine = CdcEngine(lake=lake, quarantine_dir=dlq)
    results = engine.apply_epochs(corrupted)
    n_bad = spark.read.parquet(dlq).count()
    n_good = lake.read().count()
    injected = corrupted.where(F.col("conv_id").isNull()).count()
    assert n_bad == injected > 0
    # exact per-epoch reject counts, observed on the DLQ write itself
    assert sum(r.quarantined for r in results) == injected
    assert n_good == events.count() - n_bad
    reasons = {r[0] for r in spark.read.parquet(dlq).select("_reject_reason").distinct().collect()}
    assert reasons == {"null_conv_id"}


def test_epoch_missing_from_grouped_probe_still_lands(spark, tmp_path, monkeypatch):
    """An epoch the grouped probe does not return must probe inline, never
    publish an empty commit over its rows (which would also mark it
    committed forever)."""
    events = change_events(spark, CASES["updates"]).cache()
    orig = ParquetLakeTable.probe_epochs
    dropped = []

    def lossy(self, *a, **kw):
        out = orig(self, *a, **kw)
        e = sorted(out)[-1]
        assert out[e]  # a non-empty epoch
        del out[e]
        dropped.append(e)
        return out

    monkeypatch.setattr(ParquetLakeTable, "probe_epochs", lossy)
    got, engine = engine_rows(spark, events, tmp_path, "lossy")
    assert dropped and got == oracle_rows(events)
    res = {r.epoch_id: r for r in engine.results}[dropped[0]]
    assert res.merge.rows_applied > 0 and res.merge.buckets_touched > 0
    events.unpersist()


def test_grouped_probe_skips_committed_epochs(spark, tmp_path, monkeypatch):
    events = change_events(spark, CASES["updates"]).cache()
    lake = ParquetLakeTable(spark, str(tmp_path / "resume"), n_buckets=8)
    engine = CdcEngine(lake=lake)
    engine.apply_epochs(events, epoch_ids=[0, 1])
    orig = ParquetLakeTable.probe_epochs
    probed = []

    def spy(self, pdf, epoch_col="epoch_id", *a, **kw):
        probed.append(sorted(r[0] for r in pdf.select(epoch_col).distinct().collect()))
        return orig(self, pdf, epoch_col, *a, **kw)

    monkeypatch.setattr(ParquetLakeTable, "probe_epochs", spy)
    engine.apply_epochs(events)
    assert probed == [[2]]
    # a replay with every epoch committed runs no grouped probe at all
    engine.apply_epochs(events)
    assert probed == [[2]]
    rows = sorted(tuple(r) for r in lake.read().select(*COLS).collect())
    assert rows == oracle_rows(events)
    events.unpersist()


def test_retried_epoch_writes_its_rejects_once(spark, tmp_path, monkeypatch):
    """An epoch whose commit fails after its DLQ write ran is re-run: the
    DLQ holds its rejects once, not once per attempt."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            {"conv_id": f"c{i}", "turn_idx": 0, "lsn": i + 1, "op": "U",
             "text": None if i % 3 == 0 else f"t{i}", "role": "user",
             "tool": None, "epoch_id": 0}
            for i in range(12)
        ],
        "conv_id string, turn_idx int, lsn long, op string, text string, "
        "role string, tool string, epoch_id long",
    )
    dlq = str(tmp_path / "dlq")
    lake = ParquetLakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    engine = CdcEngine(lake=lake, quarantine_dir=dlq)
    orig = ParquetLakeTable._publish
    failed = []

    def flaky(self, commit, side_write=None):
        if not failed:
            failed.append(commit["seq"])
            side_write.result()  # the DLQ write has landed
            raise OSError("publish failed")
        return orig(self, commit, side_write)

    monkeypatch.setattr(ParquetLakeTable, "_publish", flaky)
    with pytest.raises(OSError, match="publish failed"):
        engine.apply_epoch(df, 0)
    assert spark.read.parquet(dlq).count() == 4
    res = engine.apply_epoch(df, 0)
    assert lake.committed_epochs() == {0}
    assert res.quarantined == 4 == spark.read.parquet(dlq).count()
    assert {r[0] for r in spark.read.parquet(dlq).select("_epoch_id").distinct().collect()} == {0}
    assert df.where(F.col("text").isNotNull()).count() == lake.read().count()


def test_reprocess_of_a_dlq_without_rejects_applies_an_empty_epoch(spark, tmp_path):
    """No epoch rejected a row, so the DLQ holds no partition: a repair
    pass still runs, as one empty epoch."""
    df = spark.createDataFrame(
        [{"conv_id": "a", "turn_idx": 0, "lsn": 1, "op": "U", "text": "ok",
          "role": "user", "tool": None, "epoch_id": 0}],
        "conv_id string, turn_idx int, lsn long, op string, text string, "
        "role string, tool string, epoch_id long",
    )
    lake = ParquetLakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    engine = CdcEngine(lake=lake, quarantine_dir=str(tmp_path / "dlq"))
    assert engine.apply_epoch(df, 0).quarantined == 0
    res = engine.reprocess_quarantine(lambda bad: bad, new_epoch_id=1)
    assert res.merge.rows_applied == 0 and res.quarantined == 0
    assert lake.committed_epochs() == {0, 1}
    assert [tuple(r) for r in lake.read().select("conv_id", "text").collect()] == [("a", "ok")]


def test_quarantine_reprocess(spark, tmp_path):
    """DLQ repair loop: null-text rows quarantine in epoch 0; a fix
    restores their text and reapplies them as a new epoch. A repaired
    event whose key was meanwhile superseded by a higher LSN loses LWW;
    one still broken re-quarantines; replaying the repair epoch is a
    no-op."""
    import pyspark.sql.functions as F

    ev = [
        # (conv, turn, lsn, op, text, epoch)
        ("a", 0, 1, "U", None, 0),        # quarantined (null text)
        ("a", 1, 2, "U", None, 0),        # quarantined, later superseded
        ("a", 1, 5, "U", "winner", 1),    # higher-LSN update in epoch 1
        ("b", 0, 3, "U", "fine", 1),
    ]
    df = spark.createDataFrame(
        [
            {"conv_id": c, "turn_idx": t, "lsn": l, "op": o, "text": x,
             "role": "user", "tool": None, "epoch_id": e}
            for c, t, l, o, x, e in ev
        ],
        "conv_id string, turn_idx int, lsn long, op string, text string, "
        "role string, tool string, epoch_id long",
    )
    lake = ParquetLakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    engine = CdcEngine(lake=lake, quarantine_dir=str(tmp_path / "dlq"))
    engine.apply_epochs(df, epoch_ids=[0, 1])

    state = {(r.conv_id, r.turn_idx): r.text for r in lake.read().collect()}
    assert state == {("a", 1): "winner", ("b", 0): "fine"}

    def fix(bad):
        # repair only conv a turn 0; leave turn 1 broken (still null text)
        return bad.withColumn(
            "text",
            F.when(F.col("turn_idx") == 0, F.lit("repaired")).otherwise(F.col("text")),
        )

    res = engine.reprocess_quarantine(fix, new_epoch_id=100, from_epochs=[0])
    assert not res.merge.skipped
    state = {(r.conv_id, r.turn_idx): r.text for r in lake.read().collect()}
    # (a,0) repaired and applied; (a,1)'s repair candidate kept null text →
    # re-quarantined, and the lsn-2 original could never beat lsn-5 anyway
    assert state == {("a", 0): "repaired", ("a", 1): "winner", ("b", 0): "fine"}

    # the still-broken row was re-quarantined under the repair epoch
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.where((F.col("_epoch_id") == 100) & (F.col("turn_idx") == 1)).count() == 1

    # replaying the repair epoch is a structural no-op
    res2 = engine.reprocess_quarantine(fix, new_epoch_id=100, from_epochs=[0])
    assert res2.merge.skipped
