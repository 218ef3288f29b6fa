"""Exact batch counts in every copy-on-write manifest, with no job of
their own, and the refusal of a DLQ written in the layout from before
per-epoch partitions.

Pinned here:

* a CoW replay with duplicate deliveries, same-key conflicts and
  malformed rows records ``rows_in_batch`` and ``keys_in_batch`` in each
  commit manifest, equal to a pure-Python count over the epoch's valid
  rows — on both LWW paths;
* the counts add no Spark job: the replay runs the same number of jobs
  under its job group as before they were filled (pinned);
* a MoR delta write keeps reporting -1 for both;
* a DLQ root holding parquet files refuses the first DLQ write and
  ``reprocess_quarantine`` with a ``ValueError`` that names the upgrade.
"""

from __future__ import annotations

import datetime

import pytest

from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.runner import CdcEngine

_TS = datetime.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, lsn long, op string, epoch_id long"
)
# the jobs a two-epoch CoW replay with a DLQ runs under its job group (the
# grouped probe, then per epoch the DLQ write and the merge's write jobs;
# the agg path's second exchange adds a map-stage job per epoch), counted
# before the batch counts were filled
REPLAY_JOBS = {"window": 8, "agg": 10}


def _epochs():
    """Two epochs: (conv_id, turn_idx, lsn, op, text, epoch_id)."""
    e0 = [(f"c{i}", t, 100 + 10 * i + t, "I", f"v{i}-{t}", 0) for i in range(12) for t in range(3)]
    e0 += [
        ("c0", 0, 100, "I", "v0-0", 0),  # exact re-delivery
        ("c1", 1, 500, "U", "c1-newer", 0),  # same-key conflict in the batch
        (None, 0, 600, "I", "no conv", 0),  # malformed: null key
        ("c2", 0, None, "U", "no lsn", 0),  # malformed: null lsn
        ("c3", 0, 601, "X", "bad op", 0),  # malformed: bad op
    ]
    e1 = [(f"c{i}", 0, 1000 + i, "U", f"w{i}", 1) for i in range(0, 12, 2)]
    e1 += [
        ("c4", 0, 1004, "U", "w4", 1),  # exact re-delivery
        ("c5", 2, 50, "U", "stale", 1),  # loses to the stored lsn
        ("c6", 1, 1100, "D", None, 1),  # delete
        ("c7", 0, 1101, "U", None, 1),  # malformed: null text
        ("c9", None, 1102, "U", "no turn", 1),  # malformed: null turn
    ]
    return [e0, e1]


def _valid(rows):
    return [
        r for r in rows
        if r[0] is not None and r[1] is not None and r[2] is not None
        and r[3] in ("I", "U", "D") and (r[3] == "D" or r[4] is not None)
    ]


def _df(spark, rows):
    return spark.createDataFrame(
        [
            {"conv_id": c, "turn_idx": t, "role": "user", "text": x,
             "tool": None, "ts": _TS, "lsn": l, "op": o, "epoch_id": e}
            for c, t, l, o, x, e in rows
        ],
        SCHEMA,
    )


@pytest.mark.parametrize("lww", ["window", "agg"])
def test_cow_manifests_hold_exact_batch_counts_without_a_job(spark, tmp_path, lww):
    epochs = _epochs()
    engine = CdcEngine(
        lake=ParquetLakeTable(spark, str(tmp_path / "lk"), n_buckets=8),
        quarantine_dir=str(tmp_path / "dlq"), lww_strategy=lww,
    )
    sc = spark.sparkContext
    group = f"cow-counts-{lww}"
    sc.setJobGroup(group, "CoW replay with batch counts")
    try:
        res = engine.apply_epochs(_df(spark, epochs[0] + epochs[1]), epoch_ids=[0, 1])
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert [r.quarantined for r in res] == [3, 2]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == REPLAY_JOBS[lww]

    metrics = [c["metrics"] for c in engine.lake.commit_history()]
    assert [m["epoch_id"] for m in metrics] == [0, 1]
    for m, rows in zip(metrics, epochs):
        valid = _valid(rows)
        assert m["rows_in_batch"] == len(valid)
        assert m["keys_in_batch"] == len({(r[0], r[1]) for r in valid})
    assert metrics[0]["rows_in_batch"] == 38 and metrics[0]["keys_in_batch"] == 36


def test_mor_delta_keeps_unknown_batch_counts(spark, tmp_path):
    epochs = _epochs()
    engine = CdcEngine(
        lake=ParquetLakeTable(spark, str(tmp_path / "lk"), n_buckets=4), merge_mode="mor"
    )
    engine.apply_epochs(_df(spark, epochs[0] + epochs[1]), epoch_ids=[0, 1])
    first, delta = (c["metrics"] for c in engine.lake.commit_history())
    # the first merge into an empty table probes, so it counts exactly
    assert first["rows_in_batch"] == len(_valid(epochs[0]))
    assert delta["rows_in_batch"] == delta["keys_in_batch"] == -1


def test_pre_partition_dlq_layout_refused_at_both_call_sites(spark, tmp_path):
    dlq = str(tmp_path / "dlq")
    # the old layout: parquet files at the root, _epoch_id a column
    _df(spark, [("c0", 0, None, "U", "no lsn", 0)]).withColumnRenamed(
        "epoch_id", "_epoch_id"
    ).write.parquet(dlq)
    lake = ParquetLakeTable(spark, str(tmp_path / "lk"), n_buckets=4)
    engine = CdcEngine(lake=lake, quarantine_dir=dlq)
    with pytest.raises(ValueError, match=r"unsupported.*_epoch_id=<n>/"):
        engine.apply_epoch(_df(spark, [("c1", 0, 5, "I", "v", 1)]), 1)
    assert lake.committed_epochs() == set()
    with pytest.raises(ValueError, match=r"unsupported.*_epoch_id=<n>/"):
        engine.reprocess_quarantine(lambda df: df, new_epoch_id=2)
    assert lake.committed_epochs() == set()
