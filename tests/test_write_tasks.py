"""The write stage of a copy-on-write bucket rewrite with no hot bucket
is sized to the session's shuffle partitions, not one task per touched
bucket; a rewrite with a hot bucket keeps one task per (bucket, salt).

Pinned here, in the test session (``shuffle_partitions=8``) on a
32-bucket table:

* the frame a CoW merge of cold buckets hands its commit writer
  partitions into at most 8 tasks — with one exchange on the window path —
  and so does ``compact``'s;
* every cold bucket is still exactly one file, and the state equals the
  sequential oracle's;
* with a hot bucket among the touched buckets, the exchange has one
  partition per (bucket, salt) group, the hot bucket fans out and every
  file is sorted on the merge key.
"""

from __future__ import annotations

import datetime
import os
import re

import pytest

import nifi_nlp_processor_spark.lake as lake_mod
from nifi_nlp_processor_spark.lake import ParquetLakeTable
from nifi_nlp_processor_spark.oracle import final_rows

N_BUCKETS = 32
_TS = datetime.datetime(2026, 1, 1)
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, lsn long, op string"


def _epoch(e):
    return [
        {"conv_id": f"c{i}", "turn_idx": t, "role": "user", "text": f"v{e}-{i}-{t}",
         "tool": None, "ts": _TS, "lsn": 1000 * e + 10 * i + t, "op": "U" if e else "I"}
        for i in range(120) for t in range(2)
    ]


def _hot_epoch(e):
    """``_epoch(e)`` plus 320 turns of one hot conversation. Its id is
    chosen so that its bucket's 8 salts hash into only 6 of the merge's 38
    partitions."""
    return _epoch(e) + [
        {"conv_id": "hot0", "turn_idx": t, "role": "user", "text": f"h{e}-{t}",
         "tool": None, "ts": _TS, "lsn": 100_000 * (e + 1) + t, "op": "U" if e else "I"}
        for t in range(320)
    ]


def _spy_commit(monkeypatch):
    """The frames ``_commit`` is handed, captured on their way in."""
    frames = []
    orig = ParquetLakeTable._commit

    def spy(self, prev, df, *args, **kwargs):
        frames.append(df)
        return orig(self, prev, df, *args, **kwargs)

    monkeypatch.setattr(ParquetLakeTable, "_commit", spy)
    return frames


def _exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan, re.findall(r"Exchange hashpartitioning\(.*?, (\d+)\)", plan)


def _bucket_files(lake):
    out = {}
    for b, ptr in lake.last_commit()["buckets"].items():
        d = os.path.join(lake.root, ptr["path"])
        out[int(b)] = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return out


@pytest.mark.parametrize("lww", ["window", "agg"])
def test_cow_rewrite_write_tasks_capped_at_shuffle_partitions(spark, monkeypatch, tmp_path, lww):
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    lake = ParquetLakeTable(spark, str(tmp_path / lww), n_buckets=N_BUCKETS)
    lake.merge_into(spark.createDataFrame(_epoch(0), SCHEMA), 0, lww=lww)
    frames = _spy_commit(monkeypatch)
    m = lake.merge_into(spark.createDataFrame(_epoch(1), SCHEMA), 1, lww=lww)
    # every bucket that holds rows is rewritten: far more buckets than tasks
    n_live = len(lake.last_commit()["buckets"])
    assert m.buckets_touched == n_live > 8 and len(frames) == 1

    plan, counts = _exchanges(frames[0])
    assert counts and all(int(c) <= 8 for c in counts), plan
    if lww == "window":
        # the window LWW and the write layout still share one exchange
        assert plan.count("Exchange") == 1, plan

    # a group never spans two tasks: one file per bucket, oracle state
    assert set(_bucket_files(lake).values()) == {1}
    want = final_rows(_epoch(0) + _epoch(1), COLS)
    raw = lake.read_raw().where("not _deleted").select(*COLS)
    assert sorted(tuple(r) for r in raw.collect()) == want

    assert lake.compact(min_files=1)["buckets_compacted"] == n_live
    plan_c, counts_c = _exchanges(frames[-1])
    assert plan_c.count("Exchange") == 1 and int(counts_c[0]) <= 8, plan_c
    assert set(_bucket_files(lake).values()) == {1}
    assert sorted(tuple(r) for r in lake.read().select(*COLS).collect()) == want


@pytest.mark.parametrize("lww", ["window", "agg"])
def test_hot_bucket_rewrite_keeps_one_task_per_salt(spark, monkeypatch, tmp_path, lww):
    """A hot bucket among far more touched buckets than shuffle partitions:
    the exchange keeps one partition per (bucket, salt) group, since it
    hashes (bucket, salt) and fewer partitions would crowd the hot
    bucket's salts onto fewer tasks beside the cold buckets. The hash can
    still put two of its salts in one task, which then writes one file for
    both; this fixture has such a pair, and that file must be key-sorted
    like every other."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(lake_mod, "ROWS_PER_WRITE_TASK", 40)
    monkeypatch.setattr(lake_mod, "MAX_WRITE_SALT", 8)
    lake = ParquetLakeTable(spark, str(tmp_path / lww), n_buckets=N_BUCKETS)
    lake.merge_into(spark.createDataFrame(_hot_epoch(0), SCHEMA), 0, lww=lww)
    frames = _spy_commit(monkeypatch)
    m = lake.merge_into(spark.createDataFrame(_hot_epoch(1), SCHEMA), 1, lww=lww)

    rows = {int(b): p["rows"] for b, p in lake.last_commit()["buckets"].items()}
    hot_b = max(rows, key=rows.get)
    assert rows[hot_b] >= 320 and m.buckets_touched == len(rows) > 8
    # 640 rows of the hot bucket at 40 per task: salt 8 (capped); cold: 1
    n_groups = len(rows) - 1 + 8
    assert n_groups == 38
    plan, counts = _exchanges(frames[0])
    assert str(n_groups) in counts, plan
    if lww == "window":
        assert plan.count("Exchange") == 1, plan

    files = _bucket_files(lake)
    assert all(n == 1 for b, n in files.items() if b != hot_b), files
    assert files[hot_b] == 6, files  # 8 salts in 6 files: some share one
    ptr = lake.last_commit()["buckets"][str(hot_b)]
    d = os.path.join(lake.root, ptr["path"])
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(d, f), columns=lake.key_cols).to_pylist()
            keys = [(r["conv_id"], r["turn_idx"]) for r in t]
            assert keys == sorted(keys), f

    want = final_rows(_hot_epoch(0) + _hot_epoch(1), COLS)
    raw = lake.read_raw().where("not _deleted").select(*COLS)
    assert sorted(tuple(r) for r in raw.collect()) == want
