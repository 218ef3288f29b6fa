"""A merge-on-read epoch folds a full delta chain inside its own write
(``CdcEngine.auto_compact_deltas`` = k, passed to ``merge_into`` as
``max_deltas``): every bucket whose non-empty chain holds at least k−1
deltas joins the batch's LWW resolution and is written as a new base.

Pinned here:

* with k = 2 and k = 4 a MoR replay ends in the same raw state and
  per-bucket watermarks as a copy-on-write replay and as a MoR replay
  compacted by hand with ``compact()`` whenever a chain reached k; no
  published manifest carries a chain of k deltas, every commit is an
  epoch (a fold publishes no maintenance commit);
* a bucket at k−1 deltas that the batch does not touch is folded, keeps
  its watermark and is written as one file, while time travel to the seq
  before the fold still reads the old chain;
* a fold across a schema change: old-schema base and delta files with a
  new-schema batch;
* a fold epoch whose publish fails once lands exactly once on retry;
* with k = 1 the fold never reads a bucket that holds no deltas.
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

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
N_EPOCHS = 6


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


def _raw(lake, at_seq=None):
    return sorted(tuple(r) for r in lake.read_raw(at_seq).collect())


def _state(lake):
    return sorted(tuple(r) for r in lake.read().select(*COLS).collect())


def _want(spark, rows):
    return final_rows([r.asDict() for r in _rows(spark, rows).collect()], COLS)


def _chains(commit):
    return {b: len(p.get("deltas", [])) for b, p in commit["buckets"].items()}


def _by_bucket(spark, convs, n_buckets):
    out: dict[int, list[str]] = {}
    for r in spark.createDataFrame([(c,) for c in convs], "conv_id string").select(
        "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    ).collect():
        out.setdefault(r[1], []).append(r[0])
    return {b: sorted(cs) for b, cs in out.items()}


def _epoch_files(lake, seq):
    """{bucket: parquet file count} of commit ``seq``'s data dir."""
    out = {}
    for d in glob.glob(os.path.join(lake.root, f"data/c{seq:08d}", "_b=*")):
        out[int(d.rsplit("=", 1)[1])] = len(glob.glob(os.path.join(d, "*.parquet")))
    return out


@pytest.fixture(scope="module")
def stream(spark):
    ev = change_events(
        spark,
        ChangeStreamSpec(
            n_conversations=40, update_frac=0.3, update2_frac=0.1, delete_frac=0.2,
            dup_frac=0.2, out_of_order=True, n_epochs=N_EPOCHS, seed=11,
        ),
    ).cache()
    yield ev
    ev.unpersist()


@pytest.fixture(scope="module")
def cow_lake(spark, stream, tmp_path_factory):
    lake = ParquetLakeTable(spark, str(tmp_path_factory.mktemp("cow")), n_buckets=8)
    CdcEngine(lake=lake).apply_epochs(stream)
    return lake


@pytest.mark.parametrize("k", [2, 4])
def test_fold_equals_cow_and_manual_compaction(spark, stream, cow_lake, tmp_path, k):
    folding = CdcEngine(
        lake=ParquetLakeTable(spark, str(tmp_path / "fold"), n_buckets=8),
        merge_mode="mor", auto_compact_deltas=k,
    )
    res = folding.apply_epochs(stream)
    # the same stream compacted by hand the way the inline policy used to:
    # a maintenance compact() after every epoch that left a chain of k
    manual = CdcEngine(
        lake=ParquetLakeTable(spark, str(tmp_path / "manual"), n_buckets=8),
        merge_mode="mor",
    )
    for e in range(N_EPOCHS):
        manual.apply_epoch(stream.where(F.col("epoch_id") == e), e)
        if max(_chains(manual.lake.last_commit()).values()) >= k:
            manual.lake.compact()

    assert _raw(folding.lake) == _raw(manual.lake) == _raw(cow_lake)
    assert (
        folding.lake.last_commit()["watermarks"]
        == manual.lake.last_commit()["watermarks"]
        == cow_lake.last_commit()["watermarks"]
    )
    folds = [r.compacted for r in res if r.compacted]
    assert folds and all(f["buckets_compacted"] > 0 for f in folds)
    history = folding.lake.commit_history()
    # one commit per epoch, none of them maintenance
    assert [c["epoch_id"] for c in history] == list(range(N_EPOCHS))
    # chains fill up to k-1 and never further
    assert max(n for c in history for n in _chains(c).values()) == k - 1


def test_untouched_bucket_at_bound_folds_in_place(spark, tmp_path):
    n = 4
    groups = _by_bucket(spark, [f"c{i}" for i in range(40)], n)
    assert len(groups) == n
    a, b = sorted(groups)[:2]
    lake = ParquetLakeTable(spark, str(tmp_path / "u"), n_buckets=n)
    engine = CdcEngine(lake=lake, merge_mode="mor", auto_compact_deltas=2)
    e0 = [(c, 0, i + 1, "I", "v0", 0) for i, c in enumerate(sum(groups.values(), []))]
    e1 = [(c, t, 100 + 10 * i + t, "U", "v1", 1) for i, c in enumerate(groups[a]) for t in range(2)]
    e2 = [(c, 0, 1000 + i, "U", "v2", 2) for i, c in enumerate(groups[b])]
    engine.apply_epoch(_rows(spark, e0), 0)
    engine.apply_epoch(_rows(spark, e1), 1)
    before = lake.last_commit()
    assert _chains(before) == {str(x): int(x == a) for x in range(n)}
    old_raw, old_live = _raw(lake), sorted(lake.read().collect())

    # epoch 2 touches only bucket b; bucket a sits at k-1 = 1 delta
    res = engine.apply_epoch(_rows(spark, e2), 2)
    head = lake.last_commit()
    assert res.compacted == {"buckets_compacted": 1}
    assert _chains(head) == {str(x): int(x == b) for x in range(n)}
    assert head["buckets"][str(a)]["path"] == f"data/c{head['seq']:08d}/_b={a}"
    assert head["watermarks"][str(a)] == before["watermarks"][str(a)]
    # the folded cold bucket is one file, as is b's delta
    assert _epoch_files(lake, head["seq"]) == {a: 1, b: 1}
    # buckets neither touched nor folded keep their pointers
    for x in set(map(str, range(n))) - {str(a), str(b)}:
        assert head["buckets"][x] == before["buckets"][x]
    # rows written: bucket a's whole rewrite plus b's delta
    assert res.merge.rows_applied == (
        head["buckets"][str(a)]["rows"] + head["buckets"][str(b)]["deltas"][0]["rows"]
    ) == 2 * len(groups[a]) + len(groups[b])
    assert _state(lake) == _want(spark, e0 + e1 + e2)
    # time travel to the seq before the fold reads the old chain
    assert _chains(lake.commit_at(before["seq"]))[str(a)] == 1
    assert _raw(lake, before["seq"]) == old_raw
    assert sorted(lake.read(at_seq=before["seq"]).collect()) == old_live
    assert lake.fsck()["ok"]


def test_fold_across_schema_change(spark, tmp_path):
    e0 = [(f"c{i}", 0, i + 1, "I", "v0", 0) for i in range(12)]
    e1 = [(f"c{i}", 0, 100 + i, "U", "v1", 1) for i in range(12)]
    e2 = [(f"c{i}", 1, 200 + i, "I", "v2", 2) for i in range(0, 12, 2)]
    e2 += [("c1", 0, 250, "U", "v2", 2)]

    def batches():
        yield _rows(spark, e0)
        yield _rows(spark, e1)
        yield _rows(spark, e2).withColumn("score", F.col("lsn") / 10)

    lakes, res = {}, {}
    for mode in ("mor", "cow"):
        lakes[mode] = ParquetLakeTable(spark, str(tmp_path / mode), n_buckets=2)
        engine = CdcEngine(lake=lakes[mode], merge_mode=mode, auto_compact_deltas=2)
        res[mode] = [engine.apply_epoch(df, e) for e, df in enumerate(batches())]
    mor = lakes["mor"]
    assert res["mor"][-1].compacted == {"buckets_compacted": 2}
    assert res["cow"][-1].compacted is None  # a CoW merge never folds
    head = mor.last_commit()
    assert head["schema_version"] == 2
    # both buckets held one delta: both folded, old-schema files included
    before = mor.commit_at(head["seq"] - 1)
    assert {p["schema"] for p in before["buckets"].values()} == {"v0001.json"}
    assert all(n == 1 for n in _chains(before).values())
    assert _chains(head) == {"0": 0, "1": 0}
    assert {p["schema"] for p in head["buckets"].values()} == {head["schema"]}
    assert _raw(mor) == _raw(lakes["cow"])
    scores = {(r.conv_id, r.turn_idx): r.score for r in mor.read().collect()}
    assert scores[("c0", 1)] == pytest.approx(20.0)
    assert scores[("c1", 0)] == pytest.approx(25.0)
    assert scores[("c2", 0)] is None


def test_fold_epoch_retried_after_failed_publish_lands_once(spark, tmp_path, monkeypatch):
    lake = ParquetLakeTable(spark, str(tmp_path / "r"), n_buckets=4)
    engine = CdcEngine(lake=lake, merge_mode="mor", auto_compact_deltas=2)
    e0 = [(f"c{i}", 0, i + 1, "I", "v0", 0) for i in range(20)]
    e1 = [(f"c{i}", 0, 100 + i, "U", "v1", 1) for i in range(20)]
    e2 = [(f"c{i}", 1, 200 + i, "I", "v2", 2) for i in range(0, 20, 3)]
    engine.apply_epoch(_rows(spark, e0), 0)
    engine.apply_epoch(_rows(spark, e1), 1)
    at_bound = sum(_chains(lake.last_commit()).values())
    assert at_bound > 0

    orig = ParquetLakeTable._publish
    failed = []

    def flaky(self, commit, side_write=None):
        if not failed:
            failed.append(commit["seq"])
            raise OSError("publish failed")
        return orig(self, commit, side_write)

    monkeypatch.setattr(ParquetLakeTable, "_publish", flaky)
    with pytest.raises(OSError, match="publish failed"):
        engine.apply_epoch(_rows(spark, e2), 2)
    assert lake.committed_epochs() == {0, 1}
    res = engine.apply_epoch(_rows(spark, e2), 2)
    assert res.compacted == {"buckets_compacted": at_bound}
    assert engine.apply_epoch(_rows(spark, e2), 2).merge.skipped
    history = lake.commit_history()
    assert [c["epoch_id"] for c in history] == [0, 1, 2]
    assert history[-1]["seq"] == failed[0]
    assert all(n == 0 for n in _chains(history[-1]).values())
    assert _state(lake) == _want(spark, e0 + e1 + e2)
    report = lake.fsck()
    assert report["ok"] and report["dead_orphan_dirs"] == []


def test_k1_fold_never_reads_a_delta_free_bucket(spark, tmp_path, monkeypatch):
    n = 4
    groups = _by_bucket(spark, [f"c{i}" for i in range(40)], n)
    a, b = sorted(groups)[:2]
    lake = ParquetLakeTable(spark, str(tmp_path / "k1"), n_buckets=n)
    engine = CdcEngine(lake=lake, merge_mode="mor", auto_compact_deltas=1)
    e0 = [(c, 0, i + 1, "I", "v0", 0) for i, c in enumerate(sum(groups.values(), []))]
    engine.apply_epoch(_rows(spark, e0), 0)

    reads: list[str] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(p for p in paths if p.startswith(lake.root))
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    e1 = [(c, 0, 100 + i, "U", "v1", 1) for i, c in enumerate(groups[a])]
    res = engine.apply_epoch(_rows(spark, e1), 1)
    # no bucket held a delta: nothing read, bucket a gains its first delta
    assert reads == [] and res.compacted is None
    chain = lake.last_commit()["buckets"][str(a)]
    e2 = [(c, 0, 200 + i, "U", "v2", 2) for i, c in enumerate(groups[b])]
    res = engine.apply_epoch(_rows(spark, e2), 2)
    # only bucket a (one delta) is read and folded; b's base is never read
    assert sorted(reads) == sorted(
        os.path.join(lake.root, p["path"]) for p in ParquetLakeTable._ptr_parts(chain)
    )
    assert res.compacted == {"buckets_compacted": 1}
    assert _chains(lake.last_commit()) == {str(x): int(x == b) for x in range(n)}
    monkeypatch.undo()
    assert _state(lake) == _want(spark, e0 + e1 + e2)
